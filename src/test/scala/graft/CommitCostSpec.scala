package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.types._

import graft.etl.VersionStore
import graft.io.{CsvIngest, DataSkipping, Tables}

/** A daily drop's commit carries no fixed per-file cost: a drop of a
  * few small files is cleansed in one task and committed as one file,
  * and the store writes set file modes without starting a process. */
class CommitCostSpec extends GraftSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("rec_id", LongType), StructField("dept_id", LongType),
    StructField("unit", StringType), StructField("note", StringType)))
  private val opts = CsvIngest.Options(keyCols = Seq("rec_id", "dept_id"),
    repairBareNewlines = true)

  /** A CRLF census file of `rows` records: a header, the header again
    * mid-file, a bare LF inside a quoted note, a comma inside a quoted
    * field and a null-key record. */
  private def censusFile(dir: JPath, k: Int, rows: Int): Unit = {
    val header = schema.fieldNames.mkString(",")
    val sb = new StringBuilder(header + "\r\n")
    (0 until rows).foreach { i =>
      if (i == rows / 2) sb ++= header + "\r\n"
      val rec = if (i == 1) "" else (k * 100000 + i).toString
      val note = i % 3 match {
        case 0 => "\"first line\nsecond line\""
        case 1 => "\"Bed 4, east wing\""
        case _ => s"note $i"
      }
      sb ++= s"$rec,${k * 10 + i % 7},U${i % 9},$note\r\n"
    }
    Files.write(dir.resolve(f"census_f$k%02d.csv"), sb.toString.getBytes("UTF-8"))
  }

  private def drop(name: String, files: Int, rowsPerFile: Int): JPath = {
    val dir = Files.createTempDirectory(name)
    (0 until files).foreach(censusFile(dir, _, rowsPerFile))
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("a small drop is cleansed in one task and committed as one file") {
    val dir = drop("smalldrop", 4, 16)
    assert(Files.list(dir).iterator.asScala.map(Files.size(_)).sum <
      Tables.wideTaskBytes)
    val all = CsvIngest.readCleansed(spark, dir.toString, schema, opts)
    assert(all.rdd.getNumPartitions == 1)
    // the packed read gives a per-file read's rows: headers dropped,
    // bare newlines repaired, null keys dropped
    val perFile = Files.list(dir).iterator.asScala.toSeq.sortBy(_.toString)
      .map(f => CsvIngest.readCleansed(spark, f.toString, schema, opts))
      .reduce(_ union _)
    val got = rows(all)
    assert(got == rows(perFile))
    assert(got.size == 4 * 15)
    assert(all.where($"note" === "first line second line").count() == 4 * 6)
    val root = Files.createTempDirectory("smalldrop_store").toString
    VersionStore.write(all, root)
    val parts = new java.io.File(s"$root/v=0").list()
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.length == 1, parts.mkString(","))
    assert(rows(VersionStore.latest(spark, root)) == got)
  }

  test("a drop past cores x the floor keeps one task per file") {
    val cores = spark.sparkContext.defaultParallelism
    // each file alone holds more than cores × floor / files bytes
    val perFile = cores * Tables.wideTaskBytes / 4 + 4096
    val dir = drop("largedrop", 4, (perFile / 20).toInt)
    val sizes = Files.list(dir).iterator.asScala.map(Files.size(_)).toSeq
    assert(sizes.forall(_ > perFile - 4096) &&
      sizes.sum > cores * Tables.wideTaskBytes)
    val scan = spark.read.format("binaryFile").load(dir.toString)
    assert(scan.rdd.getNumPartitions == 4)
    assert(CsvIngest.readCleansed(spark, dir.toString, schema, opts)
      .rdd.getNumPartitions == 4)
  }

  test("store writes start no chmod process and keep Hadoop's modes") {
    val root = Files.createTempDirectory("nofork").toString
    val frame = (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    // the daily commit is to an existing store: its root was made by
    // the first commit
    VersionStore.write(frame, s"$root/store")
    NoShellLocalFileSystem.during(spark) {
      // the failing filesystem is really in force for the session
      val conf = spark.sparkContext.hadoopConfiguration
      intercept[UnsupportedOperationException](
        new Path(root).getFileSystem(conf)
          .mkdirs(new Path(s"$root/probe"), FsPermission.getDirDefault))
      VersionStore.write(frame.repartition(2), s"$root/store")
      DataSkipping.writeSortedWithStats(frame, s"$root/skip", Seq("id"), 2,
        Seq("id"))
    }
    assert(rows(VersionStore.latest(spark, s"$root/store")) == rows(frame))
    assert(DataSkipping.statsCommitted(spark, s"$root/skip"))
    assert(rows(spark.read.parquet(s"$root/skip")) == rows(frame))

    val umask = FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)
    def mode(p: FsPermission) =
      PosixFilePermissions.fromString(p.applyUMask(umask).toString)
    def modeOf(p: JPath) = Files.getPosixFilePermissions(p)
    val written = Seq(s"$root/store/v=1", s"$root/skip", s"$root/skip/_filestats")
      .map(java.nio.file.Paths.get(_))
    written.foreach(d => assert(modeOf(d) == mode(FsPermission.getDirDefault), d))
    val files = written.flatMap(d => Files.list(d).iterator.asScala.filter { f =>
      val n = f.getFileName.toString
      n.startsWith("part-") || n.startsWith(".part-")
    })
    // data files and their .crc sidecars
    assert(files.count(_.getFileName.toString.endsWith(".crc")) ==
      files.size / 2 && files.size >= 8, files)
    files.foreach(f => assert(modeOf(f) == mode(FsPermission.getFileDefault), f))
  }

  test("a first commit creates the store root without a chmod process") {
    val root = Files.createTempDirectory("nofork_root").toString
    val frame = (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    NoShellLocalFileSystem.during(spark) {
      assert(VersionStore.write(frame, s"$root/store") == 0L)
      assert(VersionStore.tryCommit(frame, s"$root/occ", -1L) == Right(0L))
    }
    assert(rows(VersionStore.latest(spark, s"$root/store")) == rows(frame))
    assert(rows(VersionStore.latest(spark, s"$root/occ")) == rows(frame))
  }
}
