package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBridge

import graft.etl.VersionStore
import graft.io.FooterSchema

/** Counts the Spark jobs started under one job group — the group is
  * set on the test thread only, so jobs of other suites sharing the
  * session are not counted. */
private class GroupJobCounter(group: String) extends SparkListener {
  val jobs = new AtomicInteger
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(
        _.getProperty("spark.jobGroup.id") == group))
      jobs.incrementAndGet()
}

/** Store metadata is a driver-side lookup: version schemas come from
  * one footer ([[FooterSchema]]) and equal what Spark's inference
  * would return, and reading them starts no Spark job. */
class StoreMetadataSpec extends GraftSuite {
  import spark.implicits._

  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val counter = new GroupJobCounter(group)
    ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(counter)
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try {
      val out = body
      ListenerBridge.waitUntilEmpty(sc)
      (out, counter.jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(counter)
    }
  }

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A version mixing the types whose footer schema is easiest to get
    * wrong: decimal, timestamp (LTZ and NTZ), nested struct, arrays and
    * a map, plus a non-nullable column. */
  private def richFrame = spark.range(3).select(
    col("id"),
    (col("id") * 1.5).cast("decimal(12,3)").as("amt"),
    timestamp_micros(col("id") * 1000001L).as("ts"),
    timestamp_micros(col("id")).cast("timestamp_ntz").as("ts_ntz"),
    struct(col("id").cast("int").as("x"),
      array(col("id").cast("string"), lit("k")).as("tags")).as("nest"),
    array(struct(col("id").as("a"), lit(2.5).as("b"))).as("pairs"),
    map(lit("k"), col("id")).as("m"))

  test("pinned version schemas equal Spark's inferred schema") {
    val root = Files.createTempDirectory("vsmeta").toString
    VersionStore.write(Seq((1L, "a")).toDF("id", "x"), root)             // v0
    VersionStore.write(Seq((2L, 3.5)).toDF("id", "score"), root,
      evolve = true)                                                     // v1
    // v2: footerless (an external writer's empty commit): reads borrow
    // the donor v1's schema. The marker goes through the Hadoop local
    // FS, so a `._SUCCESS.crc` sidecar sits beside it — not data.
    graft.io.MarkerCommit.touch(s"$root/v=2/_SUCCESS", "")
    VersionStore.write(richFrame, root, evolve = true)                   // v3
    val inferred = (0 to 3).map(v =>
      if (v == 2) spark.read.parquet(s"$root/v=1").schema
      else spark.read.parquet(s"$root/v=$v").schema)
    (0 to 3).foreach { v =>
      assert(VersionStore.asOf(spark, root, v).schema == inferred(v),
        s"v$v schema")
    }
    assert(VersionStore.latest(spark, root).schema == inferred(3))
    assert(VersionStore.asOf(spark, root, 2).isEmpty)
    val ddl = VersionStore.history(spark, root).orderBy("version")
      .select("schema_ddl").as[String].collect().toSeq
    assert(ddl == Seq(inferred(0).toDDL, inferred(1).toDDL, "",
      inferred(3).toDDL))
    // history counts parquet data files, not checksum sidecars
    def parts(v: Int) = new java.io.File(s"$root/v=$v").list()
      .count(n => n.startsWith("part-") && n.endsWith(".parquet")).toLong
    assert(VersionStore.history(spark, root).orderBy("version")
      .select("n_files").as[Long].collect().toSeq == (0 to 3).map(parts))
    assert(parts(2) == 0L && parts(3) > 0L)
    // the pinned read returns the same rows as the inferred one
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(_.toString).toSeq
    assert(rows(VersionStore.latest(spark, root)) ==
      rows(spark.read.parquet(s"$root/v=3")))
    // the written footer really carried Spark's metadata (the pin, not
    // the fallback, produced the equalities above)
    val file = FooterSchema.dataFiles(
      fs(root).listStatus(new Path(s"$root/v=3")).toSeq).head
    assert(FooterSchema.recorded(spark.sparkContext.hadoopConfiguration,
      file).isDefined)
  }

  test("latest, asOf, history and write's schema check start no Spark job") {
    val root = Files.createTempDirectory("vsjobs").toString
    VersionStore.write(Seq((1L, "a")).toDF("id", "x"), root)
    VersionStore.write(Seq((2L, "b")).toDF("id", "x"), root)
    val (_, readJobs) = jobsIn {
      VersionStore.latest(spark, root).schema
      VersionStore.asOf(spark, root, 0).schema
      VersionStore.history(spark, root).collect()
    }
    assert(readJobs == 0, s"metadata reads started $readJobs jobs")
    // a rejected write is all validation: zero jobs, nothing committed
    val (_, rejectJobs) = jobsIn {
      intercept[IllegalArgumentException](
        VersionStore.write(Seq((3L, "c", 1.0)).toDF("id", "x", "y"), root))
    }
    assert(rejectJobs == 0, s"schema validation started $rejectJobs jobs")
    // an accepted write of a local frame is the parquet write alone
    val (v, writeJobs) = jobsIn(
      VersionStore.write(Seq((3L, "c")).toDF("id", "x"), root))
    assert(v == 2L && writeJobs == 1, s"write started $writeJobs jobs")
  }

  test("a footer without Spark's row metadata falls back to inference") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val root = Files.createTempDirectory("vsforeign").toString
    val vdir = s"$root/v=0"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); }")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$vdir/part-0.parquet"))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1L -> "a", 2L -> "b").foreach { case (id, n) =>
      writer.write(groups.newGroup().append("id", id).append("name", n))
    } finally writer.close()
    Files.writeString(java.nio.file.Paths.get(vdir, "_SUCCESS"), "")

    val file = FooterSchema.dataFiles(
      fs(vdir).listStatus(new Path(vdir)).toSeq).head
    assert(FooterSchema.recorded(spark.sparkContext.hadoopConfiguration,
      file).isEmpty)
    val inferred = spark.read.parquet(vdir).schema
    assert(FooterSchema.read(spark, vdir).schema == inferred)
    val latest = VersionStore.latest(spark, root)
    assert(latest.schema == inferred)
    assert(latest.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 2L -> "b"))
  }

  test("a partitioned directory falls back to inference, partition columns kept") {
    val dir = Files.createTempDirectory("fsparts").toString + "/t"
    Seq((1L, "a", 7), (2L, "b", 8)).toDF("id", "x", "k")
      .write.partitionBy("k").parquet(dir)
    val pinned = FooterSchema.read(spark, dir)
    assert(pinned.schema == spark.read.parquet(dir).schema)
    assert(pinned.columns.toSeq == Seq("id", "x", "k"))
  }
}
