package graft

import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Path}
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.{FileSource, FileSync, XlsxIngest}

/** Top-level (not an inner class: closures over a spec instance don't
  * serialize) counting source for the executor-side-fetch proof: every
  * fetch must run inside a Spark task and bumps the accumulator. */
private class CountingSource(entries: Seq[FileSource.Entry],
                             acc: org.apache.spark.util.LongAccumulator)
    extends FileSource {
  def list(): Seq[FileSource.Entry] = entries
  def fetch(name: String): Array[Byte] = {
    if (org.apache.spark.TaskContext.get() == null)
      throw new IllegalStateException(s"fetch($name) ran on the driver")
    acc.add(1)
    s"payload:$name".getBytes("UTF-8")
  }
}

/** A fixed listing; the gate never fetches. */
private class ListedSource(entries: Seq[(String, Instant)]) extends FileSource {
  def list(): Seq[FileSource.Entry] =
    entries.map { case (n, t) => FileSource.Entry(n, t) }
  def fetch(name: String): Array[Byte] =
    throw new UnsupportedOperationException(name)
}

/** Drives the reference's SharePoint watermark loop end-to-end against
  * a local FileSource: list → gate on last-modified vs the processed
  * log (the log's max mtime, bootstrap included) → fetch →
  * parse (xlsx payloads through XlsxIngest) → append the log →
  * re-run is a no-op. */
class FileSyncSpec extends GraftSuite {
  import spark.implicits._

  private val t0 = Instant.parse("2026-01-01T00:00:00Z")
  private def at(hours: Long) = t0.plusSeconds(hours * 3600)

  private def touch(dir: Path, name: String, ts: Instant,
                    body: String = "x"): Unit = {
    val f = dir.resolve(name)
    Files.writeString(f, body)
    Files.setLastModifiedTime(f, FileTime.from(ts))
  }

  private def emptyLog =
    Seq.empty[(String, java.sql.Timestamp)].toDF("name", "last_modified")

  test("bootstrap pulls everything; watermark gates the second run") {
    val dir = Files.createTempDirectory("sync")
    touch(dir, "a.csv", at(1), "id,v\n1,10\n")
    touch(dir, "b.csv", at(2), "id,v\n2,20\n")
    val src = new FileSource.Local(dir, suffix = ".csv")

    // first run: empty log → full folder (the NULL-watermark bootstrap)
    val pull1 = FileSync.fetchNew(spark, src, emptyLog)
    assert(pull1.select("name").as[String].collect().sorted
      .toSeq == Seq("a.csv", "b.csv"))

    // append the log; nothing new → second run is empty
    val log1 = FileSync.logEntries(pull1)
    assert(FileSync.fetchNew(spark, src, log1).isEmpty)

    // a newer drop arrives → only it passes the gate
    touch(dir, "c.csv", at(3), "id,v\n3,30\n")
    val pull2 = FileSync.fetchNew(spark, src, log1)
    assert(pull2.select("name").as[String].collect().toSeq == Seq("c.csv"))
    assert(new String(pull2.select("content")
      .as[Array[Byte]].head()).contains("3,30"))

    // equal-to-watermark files do NOT re-pull (strict >, as the
    // reference's gate)
    val log2 = log1.union(FileSync.logEntries(pull2))
    assert(FileSync.fetchNew(spark, src, log2).isEmpty)
  }

  test("newEntries matches the Snapshot.newerThan gate it replaced") {
    // the gate newEntries used to build: a broadcast join of the
    // listing against the log's max last_modified
    def reference(src: FileSource, log: DataFrame) =
      graft.etl.Snapshot.newerThan(
        spark.createDataFrame(src.list().map(e =>
          (e.name, java.sql.Timestamp.from(e.lastModified))))
          .toDF("name", "last_modified"),
        col("last_modified"), log, col("last_modified"))
    def check(src: FileSource, log: DataFrame, expect: Seq[String]): Unit = {
      val got = FileSync.newEntries(spark, src, log)
      val ref = reference(src, log)
      assert(got.schema == ref.schema)
      assert(got.collect().map(_.toString).sorted.toSeq ==
        ref.collect().map(_.toString).sorted.toSeq)
      assert(got.select("name").as[String].collect().sorted.toSeq == expect)
    }
    def logAt(ts: Instant*) = ts.zipWithIndex
      .map { case (t, i) => (s"old$i", java.sql.Timestamp.from(t)) }
      .toDF("name", "last_modified")
    val wm = at(5)
    // sub-millisecond mtimes: nanos truncate to Spark's microseconds
    // before the strict > compare
    val src = new ListedSource(Seq(
      "before" -> wm.minusNanos(1000),
      "equal" -> wm,
      "equal_sub_micro" -> wm.plusNanos(999),
      "one_micro" -> wm.plusNanos(1000),
      "sub_milli" -> wm.plusNanos(250000),
      "later" -> at(6)))
    // empty log: everything passes
    check(src, emptyLog, Seq("before", "equal", "equal_sub_micro", "later",
      "one_micro", "sub_milli"))
    // equal-mtime boundary: strict >, at microsecond precision
    check(src, logAt(at(1), wm), Seq("later", "one_micro", "sub_milli"))
    // a sub-millisecond watermark
    check(src, logAt(wm.plusNanos(250000)), Seq("later"))
    // a log built from Instants, collected as Instants (java8 API)
    val instantLog = Seq(("old", wm.plusNanos(1000))).toDF("name", "last_modified")
    val key = "spark.sql.datetime.java8API.enabled"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      check(src, instantLog, Seq("later", "sub_milli"))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    check(src, instantLog, Seq("later", "sub_milli"))
  }

  test("payload fetch runs on executors, never the driver") {
    val acc = spark.sparkContext.longAccumulator("fetches")
    val names = (1 to 7).map(i => f"f$i%02d.bin")
    val src = new CountingSource(
      names.zipWithIndex.map { case (n, i) => FileSource.Entry(n, at(i + 1)) },
      acc)
    val pulled = FileSync.fetchNew(spark, src, emptyLog)
    // materialize; the driver holds no payload array at any point —
    // CountingSource.fetch throws if invoked outside a task
    val got = pulled.select("name", "content")
      .as[(String, Array[Byte])].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == names)
    assert(got.forall { case (n, b) => new String(b, "UTF-8") == s"payload:$n" })
    assert(acc.value == names.size)
  }

  test("fetchNew pulls each payload exactly once across multiple actions") {
    val acc = spark.sparkContext.longAccumulator("fetches")
    val names = (1 to 5).map(i => f"g$i%02d.bin")
    val src = new CountingSource(
      names.zipWithIndex.map { case (n, i) => FileSource.Entry(n, at(i + 1)) },
      acc)
    val pulled = FileSync.fetchNew(spark, src, emptyLog)
    // the loop's shape: land (action 1) then derive + append the log
    // (action 2). An unpersisted RDD-backed frame would re-run
    // source.fetch on the second action — doubling connector IO and
    // racing remote deletes; fetchNew materializes once at call time.
    assert(pulled.count() == names.size)                        // "land"
    assert(FileSync.logEntries(pulled).count() == names.size)   // "append log"
    assert(pulled.select("content").as[Array[Byte]].collect().length == 5)
    assert(acc.value == names.size,
      s"expected ${names.size} fetches total, saw ${acc.value}")
    pulled.unpersist()
  }

  test("same-mtime drop between maxFiles and hardMaxFiles drains in one pull") {
    val dir = Files.createTempDirectory("sync")
    // 5 files sharing one mtime (a bulk copy), plus 2 later singles
    (1 to 5).foreach(i => touch(dir, s"bulk$i.csv", at(1)))
    touch(dir, "late1.csv", at(2))
    touch(dir, "late2.csv", at(3))
    val src = new FileSource.Local(dir, suffix = ".csv")

    // pull 1: maxFiles=2 lands inside the shared mtime → the cut
    // extends to the whole 5-file timestamp (splitting it would strand
    // the remainder behind the strict > watermark), under hardMax
    val pull1 = FileSync.fetchNew(spark, src, emptyLog,
      maxFiles = 2, hardMaxFiles = 6)
    assert(pull1.select("name").as[String].collect().sorted.toSeq ==
      (1 to 5).map(i => s"bulk$i.csv"))
    // pull 2 picks up the stragglers; pull 3 is the empty fixpoint
    val log1 = FileSync.logEntries(pull1)
    val pull2 = FileSync.fetchNew(spark, src, log1,
      maxFiles = 2, hardMaxFiles = 6)
    assert(pull2.select("name").as[String].collect().sorted.toSeq ==
      Seq("late1.csv", "late2.csv"))
    val log2 = log1.union(FileSync.logEntries(pull2))
    assert(FileSync.fetchNew(spark, src, log2,
      maxFiles = 2, hardMaxFiles = 6).isEmpty)
  }

  test("hardMaxFiles fails loudly when a same-timestamp drop balloons the cut") {
    val dir = Files.createTempDirectory("sync")
    (1 to 5).foreach(i => touch(dir, s"bulk$i.csv", at(1)))
    val src = new FileSource.Local(dir, suffix = ".csv")
    // maxFiles=2 extends to the whole same-timestamp drop (5 files):
    // allowed under the default ceiling ...
    assert(FileSync.fetchNew(spark, src, emptyLog, maxFiles = 2).count() == 5)
    // ... but a hard ceiling below the extension throws instead of
    // silently pulling everything
    val e = intercept[IllegalArgumentException] {
      FileSync.fetchNew(spark, src, emptyLog, maxFiles = 2, hardMaxFiles = 3)
    }
    assert(e.getMessage.contains("hardMaxFiles"))
  }

  test("fetched xlsx payloads parse through XlsxIngest on executors") {
    val dir = Files.createTempDirectory("sync")
    // a real xlsx container (inline strings), built like XlsxIngestSpec
    val z = new java.util.zip.ZipOutputStream(
      Files.newOutputStream(dir.resolve("report.xlsx")))
    def put(e: String, b: String): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(e))
      z.write(b.getBytes("UTF-8")); z.closeEntry()
    }
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="a" xmlns:r="b"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships><Relationship Id="rId1" Type="w" Target="worksheets/sheet1.xml"/></Relationships>""")
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>emp</t></is></c><c r="B1"><v>7</v></c></row></sheetData></worksheet>""")
    z.close()
    Files.setLastModifiedTime(dir.resolve("report.xlsx"), FileTime.from(at(1)))

    val src = new FileSource.Local(dir, suffix = ".xlsx")
    val pulled = FileSync.fetchNew(spark, src, emptyLog)
    // distributed parse of the fetched payloads: the same parser the
    // binaryFile reader uses, applied per row on executors
    val parsed = pulled.select("name", "content").as[(String, Array[Byte])]
      .flatMap { case (n, bytes) =>
        XlsxIngest.parseWorkbook(bytes).map {
          case (sheet, _, idx, cells) => (n, sheet, idx, cells)
        }
      }.toDF("name", "sheet", "row_idx", "cells")
    val row = parsed.head()
    assert(row.getString(1) == "S" && row.getLong(2) == 1L)
    assert(row.getSeq[String](3) == Seq("emp", "7"))
  }
}
