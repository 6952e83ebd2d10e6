package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{Batching, Compaction}
import graft.io.CsvIngest
import graft.util.{Notify, Retry}

class InfraSpec extends GraftSuite {

  // ---------------- Retry ----------------

  test("withRetry returns first success") {
    var calls = 0
    val r = Retry.withRetry(Retry.Policy(maxAttempts = 3)) {
      calls += 1
      if (calls < 2) sys.error("boom") else 42
    }
    assert(r == Right(42) && calls == 2)
  }

  test("withRetry accumulates every attempt's error on exhaustion") {
    val r = Retry.withRetry(Retry.Policy(maxAttempts = 3)) {
      sys.error("always")
    }
    assert(r.isLeft && r.left.exists(_.size == 3))
  }

  test("postWithDegradation splits a failed batch into singletons") {
    // items >= 100 always fail; a batch fails if ANY item fails —
    // the reference's exact recovery ladder
    def post(items: Seq[Int]): Unit =
      if (items.exists(_ >= 100)) sys.error(s"reject ${items.mkString(",")}")
    val out = Retry.postWithDegradation(
      Seq(Seq(1, 2, 3), Seq(4, 100, 5), Seq(101, 102)),
      Retry.Policy(maxAttempts = 2))(post)
    assert(out.wholeBatches == 1)
    assert(out.salvagedItems == Vector(4, 5))
    assert(out.failedItems.map(_._1) == Vector(100, 101, 102))
    assert(!out.fullySucceeded && out.allErrors.size == 3)
  }

  // ---------------- Tables.documentsWide width (r19) ----------------

  test("documentsWide sizes the redistribution to work, not cores") {
    // an under-split single-file table big enough that the 64 KB/task
    // floor yields a width strictly between 1 and the core count —
    // the repartition must use THAT width, not defaultParallelism
    val dir = Files.createTempDirectory("graft_wide_test").toString
    spark.range(700).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 8).map(k =>
          md5(concat(col("id").cast("string"), lit(k)))): _*).as("text"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(p).filter(f => f.isFile &&
      !f.getPath.getName.startsWith("_")).map(_.getLen).sum
    val cores = spark.sparkContext.defaultParallelism
    // the floor the accessor itself reads (SPARK_GRAFT_WIDE_TASK_BYTES)
    val floor = graft.io.Tables.wideTaskBytes
    val expect = math.max(1L,
      math.min(cores.toLong, (bytes + floor - 1) / floor)).toInt
    assume(bytes > floor && expect < cores,
      s"corpus came out $bytes bytes — resize the generator")
    val wide = graft.io.Tables(spark, dir).documentsWide
    assert(wide.rdd.getNumPartitions == expect,
      s"width should be ceil($bytes/$floor)=$expect, not cores=$cores")
  }

  test("a malformed or non-positive wide-task floor fails early, named") {
    import graft.io.Tables.positiveLong
    val name = "SPARK_GRAFT_WIDE_TASK_BYTES"
    assert(positiveLong(name, None, 65536L) == 65536L)
    assert(positiveLong(name, Some("4096"), 65536L) == 4096L)
    Seq("64k", "", "0", "-5", "1e6", "99999999999999999999").foreach { v =>
      val e = intercept[IllegalArgumentException](
        positiveLong(name, Some(v), 65536L))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$v'"),
        e.getMessage)
    }
  }

  test("documentsWide is a no-op when one task's work fits the floor") {
    // sf0.001 documents is a few KB: est=1 splits, width=1 — the
    // accessor must return the scan untouched (no exchange)
    val t = graft.io.Tables(spark, sfDir)
    assert(t.documentsWide.rdd.getNumPartitions ==
      t.documents.rdd.getNumPartitions)
  }

  // ---------------- Notify ----------------

  test("failureBody escapes HTML and tabulates errors") {
    val body = Notify.failureBody("census", 20260101120000L,
      Seq("file<1>.csv" -> "bad \"quote\""))
    assert(body.contains("file&lt;1&gt;.csv"))
    assert(body.contains("bad &quot;quote&quot;"))
    assert(body.contains("<table") && body.contains("RUN_ID: 20260101120000"))
  }

  test("RecordingMailer captures instead of sending") {
    val m = new Notify.RecordingMailer
    m.send(Seq("ops@example.com"), "fail", Notify.successBody("p", 1L, 10L))
    assert(m.sent.size == 1 && m.sent.head._2 == "fail")
  }

  // ---------------- CsvIngest ----------------

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("amt", LongType)))

  private def tmpCsv(lines: String*): String = {
    val dir = Files.createTempDirectory("graft_csv")
    val f = dir.resolve("part.csv")
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  test("read applies schema and drops null-key rows") {
    val p = tmpCsv("id,name,amt", "1,acme,10", ",orphan,20", "3,zeta,30")
    val df = CsvIngest.read(spark, p, schema,
      CsvIngest.Options(keyCols = Seq("id")))
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("readCleansed strips quotes/commas inside fields and the header") {
    val p = tmpCsv("id,name,amt", "1,\"acme, inc\",10", "2,plain,20")
    val df = CsvIngest.readCleansed(spark, p, schema)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "acme inc") // comma + quotes removed
    assert(rows(1).getString(1) == "plain" && rows(1).getLong(2) == 20L)
  }

  test("readCleansed repairs bare newlines in CRLF files and decodes cp-style bytes") {
    val dir = Files.createTempDirectory("graft_crlf")
    val f = dir.resolve("part.csv")
    // CRLF records; record 1 has an embedded bare \n inside a field
    // and a latin-1 é byte — both from the reference's cleansing cases
    Files.write(f, "id,name,amt\r\n1,café bro\nken,10\r\n2,plain,20\r\n"
      .getBytes("ISO-8859-1"))
    val df = CsvIngest.readCleansed(spark, f.toString, schema,
      CsvIngest.Options(encoding = "iso-8859-1", repairBareNewlines = true))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "café bro ken")
    assert(rows(1).getLong(2) == 20L)
  }

  test("auto encoding ingests UTF-8/UTF-16/cp1252 files to identical rows") {
    // the SAME content in five on-disk encodings — one mixed drop of
    // files ingests identically with zero per-file configuration
    val content = "id,name,amt\n1,café,10\n2,naïve — ok,20\n"
    val dir = Files.createTempDirectory("graft_auto_enc")
    def put(name: String, bytes: Array[Byte]): Unit =
      Files.write(dir.resolve(name), bytes)
    val bom8 = Array(0xEF, 0xBB, 0xBF).map(_.toByte)
    val bomLe = Array(0xFF, 0xFE).map(_.toByte)
    val bomBe = Array(0xFE, 0xFF).map(_.toByte)
    put("plain_utf8.csv", content.getBytes("UTF-8"))
    put("bom_utf8.csv", bom8 ++ content.getBytes("UTF-8"))
    put("utf16le.csv", bomLe ++ content.getBytes("UTF-16LE"))
    put("utf16be.csv", bomBe ++ content.getBytes("UTF-16BE"))
    // cp1252 variant drops the em-dash (not in latin-1's printables);
    // its é/ï bytes are INVALID utf-8, exercising the fallback arm
    val cpContent = "id,name,amt\n1,café,10\n2,naïve ok,20\n"
    put("cp1252.csv", cpContent.getBytes("windows-1252"))
    def rows(file: String) =
      CsvIngest.readCleansed(spark, dir.resolve(file).toString, schema,
          CsvIngest.Options(encoding = "auto"))
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val expect = Seq((1L, "café", 10L), (2L, "naïve — ok", 20L))
    assert(rows("plain_utf8.csv") == expect)
    assert(rows("bom_utf8.csv") == expect)      // BOM stripped, not data
    assert(rows("utf16le.csv") == expect)
    assert(rows("utf16be.csv") == expect)
    assert(rows("cp1252.csv") ==
      Seq((1L, "café", 10L), (2L, "naïve ok", 20L)))
    // and the whole mixed drop reads in ONE pass
    val all = CsvIngest.readCleansed(spark, dir.toString, schema,
      CsvIngest.Options(encoding = "auto"))
    assert(all.count() == 10L)
    assert(all.where(col("name") === "café").count() == 5L)
  }

  test("newerThan passes everything through on an empty watermark (bootstrap)") {
    val t = graft.io.Tables(spark, sfDir)
    val empty = t.orders.where(lit(false))
    val out = graft.etl.Snapshot.newerThan(
      t.lineitem.select("l_orderkey", "l_shipdate"), col("l_shipdate"),
      empty, col("o_orderdate"))
    assert(out.count() == t.lineitem.count())
  }

  test("read honors a non-UTF-8 encoding option") {
    val dir = Files.createTempDirectory("graft_cp1252")
    val f = dir.resolve("part.csv")
    // 0xE9 = é in latin-1/cp1252; invalid as a UTF-8 single byte
    Files.write(f, "id,name,amt\n1,café,10\n".getBytes("ISO-8859-1"))
    val df = CsvIngest.read(spark, f.toString, schema,
      CsvIngest.Options(encoding = "iso-8859-1"))
    assert(df.collect()(0).getString(1) == "café")
  }

  test("binned range lookup equals the broadcast variant") {
    val t = graft.io.Tables(spark, sfDir)
    val ranges = t.part.select(
      (floor(col("p_size") / 10) * 10).as("low"),
      (floor(col("p_size") / 10) * 10 + 9).as("high"),
      (floor(col("p_size") / 10) + 1).as("stf_cnt")).distinct()
    val facts = t.lineitem.select("l_quantity")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("stf_cnt").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaBroadcast = agg(graft.operators.RangeLookup.lookup(
      facts, ranges, col("l_quantity"), col("low"), col("high")))
    for (w <- Seq(3L, 10L, 100L)) {
      val viaBinned = agg(graft.operators.RangeLookup.lookupBinned(
        facts, ranges, col("l_quantity"), col("low"), col("high"), w))
      assert(viaBinned == viaBroadcast, s"binWidth=$w")
    }
  }

  // ---------------- Compaction / Batching ----------------

  test("compactTo rewrites to the targeted file count") {
    val out = Files.createTempDirectory("graft_compact").resolve("t").toString
    val df = spark.range(1000).toDF("id")
    // ~ 4 MB input at 1 MB target -> 4 files
    Compaction.compactTo(df, out, targetFileMB = 1,
      approxInputBytes = 4L * 1024 * 1024)
    val files = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 4)
    assert(spark.read.parquet(out).count() == 1000)
  }

  test("batchedByHash is deterministic and bounded") {
    val df = Batching.batchedByHash(
      spark.range(500).toDF("id"), Seq(col("id")), numBatches = 7)
    val batches = df.groupBy("batch_id").count().collect()
    assert(batches.length == 7)
    assert(batches.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 7))
    // deterministic: same input -> same assignment
    val again = Batching.batchedByHash(
      spark.range(500).toDF("id"), Seq(col("id")), numBatches = 7)
    assert(df.collect().toSet == again.collect().toSet)
  }
}
