package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.streaming.EventPipelines

/** Per-micro-batch pricing of the remaining stateful streams —
  * sessionize, the sessionize→streamSessionStats rollup chain, and
  * streamRepeatedSpans — the bench_asof_r12_stream template applied
  * to the three surfaces whose semantics were spec-pinned but whose
  * latency had no artifact (r12 verdict #4).
  *
  * Method, identical to AsofBench's stream arm: events delivered in
  * EVENT-TIME order (the documented contract; sorted by Spark and
  * streamed to the driver via toLocalIterator — one batch held at a
  * time) in fixed-size micro-batches through a MemoryStream; each
  * `addData + processAllAvailable` is one timed trigger. Identity
  * FIRST, then the clock: every arm asserts its emitted set equals
  * its batch twin's before the timing is reported (exit 1 on
  * violation). Warm median excludes the cold first batch
  * (classloading + state-store setup); the sessionize arms append
  * two untimed far-future sentinel batches to flush open sessions
  * through the event-time timeout (the spec's pattern) so the
  * identity covers EVERY session.
  *
  * Arms (SPARK_GRAFT_STREAM_ARM = sessionize | session_stats |
  * spans | all):
  *  - sessionize: flatMapGroupsWithState gap sessions (30-min gap,
  *    q152's shape) over the events table; state = one open-session
  *    struct per user.
  *  - session_stats: the sessionize→total-rollup chain (q166's
  *    shape), update mode, final per-user snapshot compared to the
  *    batch rollup. The per-batch time INCLUDES the foreachBatch
  *    snapshot collect (update-mode output is per-trigger deltas —
  *    user-count-bounded, the deployment read path).
  *  - spans: streamRepeatedSpans (xxhash64 scale path, minRun 10)
  *    over the held-out documents (doc_id % 3 != 0) against the
  *    STORED gram frame of the reference third — q120's split; the
  *    stream-static join never re-shuffles the store.
  *  - merge_versioned (r14): `Merge.streamVersioned` — each
  *    micro-batch of an orders-derived change stream (upserts +
  *    deletes, per-key event-time ordered across batches, the
  *    documented delivery contract) foreachBatch-merges into a
  *    VersionStore table; the per-batch time INCLUDES the full
  *    table-atomic commit (read latest + merge + MarkerCommit swap)
  *    — the honest price of the lakehouse streaming-upsert shape.
  *    Identity first: the final version must equal ONE merge of the
  *    concatenated log (the spec's ordered-delivery fold identity).
  */
object StreamBench {

  /** Change-stream row for the merge_versioned arm: target columns
    * (k, ck, total) + merge metadata (ts, gen, is_delete). */
  final case class ChangeEvent(k: Long, ck: Long, total: Double,
                               ts: Int, gen: Int, is_delete: Boolean)

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val arm = Harness.oneOf("SPARK_GRAFT_STREAM_ARM", "all", Seq("all",
      "sessionize", "session_stats", "spans", "merge_versioned"))
    val evBatch = Harness.positiveInt("SPARK_GRAFT_STREAM_BATCH", 20000)
    val docBatch = Harness.positiveInt("SPARK_GRAFT_STREAM_DOC_BATCH", 2000)
    val days = Harness.positiveInt("SPARK_GRAFT_STREAM_MERGE_DAYS", 8)

    val spark = Harness.session(logLevel = "ERROR")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    Harness.StallProbe.start()
    val loadBefore = Harness.loadavg
    // per arm: (per-batch seconds, batch rows, state rows after the
    // last timed batch, codegen compilations across WARM batches) —
    // the r18 verdict's streaming witnesses: state stays watermark-
    // bounded and no plan recompiles per batch
    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, (Seq[Double], Int, Long, Long)]
    var failed = false

    def timeBatches[T](mem: MemoryStream[T], batches: Iterator[Seq[T]],
                       q: org.apache.spark.sql.streaming.StreamingQuery,
                       tag: String): (Seq[Double], Long, Long) = {
      val perBatch = scala.collection.mutable.ArrayBuffer.empty[Double]
      var cgCold = -1L
      batches.zipWithIndex.foreach { case (b, k) =>
        perBatch += Harness.timed {
          mem.addData(b: _*)
          q.processAllAvailable()
        }
        System.err.println(f"[stream-bench] $tag batch $k " +
          f"(${b.size} rows) ${perBatch.last}%.2f s")
        if (k == 0)
          cgCold = org.apache.spark.sql.graft.CodegenBridge.compileCount
      }
      // codegen compilations during WARM batches (cold batch 0 pays
      // classload + first compile by design): nonzero here would mean
      // the stream re-compiles its plan per trigger
      val cgWarm =
        if (cgCold < 0) 0L
        else org.apache.spark.sql.graft.CodegenBridge.compileCount - cgCold
      // total state rows after the last timed batch, before any
      // sentinel flush — the watermark-bounded-state witness
      val stateRows = Option(q.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      System.err.println(s"[stream-bench] $tag state_rows=$stateRows " +
        s"codegen_warm=$cgWarm")
      (perBatch.toSeq, stateRows, cgWarm)
    }

    // events in event-time order, streamed to the driver one batch at
    // a time; the max ts rides along for the sentinel flush
    def eventBatches(): (Iterator[Seq[EventPipelines.SessionEvent]], Long) = {
      import scala.jdk.CollectionConverters._
      val t = graft.io.Tables(spark, sfDir)
      val maxUs = t.events.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val it = t.events
        .select(col("user_id"), col("ts"), col("value"))
        .as[EventPipelines.SessionEvent]
        .orderBy(col("ts"), col("user_id"))
        .toLocalIterator().asScala.grouped(evBatch)
      (it, maxUs)
    }

    def sentinels(mem: MemoryStream[EventPipelines.SessionEvent],
                  q: org.apache.spark.sql.streaming.StreamingQuery,
                  maxUs: Long): Unit = {
      val far = new Timestamp(maxUs / 1000L + 30L * 24 * 3600 * 1000)
      mem.addData(EventPipelines.SessionEvent(-1L, far, 0.0))
      q.processAllAvailable()
      mem.addData(EventPipelines.SessionEvent(-1L,
        new Timestamp(far.getTime + 3600000L), 0.0))
      q.processAllAvailable()
    }

    def sessionKey(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))

    if (arm == "all" || arm == "sessionize") {
      val (batches, maxUs) = eventBatches()
      val mem = MemoryStream[EventPipelines.SessionEvent]
      val q = EventPipelines.sessionize(mem.toDS(), gapMinutes = 30)
        .writeStream.format("memory").queryName("sb_sessionize")
        .outputMode("append").start()
      val (times, stateRows, cgWarm) =
        try {
          val ts = timeBatches(mem, batches, q, "sessionize")
          sentinels(mem, q, maxUs) // untimed flush of open sessions
          ts
        } finally q.stop()
      val got = spark.table("sb_sessionize").where(col("user_id") >= 0)
        .collect().map(sessionKey).toSet
      val want = EventPipelines
        .sessionizeBatch(graft.io.Tables(spark, sfDir).events, 30)
        .collect().map(sessionKey).toSet
      if (got != want) {
        System.err.println(s"[stream-bench] SESSIONIZE MISMATCH: " +
          s"${got.size} vs ${want.size}"); failed = true
      }
      results += "sessionize" -> ((times, evBatch, stateRows, cgWarm))
    }

    if (arm == "all" || arm == "session_stats") {
      val snapshot = new java.util.concurrent.ConcurrentHashMap[Long,
        (Long, Long, Long, Double)]()
      val ccKey =
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
      val ccPrev = spark.conf.getOption(ccKey)
      spark.conf.set(ccKey, "false") // total rollup: documented FP
      val (batches, maxUs) = eventBatches()
      val mem = MemoryStream[EventPipelines.SessionEvent]
      val q = EventPipelines
        .streamSessionStats(EventPipelines.sessionize(mem.toDS(), 30))
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          df.collect().foreach(r => snapshot.put(r.getLong(0),
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
        }.start()
      val (times, stateRows, cgWarm) =
        try {
          val ts = timeBatches(mem, batches, q, "session_stats")
          sentinels(mem, q, maxUs)
          ts
        } finally {
          q.stop()
          ccPrev match {
            case Some(v) => spark.conf.set(ccKey, v)
            case None => spark.conf.unset(ccKey)
          }
        }
      import scala.jdk.CollectionConverters._
      val got = snapshot.asScala.toMap.filter(_._1 >= 0)
      val want = SparkEntry.queries("q_session_stats")(spark, sfDir)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
      if (got != want) {
        System.err.println(s"[stream-bench] SESSION_STATS MISMATCH: " +
          s"${got.size} vs ${want.size}"); failed = true
      }
      results += "session_stats" ->
        ((times, evBatch, stateRows, cgWarm))
    }

    if (arm == "all" || arm == "spans") {
      import scala.jdk.CollectionConverters._
      val docs = graft.io.Tables(spark, sfDir).documents
      val ref = graft.operators.Dedup.gramCounts(
        docs.where(col("doc_id") % 3 === 0), col("doc_id"), col("text"),
        minRun = 10)
      // deterministic event times (epoch + doc_id mod 1 day), docs
      // delivered in ts order; each doc is one input row, so its gram
      // rows always share its micro-batch (the operator's contract)
      val batches = docs.where(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").as("id"),
          timestamp_seconds(lit(1700000000L) + pmod(col("doc_id"),
            lit(86400L))).as("ts"),
          col("text"))
        .where(col("text").isNotNull)
        .as[EventPipelines.DocEvent]
        .orderBy(col("ts"), col("id"))
        .toLocalIterator().asScala.grouped(docBatch)
      val mem = MemoryStream[EventPipelines.DocEvent]
      val q = EventPipelines.streamRepeatedSpans(mem.toDS(), ref,
          minRun = 10)
        .writeStream.format("memory").queryName("sb_spans")
        .outputMode("append").start()
      val (times, stateRows, cgWarm) =
        try timeBatches(mem, batches, q, "spans")
        finally q.stop()
      val got = spark.table("sb_spans").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
        .toSet
      val want = graft.operators.Dedup.perDocRepeatedSpans(
          docs.where(col("doc_id") % 3 =!= 0), ref,
          col("doc_id"), col("text"), minRun = 10)
        .select("id", "span_start", "span_end", "span_tokens")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
        .toSet
      if (got != want) {
        System.err.println(s"[stream-bench] SPANS MISMATCH: " +
          s"${got.size} vs ${want.size}"); failed = true
      }
      results += "spans" -> ((times, docBatch, stateRows, cgWarm))
    }

    if (arm == "all" || arm == "merge_versioned") {
      import graft.etl.{Merge, VersionStore}
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val root = "/tmp/graft_stream_bench/merge_v"
      graft.io.MarkerCommit.deleteRecursively(root)
      val base = orders.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
          col("o_totalprice").cast("double").as("total"))
      VersionStore.write(base, root) // v0: the committed base table
      // day d churns the k % 7 == d % 7 stripe (upserts) and deletes
      // the k % 53 stripe; ts = d, so a key's later change always
      // lands in a later batch — the ordered-delivery contract the
      // fold identity below rides on
      def day(d: Int): org.apache.spark.sql.DataFrame = {
        val ups = orders.where(col("o_orderkey") % 7 === d % 7)
          .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
            ((col("o_orderkey") % 1000) + lit(d)).cast("double")
              .as("total"),
            lit(d).as("ts"), lit(1).as("gen"),
            lit(false).as("is_delete"))
        val dels = orders.where(col("o_orderkey") % 53 === d % 53)
          .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
            lit(0.0).as("total"), lit(d).as("ts"), lit(2).as("gen"),
            lit(true).as("is_delete"))
        ups.unionByName(dels)
      }
      val batchSeqs = (1 to days).map(d =>
        day(d).as[ChangeEvent].collect().toSeq)
      val mem = MemoryStream[ChangeEvent]
      val q = Merge.streamVersioned(mem.toDF(), root, Seq("k"),
        col("ts"), col("gen"), Some("is_delete")).start()
      val (times, stateRows, cgWarm) =
        try timeBatches(mem, batchSeqs.iterator, q, "merge_versioned")
        finally q.stop()
      // the ordered-delivery fold identity, asserted on the REAL
      // store before the clock is believed (MergeSpec pins it on
      // synthetic data; this guards the benched configuration)
      def keyOf(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getDouble(2))
      val log = (1 to days).map(day).reduce(_ unionByName _)
      val want = Merge.merge(base, log, Seq("k"), col("ts"),
          col("gen"), Some("is_delete"))
        .collect().map(keyOf).toSet
      val got = VersionStore.latest(spark, root)
        .collect().map(keyOf).toSet
      if (got != want) {
        System.err.println(s"[stream-bench] MERGE_VERSIONED MISMATCH: " +
          s"${got.size} vs ${want.size}"); failed = true
      }
      results += "merge_versioned" ->
        ((times, batchSeqs.map(_.size).max, stateRows, cgWarm))
    }

    val stallSec = Harness.StallProbe.totalSec
    val armsJson = results.map { case (name, (times, bs, st, cg)) =>
      val warm = if (times.size > 1) times.drop(1) else times
      s""""$name":{"warm_median_sec":${Harness.median(warm)}""" +
        s""","cold_first_batch_sec":${times.headOption.getOrElse(-1.0)}""" +
        s""","per_batch_sec":${Harness.jarr(times)},"batches":${times.size}""" +
        s""","batch_rows":$bs,"state_rows":$st,"codegen_warm":$cg}"""
    }.mkString("{", ",", "}")
    val headline = Harness.median(results.values.flatMap { case (t, _, _, _) =>
      if (t.size > 1) t.drop(1) else t }.toSeq)
    Harness.emit("StreamBench",
      s"""{"metric":"stream_batch_median","value":$headline""" +
        s""","unit":"sec","arms":$armsJson""" +
        s""","identity_ok":${!failed}""" +
        s""","stall_sec":${Harness.r2(stallSec)}""" +
        s""","loadavg_before":"$loadBefore","loadavg_after":"${Harness.loadavg}"""" +
        s""","cpus":"${Harness.cpus()}","sf":"$sfDir"}""", kind = arm)
    spark.stop()
    if (failed) sys.exit(1)
  }
}
