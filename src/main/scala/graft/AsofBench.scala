package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.AsofJoin

/** Adversarial pricing of the as-of join's scale claim: the scaladoc
  * argues the declarative formulation (`l JOIN r ON key AND r.ts <=
  * l.ts`, keep latest) explodes quadratically on a hot key while the
  * union-tag + running-window form stays linear — argued from plan
  * shape, never MEASURED. This main is that measurement.
  *
  * Setup: synthetic fact streams (deterministic hash-derived
  * timestamps, no RNG) over `keys` users where ONE user owns
  * `hotFrac` of BOTH sides — the planted skew. The naive arm is the
  * formulation Spark actually plans for the declarative query: a
  * sort-merge join on the key emitting EVERY `(left, right-before)`
  * pair (the hot key contributes |L_hot|·|R_hot|/2 expected rows),
  * then a rank-1 window per left row. The operator arm is
  * `AsofJoin.asof` — one exchange, one running `last`, no pair
  * blowup. Both arms must return IDENTICAL matches (asserted; exit 1
  * on violation) — this is a price comparison of two plans for one
  * semantics, not two semantics.
  *
  * Output: one JSON line with per-arm median seconds, the naive
  * arm's join-output row count (the blowup witness) vs the as-of's
  * union row count, and the hot key's share. */
object AsofBench {

  def main(args: Array[String]): Unit = {
    val runs = Harness.positiveInt("SPARK_GRAFT_BENCH_RUNS", 3)
    // defaults keep the naive arm's pair blowup ~13M rows (hot key
    // 5k x 5k / 2 + uniform tail) — decisive but minutes-bounded;
    // raise LEFT/RIGHT/HOTPCT to watch it diverge quadratically
    val nLeft = Harness.positiveLong("SPARK_GRAFT_ASOF_LEFT", 50000L)
    val nRight = Harness.positiveLong("SPARK_GRAFT_ASOF_RIGHT", 50000L)
    val keys = Harness.positiveLong("SPARK_GRAFT_ASOF_KEYS", 1000L)
    val hotPct = Harness.percent("SPARK_GRAFT_ASOF_HOTPCT", 10)
    // the naive arm's join output is quadratic in the hot-key share;
    // past ~20% hot it stops being minutes-bounded — the high rungs
    // of the skew ladder run asof-vs-salted only (NAIVE=0)
    val withNaive = Harness.flag("SPARK_GRAFT_ASOF_NAIVE", true)
    val slices = Harness.positiveInt("SPARK_GRAFT_ASOF_SLICES", 32)
    val streamMode = Harness.oneOf("SPARK_GRAFT_ASOF_MODE", "batch",
      Seq("batch", "stream")) == "stream"
    val batchSize = Harness.positiveInt("SPARK_GRAFT_STREAM_BATCH", 20000)
    val spanSec = 30L * 24 * 3600
    val cpus = Harness.cpus()

    val spark = Harness.session(logLevel = "ERROR")

    // deterministic synthetic sides: user 0 is the hot key on both
    def side(n: Long, idOffset: Long, withValue: Boolean): DataFrame = {
      val base = spark.range(n).select(
        (col("id") + idOffset).as("event_id"),
        when(pmod(xxhash64(col("id") + idOffset), lit(100L)) < hotPct, 0L)
          .otherwise(pmod(xxhash64(col("id") + idOffset + 13), lit(keys)))
          .as("user_id"),
        timestamp_seconds(lit(1700000000L) +
          pmod(xxhash64(col("id") + idOffset + 29), lit(spanSec))).as("ts"))
      if (withValue)
        base.withColumn("value",
          pmod(xxhash64(col("event_id") + 41), lit(10000L))
            .cast("double") / 100)
      else base
    }
    val ldir = "/tmp/asof_bench_left"; val rdir = "/tmp/asof_bench_right"
    side(nLeft, 0, withValue = false)
      .write.mode("overwrite").parquet(ldir)
    side(nRight, 1000000000L, withValue = true)
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"),
        col("value").as("click_value"))
      .write.mode("overwrite").parquet(rdir)
    val left = spark.read.parquet(ldir)
    val right = spark.read.parquet(rdir)

    // event_id -> matched click (-1 for none): the identity every arm
    // is checked against before any clock is believed
    def matches(df: DataFrame): Map[Long, Long] = df.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    def asofArm(): DataFrame =
      AsofJoin.asof(left, right, Seq("user_id"), "ts", "ts",
        Seq("click_id", "click_value"), "click_id")
        .select("event_id", "asof_click_id")

    // SPARK_GRAFT_ASOF_MODE=stream: per-micro-batch latency of the
    // stream-STREAM as-of (EventPipelines.streamAsofTagged) over the
    // same synthetic sides, delivered in event-time order (the
    // documented contract) in fixed-size batches — the steady-state
    // per-trigger price the batch arms never measure. The emitted
    // match set is asserted equal to the batch operator's (identity
    // first, then the clock), exactly like the batch arms.
    if (streamMode) {
      import graft.streaming.EventPipelines
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      // event-time delivery order computed by SPARK (global sort —
      // ordering by the timestamp column is ordering by its micros)
      // and streamed to the driver batch-by-batch via
      // toLocalIterator: the driver holds ONE batch at a time, where
      // the prior collect().sortBy held (and sorted) the whole union
      // driver-side — a multi-GB allocation at the 10M-row XL rung
      // that bounded the benchable scale
      import scala.jdk.CollectionConverters._
      val batchIt = (
        left.select(col("user_id").as("key"), col("ts"),
            lit(1).as("side"), col("event_id").as("id"),
            lit(null).cast("double").as("value")) unionByName
        right.select(col("user_id").as("key"), col("ts"),
          lit(0).as("side"), col("click_id").as("id"),
          col("click_value").as("value")))
        .as[EventPipelines.AsofUnion]
        .orderBy(col("ts"), col("side"), col("id"))
        .toLocalIterator().asScala.grouped(batchSize)
      Harness.StallProbe.start()
      val loadBefore = Harness.loadavg
      val stall0 = Harness.StallProbe.totalSec
      val mem = MemoryStream[EventPipelines.AsofUnion]
      val q = EventPipelines.streamAsofTagged(mem.toDS())
        .writeStream.format("memory").queryName("asof_stream_bench")
        .outputMode("append").start()
      val perBatch = scala.collection.mutable.ArrayBuffer.empty[Double]
      try {
        batchIt.zipWithIndex.foreach { case (b, k) =>
          perBatch += Harness.timed {
            mem.addData(b.toSeq: _*)
            q.processAllAvailable()
          }
          System.err.println(f"[asof-bench] stream batch $k " +
            f"(${b.size} rows) ${perBatch.last}%.2f s")
        }
        val got = spark.table("asof_stream_bench")
          .select("left_id", "asof_right_id")
        if (matches(got) != matches(asofArm())) {
          System.err.println("[asof-bench] STREAM ARM MISMATCH")
          sys.exit(1)
        }
      } finally q.stop()
      val stallSec = Harness.StallProbe.totalSec - stall0
      val warm = if (perBatch.size > 1) perBatch.drop(1).toSeq
                 else perBatch.toSeq
      Harness.emit("AsofBench",
        s"""{"metric":"stream_asof_batch_median","value":${Harness.median(warm)}""" +
          s""","unit":"sec","cold_first_batch_sec":${
            perBatch.headOption.getOrElse(-1.0)}""" +
          s""","per_batch_sec":${Harness.jarr(perBatch.toSeq)}""" +
          s""","batches":${perBatch.size},"batch_rows":$batchSize""" +
          s""","n_left":$nLeft,"n_right":$nRight,"keys":$keys""" +
          s""","hot_pct":$hotPct""" +
          s""","stall_sec":${Harness.r2(stallSec)}""" +
          s""","loadavg_before":"$loadBefore","loadavg_after":"${Harness.loadavg}"""" +
          s""","cpus":"$cpus"}""", kind = "stream")
      spark.stop()
      return
    }

    def saltedArm(): DataFrame =
      AsofJoin.asofSalted(left, right, Seq("user_id"), "ts", "ts",
        Seq("click_id", "click_value"), "click_id", slices = slices)
        .select("event_id", "asof_click_id")

    def naiveJoin(): DataFrame = {
      val l = left.alias("l"); val r = right.alias("r")
      l.join(r, col("l.user_id") === col("r.user_id") &&
        col("r.ts") <= col("l.ts"), "left")
    }
    def naiveArm(): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_id"))
        .orderBy(col("r.ts").desc, col("click_id").desc)
      naiveJoin()
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("event_id"), col("click_id").as("asof_click_id"))
    }

    // semantics identity (price comparison of one semantics)
    val a = matches(asofArm())
    val arms = Seq("asof" -> (() => asofArm()),
        "salted" -> (() => saltedArm())) ++
      (if (withNaive) Seq("naive" -> (() => naiveArm())) else Nil)
    arms.tail.foreach { case (name, arm) =>
      val m = matches(arm())
      if (a != m) {
        System.err.println(
          s"[asof-bench] ${name.toUpperCase} ARM MISMATCH: ${a.size} vs ${m.size}")
        sys.exit(1)
      }
    }
    val blowup = if (withNaive) naiveJoin().count() else -1L
    val unionRows = nLeft + nRight

    val loadBefore = Harness.loadavg
    val res = Harness.alternate("asof-bench", runs,
      arms.map { case (name, arm) => name -> (() =>
        arm().write.format("noop").mode("overwrite").save()) },
      () => Harness.sweep(spark))
    def m(arm: String) = res.median(arm)
    // a skipped naive arm must publish null, not a -1 sentinel: a
    // consumer trending "speedup" across rungs would silently ingest
    // a negative garbage ratio (caught on the r12 h50/h90/h100
    // artifacts and fixed by regeneration)
    def ifNaive(v: => Any): String = if (withNaive) v.toString else "null"
    Harness.emit("AsofBench",
      s"""{"metric":"asof_vs_naive_median","value":${m("asof")}""" +
        s""","unit":"sec","naive_median":${ifNaive(m("naive"))}""" +
        s""","salted_median":${m("salted")},"slices":$slices""" +
        s""","speedup":${ifNaive(m("naive") / m("asof"))}""" +
        s""","salted_over_asof":${m("asof") / m("salted")}""" +
        s""","asof_runs":${Harness.jarr(res.times("asof"))}""" +
        s""","naive_runs":${ifNaive(Harness.jarr(res.times("naive")))}""" +
        s""","salted_runs":${Harness.jarr(res.times("salted"))}""" +
        s""","naive_join_rows":${ifNaive(blowup)},"asof_union_rows":$unionRows""" +
        s""","n_left":$nLeft,"n_right":$nRight,"keys":$keys""" +
        s""","hot_pct":$hotPct,"with_naive":$withNaive""" +
        s""","stall_sec":${Harness.jarr(res.stalls)}""" +
        s""","loadavg_before":"$loadBefore","loadavg_after":"${Harness.loadavg}"""" +
        s""","cpus":"$cpus"}""")
    spark.stop()
  }
}
