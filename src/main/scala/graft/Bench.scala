package graft

import scala.util.control.NonFatal

/** Benchmark harness. One JVM, `SPARK_GRAFT_BENCH_RUNS` (default 3)
  * back-to-back runs of the full suite, per-query MEDIAN / min / max —
  * single-shot numbers at this scale bounce ±40% from JIT, GC timing,
  * and sandbox contention (round 4's 56.7 → 82.3 s suite-wide wobble
  * with zero query changes), so no per-query claim rests on one
  * sample. `/proc/loadavg` is recorded before and after so external
  * contention is visible in the artifact instead of being guessed at.
  *
  * The headline `value` is the median suite total of SCALE-PATH
  * queries only: md5-seeded `*_seeded` entries exist to give a
  * rows-only xxhash64 operator a rows+schema+hash oracle (the hashing
  * is deliberately engine-portable — oracle plumbing, not engine
  * capability) and are measured ONCE after the repeat runs, reported
  * under `oracle_only_sec` — repeating them 3× would dominate
  * wall-clock without informing any scale-path claim; Verify still
  * hash-checks them every round. A query that fails in ANY run is
  * dropped from every run's total (`dropped_from_totals` names it),
  * so the medians always compare identical query sets. After the
  * suite runs, the slowest iterative query (q_dedup_clusters_jaccard)
  * is re-timed ISOLATED in the same session/JVM — the in-suite median
  * vs same-session isolated delta is the attribution signal rounds
  * 3-4 lacked.
  *
  * Runs whose host-stall probe exceeds `SPARK_GRAFT_STALL_MAX`
  * (default 5 s) are retried (up to `SPARK_GRAFT_STALL_RETRIES` extra,
  * default 3) and excluded from the medians when quiet runs exist;
  * `stall_poisoned` in the JSON is true only when no quiet run was
  * achieved — the round-5 lesson, where the artifact of record carried
  * 20-68 s/run of invisible host stall.
  */
object Bench {

  /** Oracle-only twins: verification plumbing for a rows-only scale
    * path (SparkEntry documents each pairing). Excluded from the
    * headline total, reported separately. */
  val oracleOnly: Set[String] =
    Set("q_dedup_minhash_seeded", "q_dedup_simhash_seeded", "q_ann_ivf_seeded",
      "q_multimodal_bytefold", "q_quality_model_seeded",
      "q_dedup_containment_minhash_seeded",
      "q_cms_cells_seeded", "q_cms_heavy_hitters_seeded",
      "q_hll_registers_seeded", "q_hll_vocab_seeded",
      "q_hll_vocab_by_source_seeded",
      "q_bloom_bits_seeded", "q_bloom_membership_seeded",
      "q_decontaminate_bloomframe_seeded")

  def main(args: Array[String]): Unit = {
    // every knob is parsed before the session starts; the defaults
    // (32 cores, the sf0.1 directory, bench_out.json) are the bench
    // contract's
    val sfDir = Harness.sfDir("/root/testdata/sf0.1")
    val cpus = Harness.cpus(32)
    val runs = Harness.positiveInt("SPARK_GRAFT_BENCH_RUNS", 3)
    // initial shuffle parallelism: defaults to cores (the driver's
    // contract for sf0.1) but overridable for scale runs — partitions
    // sized for sf0.1 spill at sf1+, and AQE only coalesces DOWN from
    // the initial number, it never splits an oversized non-skewed
    // partition, so the initial count must scale with the data
    val shuffle = Harness.shuffle(cpus)
    // SPARK_GRAFT_WITNESS=0 disables the per-query witness machinery
    // entirely (no listener, no bus drain) — the control arm for
    // pricing the witness's own overhead against a witness-free run
    val witnessOn = Harness.flag("SPARK_GRAFT_WITNESS", true)
    // Per-query watchdog (r6, after an sf1 query ate 40+ min of a
    // single-run probe with NOTHING in the log to name it): the timed
    // action runs under a job group; if it exceeds
    // SPARK_GRAFT_QUERY_TIMEOUT_SEC the group's jobs are cancelled,
    // the query records as failed (-1, dropped from totals like any
    // error), and the bench MOVES ON instead of silently wedging the
    // round's artifact. 0 disables. The default is far above any
    // healthy query (sf0.1 slowest ≈ 7 s; sf1 ≈ 100 s) — this is a
    // tourniquet for pathology, not a performance gate.
    val queryTimeoutSec = Harness.nonNegativeInt("SPARK_GRAFT_QUERY_TIMEOUT_SEC", 900)
    val allNames = SparkEntry.queries.keys.toSeq.sorted
    val known = allNames.toSet
    // comma-separated subset for isolating one query's behavior at a
    // given SF (diagnostics only — artifacts of record run the suite)
    val picked = allNames.filter(
      Harness.names("SPARK_GRAFT_BENCH_ONLY", allNames, known).toSet)
    // perf-iteration toggle (r10 verdict #4): the md5-seeded oracle
    // twins are verification plumbing, excluded from the headline by
    // design, yet their one-shot timing pass grew to ~28% of full-run
    // wall-clock. Skipping them changes NO headline number (they never
    // enter the medians) — artifacts of record keep them (default
    // off), and the JSON records the mode so a skipping run can't
    // masquerade as a full one.
    val skipOracleOnly = Harness.flag("SPARK_GRAFT_SKIP_ORACLE_ONLY", false)
    // stall-aware retry (round-5 lesson: BENCH_r05's artifact of
    // record was poisoned by 20-68 s/run host stalls and only
    // cross-referencing a committed side artifact exposed it): a run
    // whose stall_sec exceeds SPARK_GRAFT_STALL_MAX doesn't count
    // toward the `runs` quiet samples — up to SPARK_GRAFT_STALL_RETRIES
    // extra runs chase a quiet window. If quiet runs exist, medians use
    // ONLY those; if none do, all runs are used and the artifact says
    // so loudly (`stall_poisoned: true`), so a noisy number can never
    // again masquerade as a clean one.
    val stallMax = Harness.nonNegative("SPARK_GRAFT_STALL_MAX", 5.0)
    val maxExtra = Harness.nonNegativeInt("SPARK_GRAFT_STALL_RETRIES", 3)
    // same-session isolated re-times (SPARK_GRAFT_ISOLATE, comma
    // list; default the historically divergent iterative query): a
    // query's suite-median vs isolated-median gap (same JVM, same
    // data, minutes apart) isolates in-suite interference from
    // environment drift — also how a cross-round per-query drift
    // gets attributed to code vs noise without a bisect
    val isoNames = Harness.names("SPARK_GRAFT_ISOLATE",
      Seq("q_dedup_clusters_jaccard"), known)

    val spark = Harness.session(cpus = cpus)
    // JVM/scheduler warmup so the first query's number is the query,
    // not classloading + first-scan machinery (parquet reader,
    // broadcast, noop writer, AQE first-use — round-2 finding).
    // Best-effort: a missing table degrades to a cold first query,
    // never aborts the bench before JSON is written.
    def warm(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] warmup step skipped: ${e.getMessage}")
      }
    warm(spark.range(1000).selectExpr("sum(id)").count())
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach(t =>
      warm(spark.read.parquet(s"$sfDir/$t.parquet").count()))
    warm {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val mx = li.agg(max(col("l_orderkey")).as("k"))
      li.join(broadcast(mx), col("l_orderkey") === col("k"))
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")))
        .write.format("noop").mode("overwrite").save()
    }

    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    // ---- per-QUERY witnesses (r13, after the r12 in-suite
    // interference case: q_dedup_embedding_incremental 32.4 s
    // in-suite vs 15.9 s isolated with nothing in the artifact to
    // name the interferer). Each timed query records its own GC
    // time, host-stall, shuffle spill, and per-task peak execution
    // memory; the JSON carries the MAX across runs per query (the
    // worst sample is the attribution signal), the stderr log line
    // carries every run's values. A query whose stall≈gc inflated
    // in-suite names the JVM; big spill/peakmem on the PRECEDING
    // query names the interferer (heap pressure it left behind).
    // Spill and peak memory are charged to the query's job group.
    val meter = if (witnessOn) Some(graft.obs.Meter(spark.sparkContext)) else None
    def gcSecNow: Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
    }
    val witGc = scala.collection.mutable.Map.empty[String, Double]
    val witStall = scala.collection.mutable.Map.empty[String, Double]
    val witSpillMb = scala.collection.mutable.Map.empty[String, Double]
    val witPeakMb = scala.collection.mutable.Map.empty[String, Double]
    // codegen compilations per query (max across runs): the
    // generated-class cache holds 100 entries and a 170-query suite
    // churns it — an evicted plan recompiles through Janino on its
    // next run, which reads as "the query got slower" with no source
    // change (the r12 md5-twin suspicion). Fresh-JVM count == in-suite
    // count kills that hypothesis; in-suite higher names it.
    val witCodegen = scala.collection.mutable.Map.empty[String, Double]
    // JIT witnesses (r13, for the md5-twin attribution): the
    // oracle-only twins execute exactly ONCE, at the END of the
    // suite, so their wall-clock includes tier-up JIT of their hot
    // loops — and a fresh-JVM probe showed that cold cost alone is
    // ~3.5 s on q_bloom_membership_seeded (4.5 s first execution,
    // 0.9 s warm, codegen=4). If the JVM's code cache fills late in
    // a 3×171-query suite, the compiler shuts off ("CodeCache is
    // full") and a late one-shot query runs INTERPRETED — a
    // consistent min==median slowdown with no source change, which
    // is exactly the r12 signature. `jit_ms` per query (compiler
    // thread time, MX bean) and the per-run code-cache occupancy
    // split that attribution: occupancy at capacity + zero jit
    // during the slow query names a disabled compiler; high jit
    // during the query names ordinary cold tier-up.
    def jitMsNow: Double = {
      val c = java.lang.management.ManagementFactory.getCompilationMXBean
      if (c != null && c.isCompilationTimeMonitoringSupported)
        c.getTotalCompilationTime.toDouble else -1.0
    }
    def codeCacheMb: Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
        .map(_.getUsage.getUsed / 1048576.0).sum
    }
    val witJitMs = scala.collection.mutable.Map.empty[String, Double]
    // noop write, not count(): a count prunes every projection
    // expression out of map-only queries and would time a bare scan
    def timeOne(name: String): Double = {
      val fn = SparkEntry.queries(name)
      System.err.println(s"[bench] > $name")
      val gc0 = gcSecNow
      val stall0 = Harness.StallProbe.totalSec
      val cg0 = org.apache.spark.sql.graft.CodegenBridge.compileCount
      val jit0 = jitMsNow
      val t0 = System.nanoTime()
      def secs = (System.nanoTime() - t0) / 1e9
      def witness(): (Double, Double, Double, Double, Long, Double) = {
        if (!witnessOn) return (0.0, 0.0, 0.0, 0.0, 0L, 0.0)
        // the meter drains the listener bus first, so the charge holds
        // every task of THIS query; a drain that times out reads zero
        val c = try meter.get.take(s"bench-$name")
          catch { case NonFatal(_) => graft.obs.Meter.Charge() }
        val w = (gcSecNow - gc0, Harness.StallProbe.totalSec - stall0,
          c.spillBytes / 1048576.0, c.peakTaskMemBytes / 1048576.0,
          org.apache.spark.sql.graft.CodegenBridge.compileCount - cg0,
          jitMsNow - jit0)
        def mx(m: scala.collection.mutable.Map[String, Double],
               v: Double): Unit = m(name) = math.max(m.getOrElse(name,
          Double.NegativeInfinity), Harness.r2(v))
        mx(witGc, w._1); mx(witStall, w._2)
        mx(witSpillMb, w._3); mx(witPeakMb, w._4)
        mx(witCodegen, w._5.toDouble); mx(witJitMs, w._6)
        w
      }
      try {
        val action = new java.util.concurrent.FutureTask[Unit](() =>
          try {
            spark.sparkContext.setJobGroup(s"bench-$name",
              name, interruptOnCancel = true)
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          } finally spark.sparkContext.clearJobGroup())
        val runner = new Thread(action, s"bench-$name")
        runner.setDaemon(true)
        runner.start()
        try
          if (queryTimeoutSec > 0)
            action.get(queryTimeoutSec, java.util.concurrent.TimeUnit.SECONDS)
          else action.get()
        catch {
          case _: java.util.concurrent.TimeoutException =>
            spark.sparkContext.cancelJobGroup(s"bench-$name")
            runner.join(30000) // let the cancel land before sweeping
            throw new RuntimeException(
              s"timed out after $queryTimeoutSec s (jobs cancelled)")
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
        val t = secs
        val (g, st, sp, pk, cg, jit) = witness()
        System.err.println(f"[bench] < $name ${t}%.2f s " +
          f"gc=$g%.2f s stall=$st%.2f s spill=$sp%.1f MB " +
          f"peak=$pk%.1f MB codegen=$cg jit=${jit / 1000}%.2f s " +
          f"codecache=$codeCacheMb%.0f MB")
        t
      } catch { case e: Throwable =>
        System.err.println(
          f"[bench] < $name FAILED after $secs%.1f s: ${e.getMessage}")
        witness()
        errors += name; -1.0
      } finally Harness.sweep(spark)
    }

    val names = if (skipOracleOnly) picked.filterNot(oracleOnly) else picked
    val headlineNames = names.filterNot(oracleOnly)
    val oracleNames = names.filter(oracleOnly)
    val loadBefore = Harness.loadavg
    Harness.StallProbe.start()
    // GC-time witness next to the stall witness: the probe counts
    // EVERY oversleep, and a stop-the-world collection pauses the
    // probe exactly like a host stall — `gc_sec` (MX-bean collection
    // time delta per run) splits the attribution. stall ≈ gc → the
    // JVM did it to itself (fix allocations / heap); stall ≫ gc →
    // the host did it (retry for a quiet window). Added r9 after a
    // full-suite stall chase where neither could be ruled out from
    // the artifact alone.
    val attempts = scala.collection.mutable.ArrayBuffer
      .empty[(Map[String, Double], Double)]
    val gcPerRun = scala.collection.mutable.ArrayBuffer.empty[Double]
    var go = true
    while (go) {
      val before = Harness.StallProbe.totalSec
      val gcBefore = gcSecNow
      val m = headlineNames.map(n => n -> timeOne(n)).toMap
      val stall = Harness.StallProbe.totalSec - before
      val gc = gcSecNow - gcBefore
      attempts += ((m, stall))
      gcPerRun += gc
      val quiet = attempts.count(_._2 <= stallMax)
      System.err.println(s"[bench] run ${attempts.size} total=" +
        f"${m.values.filter(_ >= 0).sum}%.1f s loadavg=${Harness.loadavg} " +
        f"stall=$stall%.1f s gc=$gc%.1f s quiet=$quiet/$runs")
      go = quiet < runs && attempts.size < runs + maxExtra
    }
    val quietIdx = attempts.indices.filter(i => attempts(i)._2 <= stallMax)
    val usedIdx = if (quietIdx.nonEmpty) quietIdx else attempts.indices
    val perRun: Seq[Map[String, Double]] = usedIdx.map(i => attempts(i)._1)
    val stallPerRun = attempts.map(_._2).toSeq
    val stallPoisoned = usedIdx.exists(i => attempts(i)._2 > stallMax)
    // oracle-only twins: TWO timed executions each, after the repeat
    // runs. The first is a COLD price — a one-shot md5 kernel tiers
    // up DURING its only execution (measured at sf1:
    // q_dedup_minhash_seeded 112.8 s cold vs 13.8 s warm in the same
    // JVM, jit=43 s, gc/stall/spill ≈ 0 — which is the r12 'seeded
    // twin drift' in its entirety: cold-execution JIT timing, not
    // code). The SECOND execution is the steady-state price and is
    // the one recorded in `queries` — comparable across rounds;
    // `oracle_cold` keeps the first so the tier-up cost stays
    // visible in the artifact.
    val oracleCold = oracleNames.map(n => n -> timeOne(n)).toMap
    val oracleTimes = oracleNames.map(n => n -> timeOne(n)).toMap
    val iso: Map[String, Seq[Double]] =
      isoNames.map(n => n -> (1 to runs).map(_ => timeOne(n))).toMap
    val loadAfter = Harness.loadavg

    // failed samples (-1) are dropped before the median
    def median(xs: Seq[Double]): Double = Harness.median(xs.filter(_ >= 0))
    def series(n: String): Seq[Double] =
      if (oracleOnly(n)) Seq(oracleTimes(n)) else perRun.map(_(n))
    val med = names.map(n => n -> median(series(n))).toMap
    val mins = names.map(n => n -> series(n).filter(_ >= 0)
      .minOption.getOrElse(-1.0)).toMap
    val maxs = names.map(n => n -> series(n).max).toMap
    // totals compare IDENTICAL query sets across runs: a query that
    // failed in any run is excluded from every run's total (and named
    // in dropped_from_totals) — otherwise an intermittent failure
    // silently deflates one run's total and poisons the median
    val okNames = headlineNames.filter(n => perRun.forall(_(n) >= 0))
    val dropped = headlineNames.filterNot(okNames.contains)
    def runTotal(m: Map[String, Double]) = okNames.map(m(_)).sum
    val headlineMedian = median(perRun.map(runTotal))
    val oracleSec = oracleTimes.values.filter(_ >= 0).sum

    def jmap(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    def jarr(xs: Seq[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val errs = jarr(errors.toSeq)
    val json =
      s"""{"metric":"headline_median_total","value":$headlineMedian,"unit":"sec"""" +
        s""","runs":$runs,"attempts":${attempts.size},"queries":${jmap(med)}""" +
        s""","queries_min":${jmap(mins)},"queries_max":${jmap(maxs)}""" +
        s""","per_run_total":${perRun.map(runTotal).mkString("[", ",", "]")}""" +
        // raw Doubles: Double.toString is locale-independent, while a
        // locale-sensitive `f"%.2f"` writes `0,52` under comma-decimal
        // JVM locales and breaks the JSON
        s""","stall_sec":${stallPerRun.map(Harness.r2).mkString("[", ",", "]")}""" +
        s""","gc_sec":${gcPerRun.map(Harness.r2).mkString("[", ",", "]")}""" +
        s""","stall_max":$stallMax,"stall_poisoned":$stallPoisoned""" +
        // quiet_runs < runs means retries ran out with a SHORT quiet
        // sample: medians rest on fewer samples than requested even
        // though stall_poisoned stays false — flagged explicitly so a
        // short-sample artifact can't read as a full clean one
        s""","quiet_runs":${quietIdx.size}""" +
        s""","short_sample":${quietIdx.nonEmpty && quietIdx.size < runs}""" +
        s""","used_runs":${usedIdx.mkString("[", ",", "]")}""" +
        s""","dropped_from_totals":${jarr(dropped)}""" +
        // per-query witnesses: MAX across runs (worst sample = the
        // attribution signal; per-run values are in the stderr log)
        s""","queries_gc_max":${jmap(witGc.toMap)}""" +
        s""","queries_stall_max":${jmap(witStall.toMap)}""" +
        s""","queries_spill_max_mb":${jmap(witSpillMb.toMap)}""" +
        s""","queries_peakmem_max_mb":${jmap(witPeakMb.toMap)}""" +
        s""","queries_codegen_max":${jmap(witCodegen.toMap)}""" +
        s""","queries_jit_max_ms":${jmap(witJitMs.toMap)}""" +
        s""","codecache_mb_final":${math.round(codeCacheMb * 10) / 10.0}""" +
        s""","oracle_only":${jarr(oracleOnly.toSeq.sorted)}""" +
        s""","oracle_only_sec":$oracleSec""" +
        s""","oracle_cold":${jmap(oracleCold)}""" +
        s""","oracle_cold_sec":${oracleCold.values.filter(_ >= 0).sum}""" +
        s""","skip_oracle_only":$skipOracleOnly""" +
        s""","isolated":${jmap(isoNames.map(n => n -> median(iso(n))).toMap)}""" +
        s""","loadavg_before":"$loadBefore","loadavg_after":"$loadAfter"""" +
        s""","errors":$errs,"cpus":"$cpus","shuffle":"$shuffle","sf":"$sfDir"}"""
    // stdout is full of sbt/log4j noise; also write the line to a file
    // so the driver's parse can't fail silently.
    Harness.emit("bench", json, out = "bench_out.json")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
