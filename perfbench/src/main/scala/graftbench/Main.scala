package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run. Prints a report line (every
  * metric by its own name, witnesses, seed, fingerprint) and, last,
  * the result line: `correct`, `attempted`, `failed` and `metrics` —
  * the end-to-end metrics untraced, the per-layer metrics traced. */
object Main {
  val Cores = 4
  /** Fewest headline samples a run takes, whatever `--seconds` is. */
  val MinSamples = 3
  /** Count metrics are taken over this many leading traced ops, so they
    * repeat exactly for one seed whatever the run length. */
  val CountPrefix = 3

  val EndToEnd = Seq("setup_s", "heap_live_peak_mb", "p50_s", "aux_p50_s")

  private val engine = Seq("driver.plan_s", "driver.compiles", "sched.jobs",
    "sched.stages", "sched.gap_s", "exec.task_s", "exec.cpu_s", "exec.gc_s",
    "exec.busy_ratio", "exec.shuffle_mb", "exec.spill_mb")
  /** Spans of the workloads in BENCHMARK.json. The by-hand workloads'
    * spans appear in their own reports only. */
  private val spans = Seq(
    "io.FileSync.newEntries", "io.CsvIngest.readCleansed",
    "etl.Audit.withAuditColumns", "etl.VersionStore.write",
    "operators.RollingWindow.explodeZones", "operators.IntervalJoin.classify",
    "bench.census_count", "etl.Batching.assign",
    "util.Retry.postWithDegradation")
  /** Counts that repeat exactly for one seed and one op sequence; all
    * but the first three are the by-hand workloads'. */
  private val gatedCounts = Seq("io.FileSync.files_new", "io.CsvIngest.rows_in",
    "io.CsvIngest.rows_dropped")
  val CountMetrics: Seq[String] = gatedCounts ++
    Seq("etl.write_amp", "io.DataSkipping.scan_ratio",
      "operators.Dedup.pair_yield", "operators.Pq.recall_at_k")
  private val streaming =
    Seq("streamHourlyCensus", "streamDedup").flatMap(q =>
      Seq("trigger_s", "plan_s", "wal_s", "state_rows", "state_commit_s",
        "compiles").map(m => s"streaming.$q.$m"))
  /** The per-layer metrics of the result line, as BENCHMARK.json lists
    * them; a metric a workload never records reads 0. */
  val PerLayer: Seq[String] = engine ++
    spans.flatMap(s => Seq(s"$s.s", s"$s.jobs", s"$s.compiles")) ++
    gatedCounts ++ Seq("util.CacheScope.live") ++ streaming

  private val units = Map("setup_s" -> "s", "heap_live_peak_mb" -> "MB",
    "p50_s" -> "s", "aux_p50_s" -> "s")

  def perLayerUnit(n: String): String =
    if (n.endsWith("_s") || n.endsWith(".s")) "s"
    else if (n.endsWith("_mb")) "MB"
    else if (n.endsWith("_ratio") || n.endsWith("_amp") || n.endsWith("_yield") ||
      n.endsWith("_at_k")) "ratio"
    else "count"

  def session(a: Args): SparkSession = {
    val local = a.work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        a.work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = try Args.parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"[perfbench] ${e.getMessage}")
        sys.exit(2)
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Gen.deleteTree(args.work)
    Files.createDirectories(args.work)
    val spark = session(args)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(spark, Cores, listen = args.trace)
    val runner = new Runner(spark, args, tracer)
    val w: Workload = args.workload match {
      case "census_daily" => new CensusDaily(runner)
      case "store_upsert" => new StoreUpsert(runner)
      case "corpus_prep" => new CorpusPrep(runner)
      case "event_stream" => new EventStream(runner)
      case o =>
        System.err.println(s"[perfbench] unknown workload $o")
        spark.stop()
        sys.exit(2)
    }
    val g0 = System.nanoTime()
    val fingerprint = w.generate()
    val genS = (System.nanoTime() - g0) / 1e9
    if (args.ops.contains(0)) {
      // generation only: the self-test compares fingerprints
      println(Json(Map("report" -> Map("workload" -> args.workload,
        "seed" -> args.seed, "input_fingerprint" -> fingerprint))))
      spark.stop()
      sys.exit(0)
    }
    val setupFailure = try { w.setup(); None } catch {
      case e: OpFailed => Some(e.getCause)
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - genS

    val witness = new Witness
    witness.start()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // hard stop well inside the run's time limit, even if ops keep failing
    val limit = math.min(math.max(3.0 * args.seconds, args.seconds + 30.0), 120.0)
    if (setupFailure.isEmpty) try {
      args.ops match {
        case Some(n) => (0 until n).foreach(_ => w.step())
        case None =>
          while (elapsed < limit &&
                 (elapsed < args.seconds || w.headlineSamples < MinSamples))
            w.step()
      }
    } catch { case _: OpFailed => () }
    val measuredS = elapsed
    val late = try w.finalChecks() catch {
      case scala.util.control.NonFatal(e) => Seq(s"final check threw $e")
    }
    late.foreach(runner.failLate)
    val witnesses = witness.stop() ++ w.witnesses()
    runner.sampleHeap(force = true)

    def endToEnd(traced: Boolean): Map[String, Double] = {
      val m = mutable.LinkedHashMap[String, Double](
        "setup_s" -> setupS, "heap_live_peak_mb" -> runner.heapLivePeakMb)
      val h = runner.samples(w.headline, traced)
      if (h.nonEmpty) m("p50_s") = Stats.median(h)
      val x = runner.samples(w.aux, traced)
      if (x.nonEmpty) m("aux_p50_s") = Stats.median(x)
      m.toMap
    }

    // every latency kind under its own name, as the workload doc defines it
    val named = mutable.LinkedHashMap.empty[String, Any]
    runner.latencies.foreach { case (k, xs) =>
      named(s"${k}_p50_s") = Stats.median(xs.toSeq)
      if (xs.size >= 11) {
        val (v, pct, n) = Stats.tail(xs.toSeq)
        named(s"${k}_tail_s") = Map("value" -> v, "percentile" -> pct, "samples" -> n)
      } else named(s"${k}_samples") = xs.size
    }
    w.extraEndToEnd().foreach { case (k, v) => named(k) = v }
    named("fail_ratio") =
      if (runner.attempted == 0) 1.0 else runner.failed.toDouble / runner.attempted

    val e2e = endToEnd(traced = false)
    val perLayer: Map[String, Double] =
      if (!args.trace) Map.empty
      else {
        val counts = w.countMetrics()
        (PerLayer ++ tracer.perOp.keys ++ counts.keys).distinct.map { n =>
          val xs = tracer.perOp.get(n).map(_.toSeq).getOrElse(Nil)
          n -> (counts.get(n) match {
            case Some(v) => v
            case None if CountMetrics.contains(n) && xs.nonEmpty =>
              Stats.median(xs.take(CountPrefix))
            case None if xs.nonEmpty => Stats.median(xs)
            case None => 0.0
          })
        }.toMap
      }
    // traced minus untraced ops of this run; run.py adds set-up and heap
    // against the untraced run of the same seed
    val overhead =
      if (!args.trace) Map.empty[String, Double]
      else {
        val tr = endToEnd(traced = true)
        tr.collect { case (k, v) if e2e.contains(k) && k != "setup_s" &&
          k != "heap_live_peak_mb" => k -> (v - e2e(k)) }
      }

    val correct = runner.failed == 0 && setupFailure.isEmpty &&
      EndToEnd.forall(e2e.contains) && runner.attempted > 0
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace,
      "input_fingerprint" -> fingerprint, "gen_s" -> genS,
      "session_s" -> sessionS,
      "measured_s" -> measuredS, "ops" -> runner.attempted,
      "failed" -> runner.failed, "failures" -> runner.failures.toSeq,
      "end_to_end" -> e2e, "named" -> named, "witnesses" -> witnesses)
    setupFailure.foreach(e => report("setup_failure") = e.toString)
    if (args.trace) {
      report("per_layer") = perLayer
      report("tracing_overhead") = overhead
    }
    Files.writeString(args.work.resolveSibling(args.work.getFileName.toString +
      ".report.json"), Json(report) + "\n")
    if (args.trace)
      Files.writeString(args.work.resolveSibling(args.work.getFileName.toString +
        ".spans.json"), Json(tracer.spansJson) + "\n")

    val metrics: Map[String, Map[String, Any]] =
      if (args.trace) PerLayer.map { k =>
        k -> Map("value" -> perLayer(k), "unit" -> perLayerUnit(k)) }.toMap
      else e2e.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) }
    println(Json(Map("report" -> report)))
    w.close()
    spark.stop()
    println(Json(mutable.LinkedHashMap("correct" -> correct,
      "attempted" -> math.max(runner.attempted, 1), "failed" ->
        (if (runner.attempted == 0) 1 else runner.failed),
      "metrics" -> metrics)))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
