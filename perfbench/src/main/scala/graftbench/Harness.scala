package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, work: Path, ops: Option[Int])

object Args {
  private val usage = "usage: --workload <name> --seed <n> --seconds <n> " +
    "--trace <0|1> --work <dir> [--ops <n>]"

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, usage)
    val m = argv.grouped(2).map { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(
      s"missing $k; $usage"))
    def num(k: String) = get(k).toLongOption.getOrElse(
      throw new IllegalArgumentException(s"$k must be a whole number"))
    val trace = get("--trace") match {
      case "0" => false
      case "1" => true
      case o => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $o")
    }
    val a = Args(get("--workload"), num("--seed"), num("--seconds").toInt,
      trace, Paths.get(get("--work")).toAbsolutePath,
      m.get("--ops").map(_ => num("--ops").toInt))
    require(a.seconds >= 1, "--seconds must be at least 1")
    require(a.ops.forall(_ >= 0), "--ops must not be negative")
    a
  }
}

/** Percentiles as the benchmark reports them. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, sample count). Needs eleven samples. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    require(n >= 11, s"a tail needs at least 11 samples, got $n")
    val s = xs.sorted
    (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Run diagnostics. They never gate a run; they let a noisy run be
  * recognised from its output alone. */
final class Witness {
  @volatile private var stallNs = 0L
  @volatile private var running = true
  private val probe = new Thread(() => {
    while (running) {
      val t0 = System.nanoTime()
      try Thread.sleep(20) catch { case _: InterruptedException => () }
      val over = System.nanoTime() - t0 - 20000000L
      if (over > 10000000L) stallNs += over
    }
  }, "bench-stall-probe")
  probe.setDaemon(true)
  probe.start()

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def loadavg: String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: java.io.IOException => "" }

  private var load0 = ""
  private var gc0 = 0L
  private var stall0 = 0L

  def start(): Unit = { load0 = loadavg; gc0 = gcMs; stall0 = stallNs }

  def stop(): Map[String, Any] = {
    running = false
    probe.interrupt()
    probe.join()
    Map("loadavg_before" -> load0, "loadavg_after" -> loadavg,
      "stall_oversleep_s" -> (stallNs - stall0) / 1e9,
      "gc_s" -> (gcMs - gc0) / 1000.0)
  }
}

/** Closed-loop op runner: times each op, checks its output outside
  * the timer, samples the live heap between ops, and in a traced run
  * traces every other op of each kind, so traced and untraced ops are
  * measured in the same process. */
final class Runner(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val tracedLatencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  private var opCount = 0
  private val kindCount = mutable.Map.empty[String, Int]
  private var heapPeakMb = 0.0
  private var lastHeapSample = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Set during set-up: warm-up ops are checked but neither timed
    * into the results nor traced. */
  var warm = false

  /** Time `work` as one op of `kind`; `check` judges its output. Ops
    * alternate traced and untraced per `traceKey`, so that a periodic
    * op variant (a commit that also runs maintenance) is traced too. */
  def op[T](kind: String, traceKey: String = "")(work: => T)
           (check: T => Option[String]): T = {
    val key = if (traceKey.isEmpty) kind else traceKey
    val n = kindCount.getOrElse(key, 0)
    if (!warm) kindCount(key) = n + 1
    val traced = !warm && args.trace && n % 2 == 0
    tracer.beginOp(opCount, traced)
    val t0 = System.nanoTime()
    val out = try Right(work) catch {
      case scala.util.control.NonFatal(e) => Left(e)
    }
    val lat = (System.nanoTime() - t0) / 1e9
    tracer.record("util.CacheScope.live", graft.util.CacheScope.liveCount.toDouble)
    tracer.endOp()
    System.err.println(f"[perfbench] $kind%s $lat%.3f s" +
      (if (warm) " (warm-up)" else if (traced) " (traced)" else ""))
    val problem = out match {
      case Left(e) => Some(s"$kind threw ${e.getClass.getName}: ${e.getMessage}")
      case Right(v) => check(v)
    }
    if (!warm || problem.isDefined) { opCount += 1; attempted += 1 }
    problem match {
      case Some(p) =>
        failed += 1
        if (failures.size < 20) failures += p
        System.err.println(s"[perfbench] FAILED $kind op: $p")
      case None if !warm =>
        val into = if (traced) tracedLatencies else latencies
        into.getOrElseUpdate(kind, mutable.ArrayBuffer.empty[Double]) += lat
      case None => ()
    }
    if (!warm) sampleHeap()
    out.fold(e => throw new OpFailed(e), identity)
  }

  /** Count a failed check found after its op had already ended. */
  def failLate(p: String): Unit = {
    failed = math.min(failed + 1, attempted)
    if (failures.size < 20) failures += p
    System.err.println(s"[perfbench] FAILED check: $p")
  }

  /** Record a latency measured inside an op (a checkpoint on its way
    * to the op's end) under its own kind. */
  def checkpoint(kind: String, seconds: Double): Unit =
    if (!warm) {
      val into = if (tracer.traced) tracedLatencies else latencies
      into.getOrElseUpdate(kind, mutable.ArrayBuffer.empty[Double]) += seconds
    }

  /** Largest heap in use right after a full collection, sampled at
    * most every five seconds between ops (never inside a timed op).
    * Spark frees broadcast and shuffle blocks only once its cleaner
    * thread has seen their handles collected; the pause between two
    * collections lets it, so blocks already released do not count. */
  def sampleHeap(force: Boolean = false): Unit = {
    val now = System.nanoTime()
    if (force || now - lastHeapSample > 5000000000L) {
      System.gc()
      Thread.sleep(150)
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      heapPeakMb = math.max(heapPeakMb, used / 1048576.0)
      lastHeapSample = System.nanoTime()
    }
  }

  def heapLivePeakMb: Double = heapPeakMb

  /** The latency samples of one op kind, untraced or traced. */
  def samples(kind: String, traced: Boolean = false): Seq[Double] =
    (if (traced) tracedLatencies else latencies)
      .get(kind).fold(Seq.empty[Double])(_.toSeq)
}

/** An op whose work threw: the loop stops, the failure is counted. */
final class OpFailed(cause: Throwable) extends RuntimeException(cause)

/** Minimal JSON writer for the report lines. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
