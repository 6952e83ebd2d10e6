package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The kit every main (Bench, Verify, AsofBench, SkewBench, StoreBench,
  * StreamBench, Explain, ScaleUp) shares: validated `SPARK_GRAFT_*`
  * knobs, a profiled local session, the host-stall probe, timing and
  * alternating A/B helpers, and one way to publish a result line.
  *
  * Knobs are parsed before the session starts, so a malformed value
  * fails at once with an `IllegalArgumentException` that names the
  * variable and the value, not as a `NumberFormatException` deep in a
  * read path. */
object Harness {

  // ---------------- knobs ----------------

  /** The one read of the process environment. */
  private val processEnv: String => Option[String] = sys.env.get

  private def parsed[T](name: String, default: T, env: String => Option[String],
                        expected: String)(parse: String => Option[T]): T =
    env(name).fold(default) { v =>
      parse(v.trim).getOrElse(throw new IllegalArgumentException(
        s"$name must be $expected, got '$v'"))
    }

  def positiveLong(name: String, default: Long,
                   env: String => Option[String] = processEnv): Long =
    parsed(name, default, env, "a positive integer")(
      _.toLongOption.filter(_ > 0))

  def positiveInt(name: String, default: Int,
                  env: String => Option[String] = processEnv): Int =
    parsed(name, default, env, "a positive integer")(
      _.toIntOption.filter(_ > 0))

  /** An integer in [0, 100]. */
  def percent(name: String, default: Int,
              env: String => Option[String] = processEnv): Int =
    parsed(name, default, env, "an integer in [0, 100]")(
      _.toIntOption.filter(p => p >= 0 && p <= 100))

  /** An integer ≥ 0, for knobs where 0 means off. */
  def nonNegativeInt(name: String, default: Int,
                     env: String => Option[String] = processEnv): Int =
    parsed(name, default, env, "a non-negative integer")(
      _.toIntOption.filter(_ >= 0))

  /** A finite number ≥ 0. */
  def nonNegative(name: String, default: Double,
                  env: String => Option[String] = processEnv): Double =
    parsed(name, default, env, "a non-negative number")(
      _.toDoubleOption.filter(x => x >= 0 && !x.isInfinite))

  /** A fraction in (0, 1]. */
  def fraction(name: String, default: Double,
               env: String => Option[String] = processEnv): Double =
    parsed(name, default, env, "a number in (0, 1]")(
      _.toDoubleOption.filter(x => x > 0 && x <= 1))

  /** `1`/`true` or `0`/`false`. */
  def flag(name: String, default: Boolean,
           env: String => Option[String] = processEnv): Boolean =
    parsed(name, default, env, "1, 0, true or false")(_.toLowerCase match {
      case "1" | "true" => Some(true)
      case "0" | "false" => Some(false)
      case _ => None
    })

  def oneOf(name: String, default: String, allowed: Seq[String],
            env: String => Option[String] = processEnv): String =
    parsed(name, default, env, allowed.mkString("one of ", ", ", ""))(
      Some(_).filter(allowed.contains))

  /** A path or name; blank is malformed. */
  def text(name: String, default: String,
           env: String => Option[String] = processEnv): String =
    parsed(name, default, env, "non-blank")(Some(_).filter(_.nonEmpty))

  /** Comma-separated names, each one of `known`, in the given order
    * without repeats; empty entries are skipped, and a list with no
    * name or an unknown one is malformed. */
  def names(name: String, default: Seq[String], known: String => Boolean,
            env: String => Option[String] = processEnv): Seq[String] =
    env(name).fold(default) { v =>
      val ns = v.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
      val unknown = ns.filterNot(known)
      if (ns.isEmpty || unknown.nonEmpty) throw new IllegalArgumentException(
        s"$name must list known query names, got '$v'" +
          (if (unknown.isEmpty) "" else unknown.mkString(" (unknown: ", ", ", ")")))
      ns
    }

  /** Local cores: `SPARK_GRAFT_CPUS`, by default this host's. */
  def cpus(default: Int = Runtime.getRuntime.availableProcessors): Int =
    positiveInt("SPARK_GRAFT_CPUS", default)

  /** Initial shuffle partitions: `SPARK_GRAFT_SHUFFLE`, default `cpus`.
    * AQE only coalesces down from it, so scale runs raise it. */
  def shuffle(cpus: Int): Int = positiveInt("SPARK_GRAFT_SHUFFLE", cpus)

  /** Scale-factor directory: `SPARK_GRAFT_SF_DIR`, `default` when
    * unset; with no default it must be set. */
  def sfDir(default: String = ""): String = {
    val dir = text("SPARK_GRAFT_SF_DIR", default)
    require(dir.nonEmpty, "SPARK_GRAFT_SF_DIR must name a scale-factor directory")
    dir
  }

  private lazy val benchOut: Option[String] =
    Some(text("SPARK_GRAFT_BENCH_OUT", "")).filter(_.nonEmpty)

  /** A `local[cpus]` session on [[Session.profile]] with [[shuffle]]
    * partitions plus `conf`. Forces the shared knobs first, so a bad
    * one fails before any Spark start-up. */
  def session(logLevel: String = "WARN", conf: Map[String, String] = Map.empty,
              cpus: Int = Harness.cpus()): SparkSession = {
    benchOut
    val spark = Session.profile(SparkSession.builder().master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", shuffle(cpus).toString)
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  // ---------------- host witnesses ----------------

  def loadavg: String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case NonFatal(_) => "" }

  /** Host-stall probe: a daemon thread sleeps 100 ms in a loop and,
    * whenever it oversleeps by more than 150 ms (the 100 ms sleep took
    * over 250 ms), accumulates the oversleep — time the guest simply did not run.
    * On a Firecracker-class VM host CPU oversubscription is invisible
    * to every guest metric (steal stays 0, loadavg and PSI see only
    * guest-side queuing), yet it multiplies wall-clock timings; a
    * sleeper that oversleeps is the one guest-visible witness. */
  object StallProbe {
    @volatile private var stallNanos = 0L
    private lazy val thread = {
      val t = new Thread(() => {
        while (true) {
          val t0 = System.nanoTime()
          try Thread.sleep(100) catch { case _: InterruptedException => }
          val over = System.nanoTime() - t0 - 100000000L
          if (over > 150000000L) stallNanos += over
        }
      }, "graft-stall-probe")
      t.setDaemon(true)
      t.start()
      t
    }
    /** Starts the probe; later calls do nothing. */
    def start(): Unit = thread
    def totalSec: Double = stallNanos / 1e9
  }

  // ---------------- timing ----------------

  /** Median; -1.0 for no samples, so a JSON field stays a number. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Seconds as a JSON array, to the millisecond. */
  def jarr(xs: Seq[Double]): String =
    xs.map(x => math.round(x * 1000) / 1000.0).mkString("[", ",", "]")

  /** `x` to two decimals, for single-number JSON fields. */
  def r2(x: Double): Double = math.round(x * 100) / 100.0

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Between-arm hygiene, outside every timer: drop persisted frames,
    * the checkpoint blocks clearCache cannot see (unless a frame that
    * outlives the arm is checkpointed: a local checkpoint cannot be
    * recomputed), and the previous arm's garbage. */
  def sweep(spark: SparkSession, checkpoints: Boolean = true): Unit = {
    spark.sharedState.cacheManager.clearCache()
    if (checkpoints)
      org.apache.spark.sql.graft.CheckpointBridge
        .unpersistAll(spark, blocking = true)
    System.gc()
  }

  /** Per-arm seconds of an [[alternate]] loop, and each run's stall. */
  final case class Runs(times: Map[String, Seq[Double]], stalls: Seq[Double]) {
    def median(arm: String): Double = Harness.median(times(arm))
  }

  /** `runs` rounds of every arm, timed, with `between` after each
    * arm. Odd rounds run the arms in reverse, so host drift cannot
    * systematically favour the arm that goes first. */
  def alternate(tag: String, runs: Int, arms: Seq[(String, () => Unit)],
                between: () => Unit): Runs = {
    StallProbe.start()
    val times = arms.map(_._1 -> ArrayBuffer.empty[Double]).toMap
    val stalls = ArrayBuffer.empty[Double]
    for (r <- 0 until runs) {
      val s0 = StallProbe.totalSec
      (if (r % 2 == 0) arms else arms.reverse).foreach { case (name, body) =>
        times(name) += timed(body())
        between()
      }
      stalls += StallProbe.totalSec - s0
      System.err.println(s"[$tag] run $r " + arms.map { case (name, _) =>
        f"$name=${times(name).last}%.2f s" }.mkString(" ") +
        f" stall=${stalls.last}%.2f s")
    }
    Runs(times.map { case (k, v) => k -> v.toSeq }, stalls.toSeq)
  }

  // ---------------- output ----------------

  /** Prints the one-line JSON result to stdout and writes it to
    * `SPARK_GRAFT_BENCH_OUT`, by default to `out` or else to
    * `.harness_out/<harness>[_<kind>].json` (gitignored, so a run never
    * overwrites a committed record). A failed write is reported, not
    * fatal: the stdout line is the record. */
  def emit(harness: String, json: String, kind: String = "", out: String = ""): Unit = {
    println(json)
    val path = Paths.get(benchOut.getOrElse(if (out.nonEmpty) out
      else s".harness_out/$harness${if (kind.isEmpty) "" else "_" + kind}.json"))
    try {
      Option(path.getParent).foreach(Files.createDirectories(_))
      Files.writeString(path, json + "\n")
    } catch { case NonFatal(e) =>
      System.err.println(s"[$harness] write $path failed: $e") }
  }
}
