package graftbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

/** One benchmark workload. `generate` derives every input from the
  * seed alone; `setup` builds the base state and runs untimed warm-up
  * ops; `step` runs the next timed op (or fixed cycle of ops). */
trait Workload {
  def runner: Runner

  /** Write the inputs; returns a fingerprint of everything generated. */
  def generate(): String

  def setup(): Unit

  def step(): Unit

  /** Samples of the headline latency collected so far. */
  def headlineSamples: Int

  /** The headline and auxiliary op kinds, reported under the generic
    * end-to-end names `p50_s` and `aux_p50_s`. */
  def headline: String
  def aux: String

  /** Workload-specific values for the report: end-to-end metrics the
    * generic names do not carry (e.g. `space_amp`) and per-layer
    * counts. */
  def extraEndToEnd(): Map[String, Double] = Map.empty
  def countMetrics(): Map[String, Double] = Map.empty

  /** Checks that can only run once the loop is over (e.g. a drained
    * stream); each returned string is one failed check. */
  def finalChecks(): Seq[String] = Nil

  /** Extra workload diagnostics for the report. */
  def witnesses(): Map[String, Any] = Map.empty

  def close(): Unit = ()
}

/** Seeded randomness and hashing shared by the generators. */
object Gen {
  /** An independent stream for (seed, purpose, index). */
  def rng(seed: Long, purpose: String, index: Long = 0L): SplittableRandom = {
    val d = MessageDigest.getInstance("SHA-256")
      .digest(s"$seed/$purpose/$index".getBytes("UTF-8"))
    new SplittableRandom(java.nio.ByteBuffer.wrap(d).getLong)
  }

  /** Incremental SHA-256 over generated content. */
  final class Hasher {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): this.type = { md.update(s.getBytes("UTF-8")); md.update(0.toByte); this }
    def add(b: Array[Byte]): this.type = { md.update(b); md.update(0.toByte); this }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Zipf(s) sampler over ranks 1..n (rank 1 most likely). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      (if (i >= 0) i else -i - 1).min(n - 1) + 1
    }
  }

  /** A Poisson(mean) count (Knuth's product of uniforms; mean < 700). */
  def poisson(r: SplittableRandom, mean: Double): Int = {
    val limit = math.exp(-mean)
    var k = 0
    var p = r.nextDouble()
    while (p > limit) { k += 1; p *= r.nextDouble() }
    k
  }

  def writeFile(p: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try {
      var n = 0L
      s.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
      n
    } finally s.close()
  }
}
