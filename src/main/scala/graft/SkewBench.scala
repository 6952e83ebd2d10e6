package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Adversarial pricing of the containment estimator's bucket-skew
  * valves (r10 verdict #3): q109's single-position banding keys a
  * bucket on ONE min-hash value, so boilerplate that owns many docs'
  * minimum (a license header, a site template) concentrates those
  * docs into one bucket per band — the candidate join's per-bucket
  * cost is quadratic in bucket size. The operator carries two valves
  * — `maxBucketSize` (recall-lossy: drops over-cap buckets) and
  * `salt` (recall-preserving: splits a hot bucket's n² work across S
  * tasks) — whose story was argued from construction but never
  * MEASURED against a planted hot shingle. This main is that
  * measurement.
  *
  * Setup: a `headerTokens`-token license header is prepended to
  * `hotFrac` of the corpus (P(header owns a band's minimum) ≈
  * header/(header+body) per band — the planted skew). Two families
  * of doc-in-doc plants (big doc, contained quarter-slice, size
  * ratio 4 → est_jaccard ≈ 1/4, single-position collision P ≈
  * 1−(3/4)^32 ≈ 99.99%): CLEAN plants share no boilerplate — every
  * arm must find 100% of them (asserted; exit 1 on violation) —
  * and HOT plants carry the header on both sides, so their
  * collisions ride the very buckets the cap drops: the capped arm's
  * hot-plant recall is the measured price of the recall-lossy
  * valve, and the salted arm proves the preserving one (recall 1.0,
  * candidate set identical to unvalved, asserted).
  *
  * Per arm (unvalved / cap / salt / cap+salt): median timed
  * detection pass at `threshold` over `SPARK_GRAFT_BENCH_RUNS`
  * runs (arm order alternates), candidate-pair count at threshold 0
  * (the banding's raw output — the skew witness), and both plant
  * recalls. Signatures are computed ONCE outside the timers: the
  * valves act on the banding join, and signature hashing is
  * identical on every arm. */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir("bench_data/sf1")
    val runs = Harness.positiveInt("SPARK_GRAFT_BENCH_RUNS", 3)
    val hotFrac = Harness.fraction("SPARK_GRAFT_SKEW_HOTFRAC", 0.05)
    val headerTokens = Harness.positiveInt("SPARK_GRAFT_SKEW_HEADER_TOKENS", 30)
    val numHashes = 32
    val threshold = 0.5
    val nPlants = 20
    val cap = Harness.positiveInt("SPARK_GRAFT_SKEW_CAP", 64)
    val saltS = Harness.positiveInt("SPARK_GRAFT_SKEW_SALT", 8)

    val spark = Harness.session()
    import spark.implicits._

    val header = (1 to headerTokens).map(i => s"lichdr$i").mkString(" ")
    // the hot slice is chosen by id hash, not id range (generation
    // order correlates with content)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val hotMod = math.max(1, math.round(1.0 / hotFrac).toInt)
    val withHeader = docs.select(col("doc_id"),
      when(pmod(xxhash64(col("doc_id")), lit(hotMod)) === 0,
        concat(lit(header + " "), col("text"))).otherwise(col("text"))
        .as("text"))

    // plants: big = 120 unique tokens, small = its middle quarter
    // (tokens 40..69) → n_sh ratio ≈ 4. Ids far above the corpus.
    def plantRows(tag: String, withHdr: Boolean, base: Long) =
      (0 until nPlants).flatMap { i =>
        val toks = (1 to 120).map(j => s"$tag${i}x$j")
        val big = toks.mkString(" ")
        val small = toks.slice(40, 70).mkString(" ")
        val h = if (withHdr) header + " " else ""
        Seq((base + 2L * i, h + big), (base + 2L * i + 1, h + small))
      }
    val cleanBase = 800000000L
    val hotBase = 900000000L
    val planted = (plantRows("cp", withHdr = false, cleanBase) ++
      plantRows("hp", withHdr = true, hotBase)).toDF("doc_id", "text")
    val corpus = withHeader.unionByName(planted)

    // signatures once, to parquet (identical on every arm; the valves
    // act on the banding join, which is what the timers price)
    val sigDir = "/tmp/graft_skew_bench/sigs"
    Dedup.minhashSignaturesWithSize(corpus, col("doc_id"), col("text"),
        n = 3, numHashes = numHashes)
      .write.mode("overwrite").parquet(sigDir)
    val sigs = spark.read.parquet(sigDir)
    val corpusRows = sigs.count()

    val arms: Seq[(String, Option[Int], Int)] = Seq(
      ("unvalved", None, 1),
      ("cap", Some(cap), 1),
      ("salt", None, saltS),
      ("cap_salt", Some(cap), saltS))

    def run(capOpt: Option[Int], salt: Int, thr: Double): DataFrame =
      Dedup.containmentFromSignatures(sigs, numHashes, thr,
        maxBucketSize = capOpt, salt = salt)

    spark.range(1000).selectExpr("sum(id)").count() // warmup
    sigs.count()

    // recall: a planted pair is (base+2i, base+2i+1); found when the
    // detection output contains it either way around
    def recall(out: DataFrame, base: Long): Double = {
      val hits = out
        .where(col("id_a") >= base && col("id_a") < base + 2L * nPlants)
        .select(least(col("id_a"), col("id_b")).as("lo"),
          greatest(col("id_a"), col("id_b")).as("hi"))
        .where(col("lo") % 2 === 0 && col("hi") === col("lo") + 1)
        .distinct().count()
      hits.toDouble / nPlants
    }

    val loadBefore = Harness.loadavg
    val res = Harness.alternate("skew-bench", runs,
      arms.map { case (name, c, s) => name -> (() =>
        run(c, s, threshold).write.format("noop").mode("overwrite").save()) },
      () => Harness.sweep(spark))
    // witnesses, once per arm (counts, not times)
    val witness = arms.map { case (name, c, s) =>
      val candidates = run(c, s, thr = 0.0).count()
      val out = run(c, s, threshold)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rClean = recall(out, cleanBase)
      val rHot = recall(out, hotBase)
      out.unpersist()
      Harness.sweep(spark)
      System.err.println(f"[skew-bench] $name%-9s candidates=$candidates%,d " +
        f"recall_clean=$rClean%.2f recall_hot=$rHot%.2f")
      name -> ((candidates, rClean, rHot))
    }.toMap
    val loadAfter = Harness.loadavg

    // The contract under test, asserted. Baseline recall is measured
    // RELATIVE to the unvalved arm: the estimator itself misses a
    // plant now and then at the detection threshold (est_jaccard ~
    // Binomial(numHashes, J)/numHashes puts ~4% of ratio-4 plants
    // under cont 0.5 — estimator variance, spec'd in
    // DedupSimilaritySpec, not a valve property), so the valves are
    // graded on what they LOSE vs unvalved, plus an absolute 0.9
    // banding-sanity floor on the unvalved arm.
    var violations = List.empty[String]
    val (uCands, uClean, uHot) = witness("unvalved")
    if (uClean < 0.9 || uHot < 0.9)
      violations ::= s"unvalved under the banding floor ($uClean/$uHot)"
    if (witness("salt")._1 != uCands)
      violations ::= "salt changed the candidate count"
    if (witness("salt")._2 < uClean || witness("salt")._3 < uHot)
      violations ::= "salt (the recall-preserving valve) lost plants"
    if (witness("cap")._2 < uClean)
      violations ::= "cap dropped CLEAN plants (their buckets are small)"
    violations.foreach(v => System.err.println(s"[skew-bench] VIOLATION: $v"))

    def jArm(name: String): String = {
      val (cands, rc, rh) = witness(name)
      s""""$name":{"median_sec":${res.median(name)}""" +
        s""","candidates":$cands,"recall_clean":$rc,"recall_hot":$rh}"""
    }
    Harness.emit("SkewBench",
      s"""{"metric":"containment_skew","unit":"sec","runs":$runs""" +
        s""","arms":{${arms.map(a => jArm(a._1)).mkString(",")}}""" +
        s""","corpus_rows":$corpusRows,"hot_frac":$hotFrac""" +
        s""","header_tokens":$headerTokens,"cap":$cap,"salt":$saltS""" +
        s""","num_hashes":$numHashes,"threshold":$threshold""" +
        s""","planted_pairs_per_family":$nPlants""" +
        s""","stall_sec":${res.stalls.map(Harness.r2).mkString("[", ",", "]")}""" +
        s""","violations":${violations.map("\"" + _ + "\"")
          .mkString("[", ",", "]")}""" +
        s""","loadavg_before":"$loadBefore","loadavg_after":"$loadAfter"""" +
        s""","cpus":"${Harness.cpus()}","shuffle":"${Harness.shuffle(Harness.cpus())}","sf":"$sfDir"}""")
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
