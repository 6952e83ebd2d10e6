package graft

import org.apache.spark.sql.functions._

import graft.obs.Meter
import graft.operators.Dedup

/** The salted bucket self-join is spec-tested for pair-equivalence on
  * a benign corpus elsewhere (DedupSimilaritySpec); this suite
  * exercises it on an actually *skewed* one — 1000 identical docs
  * forced into a single LSH band, i.e. one hot (band, key) bucket
  * holding the whole corpus — and measures the per-task work with a
  * [[Meter]]. The metric is max shuffle-write records per task:
  * the candidate pairs a single join task generates. Unsalted, the
  * hot bucket's ~500k pairs come out of ONE task; with salt=8 the
  * bucket runs as 8 tasks of ~1/8 the pairs each, and the pair set is
  * byte-identical.
  */
class SkewGuardSpec extends GraftSuite {

  test("salt=8 splits a hot LSH bucket's pair generation ~8 ways, pairs identical") {
    import spark.implicits._
    val hot = (0L until 1000L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val rest = (1000L until 1050L).map(i =>
      (i, s"unique document body token$i alpha$i beta$i gamma$i"))
    val docs = (hot ++ rest).toDF("doc_id", "text")
      .repartition(8).cache()
    docs.count()

    // bands=1 → one band; every identical doc lands in ONE hot
    // (band, hash) bucket. Force the shuffled-join path: broadcast
    // would hide the skew, AQE's own skew-split would fix it for us —
    // this spec measures OUR guard, so both are off for the run.
    val conf = spark.conf
    val saved = Seq("spark.sql.shuffle.partitions",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.shuffle.partitions", "32")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")

      def measure(salt: Int): Long = {
        val (_, c) = Meter.measure(spark.sparkContext, s"skewguard-$salt")(
          Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
              n = 3, numHashes = 32, bands = 1, threshold = 0.5, salt = salt)
            .write.format("noop").mode("overwrite").save())
        spark.sharedState.cacheManager.clearCache()
        c.maxTaskShuffleWrites
      }
      val unsaltedMax = measure(1)
      val saltedMax = measure(8)
      info(s"max pairs written by one task: unsalted=$unsaltedMax salted=$saltedMax")
      // hot bucket = C(1000,2) = 499500 pairs in one task unsalted;
      // salted ≈ 1/8 per salt group, but two of the 8 groups can
      // share a shuffle partition (birthday over 32 partitions), so
      // assert a conservative ≥3× split, and that unsalted really did
      // concentrate the bucket in one task (measured: 499500 vs
      // 131787 = 3.8×)
      assert(unsaltedMax >= 499500L,
        s"expected the unsalted hot bucket in one task, saw $unsaltedMax")
      assert(saltedMax * 3 <= unsaltedMax,
        s"salting did not spread the hot bucket: $saltedMax vs $unsaltedMax")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }

    // pair sets are identical (run under restored session confs)
    def pairs(salt: Int) =
      Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        n = 3, numHashes = 32, bands = 1, threshold = 0.5, salt = salt)
    val p1 = pairs(1)
    val p8 = pairs(8)
    assert(p1.count() == 499500L)
    assert(p8.count() == 499500L)
    assert(p1.except(p8).isEmpty && p8.except(p1).isEmpty)
    docs.unpersist()
  }
}
