package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** End-to-end training-corpus preparation, composing the pipeline
  * primitives the way a 100 TB pretraining-data job would: quality
  * stats → language filter → exact dedup → near-dup removal. Each
  * stage is one of the independently-verified operators; this is the
  * composition, not new semantics.
  *
  * Stage costs: stats/lang are map-side projections on the scan;
  * exact dedup is one hash-aggregate; near-dup removal is the
  * MinHash-LSH banded join producing a (usually tiny) drop-list that
  * broadcasts back as a left-anti join. Nothing driver-side.
  */
object TrainingPipeline {

  final case class Config(minTokens: Int = 20,
                          maxStopRatio: Double = 0.9,
                          langs: Set[String] = Set("en", "es", "de", "fr"),
                          shingleN: Int = 3,
                          nearDupThreshold: Double = 0.8)

  /** `docs(id, text)` → surviving docs with lineage columns
    * (n_tokens, lang_pred).
    *
    * Near-dup policy: a doc drops if it appears as the larger id of
    * ANY detected pair — i.e. each near-dup *chain* collapses to its
    * smallest-id member (A~B, B~C ⇒ keep A only, even if A≁C). That
    * is the usual connected-component dedup bias toward recall
    * (dropping borderline variants) over retention; a keep-first
    * greedy that re-admits chain tails would keep C — choose per
    * corpus policy.
    */
  def prepare(docs: DataFrame, id: Column, text: Column,
              cfg: Config = Config()): DataFrame =
    prepareWith(docs, id, text, cfg,
      (d, i, t) => Dedup.minhashLshPairs(d, i, t,
        n = cfg.shingleN, threshold = cfg.nearDupThreshold))

  /** `prepareWith` + benchmark decontamination — the last gate of a
    * real pretraining prep: after quality/lang/dedup, drop any
    * surviving doc whose `benchN`-gram overlap with the held-out
    * `bench` corpus reaches `maxOverlap`
    * (`Decontaminate.overlapStats`; the bench shingle set broadcasts,
    * so the extra stage costs one more pass over the SURVIVORS, not
    * the raw corpus). Docs too short to shingle have no overlap row
    * and survive. */
  def prepareDecontaminatedWith(docs: DataFrame, id: Column, text: Column,
                                cfg: Config, bench: DataFrame,
                                benchId: Column, benchText: Column,
                                benchN: Int, maxOverlap: Double,
                                pairGen: (DataFrame, Column, Column) => DataFrame)
      : DataFrame = {
    // persisted: `prepped` feeds BOTH the overlap scan and the final
    // anti-join — without caching, everything upstream of it (the
    // staged gates, the exact-dedup aggregate, and the near-dup pair
    // join, the pipeline's priciest stage) executes twice unless
    // exchange reuse happens to fire. With the cache, decontamination
    // really does cost one more pass over the survivors.
    val prepped = prepareWith(docs, id, text, cfg, pairGen)
      .transform(graft.util.CacheScope.persist(_))
    val benchConformed = bench.select(benchId.as("id"), benchText.as("text"))
    val contaminated = Decontaminate.overlapStats(prepped, benchConformed,
        col("id"), col("text"), benchN, maxOverlap)
      .where(col("contaminated") === 1).select("id")
    prepped.join(contaminated, Seq("id"), "left_anti")
  }

  /** [[prepareDecontaminatedWith]] with a PREBUILT bench sketch
    * ([[Decontaminate.buildBenchSketch]]): the per-batch shape — a
    * daily-ingest pipeline builds the sketch once per bench corpus
    * and prepares every batch against it without re-paying the
    * bench-side count/build/broadcast (or any bench scan at all).
    * The gate is the sketch probe, so its false-positive direction is
    * drop-MORE — the safe side for decontamination. */
  def prepareDecontaminatedSketch(docs: DataFrame, id: Column, text: Column,
                                  cfg: Config,
                                  sketch: Decontaminate.BenchSketch,
                                  maxOverlap: Double,
                                  pairGen: (DataFrame, Column, Column) => DataFrame)
      : DataFrame = {
    // same single-extra-pass caching argument as prepareDecontaminatedWith
    val prepped = prepareWith(docs, id, text, cfg, pairGen)
      .transform(graft.util.CacheScope.persist(_))
    val contaminated = Decontaminate.overlapStatsBloom(prepped, sketch,
        col("id"), col("text"), maxOverlap)
      .where(col("contaminated") === 1).select("id")
    prepped.join(contaminated, Seq("id"), "left_anti")
  }

  /** As `prepare`, but with a pluggable near-dup pair generator —
    * MinHash-LSH is the scale default; the exact n-gram jaccard
    * generator makes the whole pipeline SQL-reproducible
    * (q_training_prep_jaccard's oracle). */
  def prepareWith(docs: DataFrame, id: Column, text: Column,
                  cfg: Config,
                  pairGen: (DataFrame, Column, Column) => DataFrame)
      : DataFrame = {
    val toks = TextFns.tokens(text)
    // persisted: the gate projection feeds the fingerprint aggregate,
    // the canonical join, the LSH pairs job and the final anti-join —
    // without caching that is four corpus scans of the priciest
    // per-row text work
    // stopwords counted over lowercased tokens (mixed-case corpora
    // would otherwise undercount sentence-initial stopwords)
    val lowToks = TextFns.tokens(lower(text))
    val staged = docs.select(id.as("id"), text.as("text"),
        size(toks).cast("long").as("n_tokens"),
        (TextFns.stopwordHits(lowToks, TextFns.stopwordsEn).cast("double") /
          size(toks).cast("double")).as("stop_ratio"),
        TextFns.langId(text).as("lang_pred"))
      .where(col("n_tokens") >= cfg.minTokens &&
        col("stop_ratio") <= cfg.maxStopRatio &&
        col("lang_pred").isInCollection(cfg.langs))
      .transform(graft.util.CacheScope.persist(_))
    // exact dedup: keep the canonical (minimum) id per fingerprint
    val canonical = Dedup.exact(staged, col("id"), col("text"))
      .select(col("canonical_id").as("id"))
    val exactDeduped = staged.join(canonical, "id")
    // near-dup removal: drop the higher id of each detected pair
    val dropList = pairGen(exactDeduped, col("id"), col("text"))
      .select(col("id_b").as("id")).distinct()
    exactDeduped.join(dropList, Seq("id"), "left_anti")
      .select("id", "text", "n_tokens", "lang_pred")
  }
}
