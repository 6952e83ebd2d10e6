package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.io.Cleanser

/** Corpus-level token statistics and the filters built on them:
  * document frequencies, boilerplate-token pruning (CCNet-style
  * "remove what almost every document repeats"), and
  * document-frequency rarity scoring as a cheap quality signal.
  *
  * Not reference operators: part of the LLM-training-data surface
  * this engine adds beyond the reference's ETL scope.
  *
  * Scale shape:
  *  - `docFrequencies` is scan → per-row `array_distinct` (map-side
  *    dedup before the explode) → one vocabulary-keyed count. The
  *    shuffle carries one row per (doc, distinct token); the result
  *    is VOCABULARY-sized — tiny relative to any corpus.
  *  - `removeBoilerplate` folds the hot-token set into a ONE-ROW
  *    broadcast array (the watermark-scalar pattern used across this
  *    repo) and rewrites every document map-side with a codegen'd
  *    `filter(tokens, !array_contains(hot, _))` — no doc-keyed
  *    shuffle, no explode/reassemble round trip of the corpus. Hot
  *    sets are boilerplate by definition (df above a large fraction
  *    of N), so the array is small and bounded by the vocabulary.
  *  - `rarityStats` joins token occurrences to the vocabulary table
  *    (broadcast when small, else a token-keyed shuffle of (id,
  *    token) longs) and rolls up integer sums per doc — exact, no
  *    float accumulation across rows (cross-row float sums are
  *    order-dependent and would break oracle hash parity).
  */
object CorpusStats {

  /** Normalized whitespace tokens, matching `Dedup.shingles`. */
  private def toks(text: Column): Column =
    split(Cleanser.normalized(text), " ")

  /** Vocabulary document frequencies: `(token, df)` where df counts
    * documents containing the token at least once. */
  def docFrequencies(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), explode(array_distinct(toks(text))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))

  /** Tokens appearing in at least `ceil(frac * N)` of the `N`
    * documents — the boilerplate set. */
  def boilerplateTokens(df: DataFrame, id: Column, text: Column,
                        frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, "frac must be in (0, 1]")
    val n = df.agg(count(lit(1)).as("__n"))
    docFrequencies(df, id, text)
      .crossJoin(broadcast(n))
      .where(col("df") >= ceil(lit(frac) * col("__n")))
      .select(col("token"))
  }

  /** Strip boilerplate tokens from every document:
    * `(id, text_clean, n_kept, n_removed)`. Token order is preserved
    * (a positional explode/reassemble is NOT needed — the per-row
    * rewrite filters the token array in place). The rewrite is
    * `plans.ArrayRemoveAll`, a codegen'd loop: the declarative
    * `filter(toks, !array_contains(hot, _))` is a CodegenFallback
    * whose interpreted per-element lambda dominated the corpus scan
    * (single sf1 task: minutes in `ArrayFilter.nullSafeEval`). */
  def removeBoilerplate(df: DataFrame, id: Column, text: Column,
                        frac: Double): DataFrame = {
    val hotArr = boilerplateTokens(df, id, text, frac)
      .agg(sort_array(collect_list(col("token"))).as("__hot"))
    df.select(id.as("id"), toks(text).as("__toks"))
      .crossJoin(broadcast(hotArr))
      .select(col("id"), col("__toks"),
        graft.plans.ArrayExpressions.removeAll(
          col("__toks"), col("__hot")).as("__kept"))
      .select(col("id"),
        concat_ws(" ", col("__kept")).as("text_clean"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__toks")) - size(col("__kept")))
          .cast("long").as("n_removed"))
  }

  /** Document-frequency rarity score per document:
    * `(id, n_tokens, df_sum, df_mean, df_min)` over token
    * OCCURRENCES (a token counts once per appearance). Low `df_mean`
    * / `df_min` marks documents built from rare vocabulary — the
    * integer-exact stand-in for unigram-LM surprisal (ln-based
    * surprisal differs across engines in the last ulp; df sums are
    * exact in any engine). `df_mean` is a single per-row division of
    * two exactly-represented integers. */
  /** Per-domain corpus mixture table — the "how much of the training
    * mix does each source contribute" report that drives data-mixing
    * decisions (pair with `Batching.takeByBudgetPerKey` to enforce the
    * chosen budgets): `(domain, n_docs, n_tokens, tok_share_ppm,
    * tok_rank)`. Token shares are parts-per-million by INTEGER
    * division (`n_tokens * 1_000_000 / total`) — exact in any engine,
    * no cross-row float accumulation. NULL text counts 0 tokens; a
    * NULL domain is a domain.
    *
    * Scale shape: one domain-keyed count/sum aggregate (map-side
    * combined; output is domain-cardinality-sized — tiny), then the
    * total folds in as a one-row broadcast (the watermark-scalar
    * pattern) and the rank is a window over the aggregated rows only
    * — the unpartitioned window never sees corpus-sized data.
    */
  def domainMixture(df: DataFrame, domain: Column, text: Column)
      : DataFrame = {
    val perDoc = df.select(domain.as("domain"),
      when(text.isNotNull, size(split(text, " ")).cast("long"))
        .otherwise(lit(0L)).as("__t"))
    val grouped = perDoc.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"))
    val total = grouped.agg(sum(col("n_tokens")).as("__total"))
    grouped.crossJoin(broadcast(total))
      .select(col("domain"), col("n_docs"), col("n_tokens"),
        // integral `div`, not `/`: Spark's `/` is DOUBLE division,
        // which rounds past 2^53 — at 100 TB the ppm numerator gets
        // there; `div` stays exact and matches DuckDB's `//`. The
        // numerator is widened to decimal BEFORE the multiply: a Long
        // numerator overflows past ~9.2e12 tokens (inside the 100 TB
        // regime), which ANSI mode turns into ARITHMETIC_OVERFLOW;
        // decimal(30,0) × 10^6 stays within decimal(38,0), and `div`
        // on decimals still returns an exact BIGINT
        call_function("div",
          col("n_tokens").cast(DecimalType(30, 0)) * lit(1000000L),
          col("__total").cast(DecimalType(30, 0))).as("tok_share_ppm"),
        row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("n_tokens").desc, col("domain").asc_nulls_last))
          .cast("long").as("tok_rank"))
  }

  /** Per-domain document-length quantiles `(domain, n_docs, p25, p50,
    * p75, p90)` — the distribution report that sizes chunking windows
    * and packing budgets. Null-text docs are excluded (no length).
    *
    * Scale shape: EXACT percentile is deliberate here — Spark's
    * `percentile` buffers (value → count) per group, so memory is
    * bounded by the number of DISTINCT lengths (≤ max doc tokens,
    * thousands), not corpus size; whole-corpus cardinality never
    * reaches one node. For unbounded-cardinality metrics (e.g. double
    * scores) use `approx_percentile` instead — exact-on-bounded /
    * sketch-on-unbounded is the rule. */
  def lengthQuantiles(df: DataFrame, domain: Column, text: Column)
      : DataFrame =
    df.where(text.isNotNull)
      .select(domain.as("domain"),
        size(split(text, " ")).cast("long").as("__n"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        percentile(col("__n"),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.9))).as("__q"))
      .select(col("domain"), col("n_docs"),
        round(col("__q").getItem(0), 2).as("p25"),
        round(col("__q").getItem(1), 2).as("p50"),
        round(col("__q").getItem(2), 2).as("p75"),
        round(col("__q").getItem(3), 2).as("p90"))

  /** [[lengthQuantiles]]'s report over an UNBOUNDED-cardinality
    * metric (double scores, ratios — anything whose distinct-value
    * count grows with the corpus, where the exact percentile's
    * value→count buffer rule stops bounding memory):
    * `approx_percentile`, Spark's Greenwald-Khanna sketch. Buffer is
    * O(accuracy · log n) per group REGARDLESS of cardinality, merge
    * is associative (map-side combine works), and the result carries
    * the GK rank guarantee — each reported value's rank is within
    * n/accuracy of the requested p·n (spec-asserted against exact
    * sort rank on a generated 10k-value corpus at accuracy 100).
    * Returned quantiles are observed data values, not interpolations.
    *
    * Rows-only by design at the query surface: a GK sketch's exact
    * output is not replayable in another engine (DuckDB's
    * approx_quantile is t-digest); `q_length_quantiles` is the
    * oracle-green twin vouching for the report shape. */
  def metricQuantilesApprox(df: DataFrame, domain: Column, metric: Column,
                            accuracy: Int = 10000): DataFrame =
    df.select(domain.as("domain"), metric.cast("double").as("__m"))
      .where(col("__m").isNotNull && !col("__m").isNaN)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        approx_percentile(col("__m"),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.9)),
          lit(accuracy)).as("__q"))
      .select(col("domain"), col("n_docs"),
        col("__q").getItem(0).as("p25"),
        col("__q").getItem(1).as("p50"),
        col("__q").getItem(2).as("p75"),
        col("__q").getItem(3).as("p90"))

  /** Per-domain vocabulary report `(domain, n_tokens, vocab)` over
    * normalized tokens — the observability a tokenizer / mixing
    * decision reads (type-token ratios, domain vocabulary sizing).
    *
    * `exact = true` computes `count(DISTINCT token)` — Spark expands
    * to a (domain, token) pre-distinct, i.e. a shuffle keyed on the
    * full token set. That is the ORACLE path: replayable in any
    * engine, affordable while vocabulary fits a shuffle. At 100 TB
    * the pre-distinct is itself corpus-scale garbage traffic, so
    * `exact = false` swaps in `approx_count_distinct` (HyperLogLog++,
    * relative error `rsd`): a KB-sized sketch per (partition, domain)
    * that merges associatively — ONE map-side-combinable pass, no
    * token ever shuffles. Same columns either way; the spec bounds
    * the sketch against the exact twin at 3× rsd. */
  def vocabularyStats(df: DataFrame, domain: Column, text: Column,
                      exact: Boolean, rsd: Double = 0.05): DataFrame = {
    val occ = df.where(text.isNotNull)
      .select(domain.as("domain"),
        explode(split(graft.io.Cleanser.normalized(text), " ")).as("__t"))
    val vocabAgg =
      if (exact) count_distinct(col("__t"))
      else approx_count_distinct(col("__t"), rsd)
    occ.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_tokens"), vocabAgg.as("vocab"))
  }

  /** Per-document top-`k` TF-IDF terms `(id, rnk, term, tf, df,
    * score)` — keyword extraction for corpus exploration and
    * doc-level topical tagging. `score = tf·N/df` with the integer
    * product exact in Longs and ONE double division at the end — the
    * engine-portable SURROGATE for `tf·ln(N/df)`: monotone in tf and
    * in N/df separately (a rarer-and-more-frequent term always ranks
    * higher), though it weights idf more steeply than the log form,
    * so rankings can differ where tf and idf trade off. Chosen
    * because `ln` differs across engines in the last ulp and one
    * integer division doesn't — the [[rarityStats]] portability
    * rule; [[tfidfTopTermsLn]] is the log-form twin when fidelity
    * to classic tf-idf matters more than replayability.
    *
    * Scale shape: tf is a map-side-combinable (id, term) count; df a
    * term-keyed count of the distinct-pair frame; their join is
    * term-keyed (vocabulary-sized, shuffles once); N rides a
    * broadcast 1-row frame; ranking is `TopK.perGroup`, never a
    * single-partition window.
    *
    * Caching: the (id, term) tf frame persists (MEMORY_AND_DISK) to
    * back its three consumers (df-frequency, the N count, and the
    * scored join) — without it each consumer re-runs the explode +
    * count over the corpus. The frame is corpus-scale (one row per
    * distinct (doc, term) pair), so at 100 TB this is a deliberate
    * cache-vs-recompute trade: MEMORY_AND_DISK spills rather than
    * evicts, costing local disk instead of two extra corpus scans.
    * As with `takeByBudgetPerKey`/`packByWeight`, the cache is
    * registered with [[graft.util.CacheScope]]: a caller done acting
    * on the result frees it with `CacheScope.releaseAll()`.
    * Pipelines that cannot afford the cache should checkpoint the tf
    * frame to their own store and call the df/N/score stages over
    * the checkpoint instead. */
  def tfidfTopTerms(df: DataFrame, id: Column, text: Column,
                    k: Int): DataFrame =
    tfidfTopBy(df, id, text, k,
      (tf, n, dfreq) => (tf * n).cast("double") / dfreq)

  /** The classic-form twin of [[tfidfTopTerms]]: `score =
    * tf·ln(N/df)` — the log idf every textbook tf-idf uses, for
    * callers who want fidelity over the surrogate's cross-engine
    * hash-replayability (`ln` differs across engines in the last
    * ulp, so this form is rows-only checkable where the surrogate is
    * hash-exact). Same inputs, same tf/df/N pipeline — the two forms
    * CANNOT drift on anything but the final score lambda — and the
    * same ranking contract. Where tf and idf do not trade off (one
    * term dominates another on both), the two forms order identically
    * — the spec pins that; they may legitimately differ where a
    * higher-tf/lower-idf term trades against the opposite, because
    * the surrogate weights idf more steeply than the log. */
  def tfidfTopTermsLn(df: DataFrame, id: Column, text: Column,
                      k: Int): DataFrame =
    tfidfTopBy(df, id, text, k,
      (tf, n, dfreq) => tf * log(n.cast("double") / dfreq))

  /** Shared tf/df/N pipeline of the two scoring forms: the persist
    * contract documented on [[tfidfTopTerms]] lives here. `score`
    * maps (tf, N, df) columns to the ranking score. */
  private def tfidfTopBy(df: DataFrame, id: Column, text: Column, k: Int,
                         score: (Column, Column, Column) => Column)
      : DataFrame = {
    require(k >= 1, "k must be positive")
    val occ = df.where(text.isNotNull)
      .select(id.as("id"),
        explode(split(graft.io.Cleanser.normalized(text), " ")).as("term"))
    val tf = occ.groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.util.CacheScope.persist(_))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df")) // tf is already distinct (id, term)
    val n = tf.select(count_distinct(col("id")).as("__n"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .select(col("id"), col("term"), col("tf"), col("df"),
        score(col("tf"), col("__n"), col("df")).as("score"))
    TopK.perGroup(scored, Seq(col("id")),
        Seq(col("score").desc, col("term").asc), k)
      .select("id", "rnk", "term", "tf", "df", "score")
  }

  def rarityStats(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), explode(toks(text)).as("token"))
      .join(docFrequencies(df, id, text), "token")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("df")).as("df_sum"),
        min(col("df")).as("df_min"))
      .select(col("id"), col("n_tokens"), col("df_sum"),
        (col("df_sum").cast("double") / col("n_tokens").cast("double"))
          .as("df_mean"),
        col("df_min"))
}
