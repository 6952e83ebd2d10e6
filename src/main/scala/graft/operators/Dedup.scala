package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge

import graft.functions.TextFns
import graft.io.Cleanser
import graft.plans.HashExpressions
import graft.util.CacheScope

/** Document deduplication for the training-data pipeline: exact,
  * n-gram Jaccard, MinHash+LSH, and SimHash near-dup detection.
  *
  * Scale contract (the part that matters at 100 TB): **every candidate
  * generator is a bucketed equi-join** — shared shingle, shared LSH
  * band bucket, shared SimHash band — never an all-pairs cartesian.
  * The self-join shuffles on the bucket key, so cost is
  * sum(bucket²) not n²; AQE's skew-join handling plus the optional
  * hot-bucket cap bound the worst buckets.
  */
object Dedup {

  /** Exact dedup: one row per distinct normalized-text fingerprint,
    * carrying the canonical (minimum) id and the duplicate count.
    * A single hash-aggregate with map-side partial aggregation — the
    * cheapest possible shape: one shuffle of (fingerprint, id).
    */
  def exact(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(TextFns.fingerprint(text).as("fp"))
      .agg(min(id).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Distinct word `n`-gram shingles, one output row per (id, shingle).
    * Pure map + explode + distinct; docs shorter than `n` tokens yield
    * no shingles (guarded — Spark's `sequence` would otherwise count
    * *down* for negative spans).
    */
  def shingles(df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    // stage the token array into its own projection FIRST: a lambda
    // referencing an inline expression re-evaluates it per element, so
    // an un-staged `w` would re-run the whole normalize+split chain
    // once per shingle index — O(len) regex passes per document (the
    // round-2 254-second lesson on the hash path, same fix here)
    val staged = df.select(id.as("id"),
      split(Cleanser.normalized(text), " ").as("__w"))
    val w = col("__w")
    val grams = when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => array_join(slice(w, i + 1, lit(n)), " "))
    ).otherwise(array())
    staged.select(col("id"), explode(grams).as("shingle")).distinct()
  }

  /** Near-duplicate pairs by n-gram Jaccard ≥ `threshold`, id_a < id_b.
    *
    * Candidates come from the shingle *inverted index*: two docs meet
    * only if they share a shingle (an equi-join on the shingle key),
    * which is exact — any pair with Jaccard > 0 shares one. The join
    * output is |pairs sharing shingles|, not n².
    *
    * `maxShingleDf` is the boilerplate valve: shingles in more than
    * that many docs are dropped from the index BEFORE counting, so
    * with the cap engaged the similarity computed is Jaccard over
    * each doc's DISCRIMINATIVE shingles (capped shingles leave both
    * the intersection and the union) — the similarity a dedup pass
    * wants when boilerplate dominates, and the only thing that keeps
    * the candidate join finite on a boilerplate-heavy corpus, where
    * candidate mass is Σ C(df,2) and a handful of hot shingles carry
    * almost all of it (measured on the sf1 scale corpus: 98% of 192M
    * candidate pairs ride shingles with df > 100, and NO true
    * J≥0.5 pair depends on them — every one shares a df≤64 shingle).
    * Off by default so results stay exact; a cap above the corpus
    * max-df is exactly inert, which is how the bench queries keep
    * bit-exact oracle parity at graded SFs while surviving the scale
    * corpus.
    */
  /** Shingle-overlap counts shared by [[jaccardPairs]] and
    * [[containmentPairs]]: `(id_a < id_b, n_common, n_a, n_b)` for
    * every pair sharing ≥ 1 distinct shingle hash.
    *
    * Shingles travel as 64-bit hashes (graft.plans.HashedShingles, a
    * fused codegen loop), not strings: the inverted-index shuffle
    * carries 8-byte keys and the candidate groupBy compares longs.
    * Set semantics are unchanged short of an intra-corpus xxhash64
    * collision (~|shingles|²/2⁶⁴ — vanishing, and only ever merges
    * two shingles).
    * persisted: the (id, shingle) index feeds the per-doc counts and
    * BOTH sides of the candidate self-join — without caching, the
    * corpus text pass (normalize + shingle-hash + distinct shuffle)
    * runs three times. The cached frame is two longs per shingle,
    * ~50× smaller than the text it derives from. */
  private def shingleOverlap(df: DataFrame, id: Column, text: Column,
                             n: Int, maxShingleDf: Option[Int])
      : DataFrame = {
    val w = split(Cleanser.normalized(text), " ")
    val sh0 = df.select(id.as("id"), w.as("__w"))
      .where(size(col("__w")) >= n)
      .select(col("id"),
        explode(HashExpressions.hashedShingles(col("__w"), n)).as("shingle"))
      .distinct()
      .transform(CacheScope.persist(_))
    val sh = maxShingleDf.fold(sh0) { cap =>
      // document frequency per shingle is a dimension-sized aggregate
      val dfreq = sh0.groupBy("shingle").agg(count(lit(1)).as("__df"))
        .where(col("__df") <= cap).select("shingle")
      // persisted: the capped index feeds the per-doc counts and BOTH
      // sides of the candidate self-join, and the three consumers
      // canonicalize differently (id→id_a / id→id_b / the cnt
      // aggregate), so exchange reuse never fires — without the cache
      // the cap join and its shingle-keyed exchange re-execute per
      // consumer (measured at sf0.1: the same 224k-row map stage ran
      // 4× back to back, ~40% of the query's task time)
      CacheScope.persist(sh0.join(dfreq, "shingle"))
    }
    val cnt = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("id").as("id_a"), col("shingle"))
    val b = sh.select(col("id").as("id_b"), col("shingle"))
    a.join(b, "shingle")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      .join(cnt.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(cnt.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
  }

  def jaccardPairs(df: DataFrame, id: Column, text: Column, n: Int,
                   threshold: Double,
                   maxShingleDf: Option[Int] = None): DataFrame =
    shingleOverlap(df, id, text, n, maxShingleDf)
      .withColumn("jaccard",
        col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Asymmetric CONTAINMENT near-dup pairs (Broder, "On the
    * resemblance and containment of documents", SEQUENCES 1997 — a
    * published method): `containment(a ⊆ b) = |S(a) ∩ S(b)| / |S(a)|`.
    * Resemblance (Jaccard) collapses when sizes diverge — a document
    * fully embedded in one 10× larger scores ~0.1 Jaccard but 1.0
    * containment — so this is the dedup mode that catches quotes,
    * boilerplate wrappers, and doc-in-doc embeddings the symmetric
    * score structurally misses (spec-pinned contrast).
    *
    * Output keeps `id_a < id_b` with BOTH directions' scores
    * (`cont_a` = share of a's shingles inside b, `cont_b` the
    * reverse) plus the raw counts, kept when either direction clears
    * `threshold` — downstream policy picks the orientation (usually:
    * drop the contained side). Same candidate shape as
    * [[jaccardPairs]] (shingle-keyed equi-join, never a cartesian,
    * same `maxShingleDf` boilerplate cap) and the same
    * integer-counts-plus-one-division float surface, so the DuckDB
    * oracle replays it exactly. */
  def containmentPairs(df: DataFrame, id: Column, text: Column, n: Int,
                       threshold: Double,
                       maxShingleDf: Option[Int] = None): DataFrame =
    shingleOverlap(df, id, text, n, maxShingleDf)
      .withColumn("cont_a", col("n_common") / col("n_a"))
      .withColumn("cont_b", col("n_common") / col("n_b"))
      .where(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("id_a", "id_b", "n_common", "n_a", "n_b",
        "cont_a", "cont_b")

  /** Incremental exact-Jaccard near-dup detection: pairs between a NEW
    * batch and the union of a REFERENCE corpus and the batch itself —
    * the daily-ingest shape at 100 TB, where re-deduping the whole
    * corpus per batch is the thing a pipeline must never do. The
    * reference side contributes only its shingle index (two longs per
    * shingle once hashed — at scale that index is a PRECOMPUTED stored
    * artifact, like the signature store of
    * [[incrementalLshPairs]]); reference×reference pairs are never
    * enumerated — the candidate join's left side is the new batch's
    * index only, so join output scales with |new| × overlap, not
    * |corpus|².
    *
    * Output orientation: `id_b` is ALWAYS the new doc at risk; `id_a`
    * is its match — a reference doc (any id) or a smaller-id new doc
    * (new×new pairs appear once, `id_a < id_b`). The uniform drop
    * policy "drop id_b" then keeps the reference corpus canonical and
    * collapses new-batch chains to their smallest id, exactly
    * [[jaccardPairs]]'s policy on the union when reference ids sort
    * below batch ids.
    *
    * `maxShingleDf` caps document frequency counted over the UNION
    * index (matching what full-corpus [[jaccardPairs]] would see); at
    * scale the reference df counts come from the stored index.
    */
  /** The STORED shape of a shingle-dedup corpus: one row per
    * (id, distinct shingle hash) with the doc's total shingle count
    * `n_sh` riding every row — `(id, shingle, n_sh)`, two longs and
    * a count, ~50× smaller than the text it derives from. Write it
    * once (bucketed by `shingle`, see [[io.Bucketing]] — the
    * candidate equi-join AND the df-cap aggregate both key on
    * `shingle`, so a bucketed scan satisfies their clustering and
    * the store never re-shuffles) and every later increment joins
    * against it via [[incrementalJaccardPairsFromIndex]] /
    * [[incrementalContainmentPairsFromIndex]] WITHOUT re-reading,
    * re-normalizing or re-shingling reference text — the corpus
    * text pass is the cost the incremental family exists to avoid.
    * `n_sh` is the PRE-cap count (a property of the doc, not of any
    * query's df cap), counted by an id-partitioned window — never a
    * single-partition window. */
  def shingleIndex(df: DataFrame, id: Column, text: Column, n: Int)
      : DataFrame =
    // the id-partitioned window that stamps n_sh onto every row is an
    // id-keyed shuffle of the whole index — a WRITE-TIME cost paid
    // once per store build (amortized over every increment), which is
    // why the from-docs increments run on the rawIndex instead
    rawShingleIndex(df, id, text, n).withColumn("n_sh",
      count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")))

  /** The `(id, shingle)` rows of [[shingleIndex]] without the stamped
    * per-doc count — the transient shape the from-docs increments
    * use (their capped path recomputes post-cap counts anyway, so
    * stamping n_sh would buy an id-shuffle for nothing — measured
    * 2.3× on q56/q108 when it briefly rode the hot path). */
  private def rawShingleIndex(df: DataFrame, id: Column, text: Column,
                              n: Int): DataFrame =
    df.select(id.as("id"),
        split(Cleanser.normalized(text), " ").as("__w"))
      .where(size(col("__w")) >= n)
      .select(col("id"),
        explode(HashExpressions.hashedShingles(col("__w"), n)).as("shingle"))
      .distinct()

  /** The incremental twin of [[shingleOverlap]] — candidates are
    * new×ref ∪ new×new only (ref×ref never enumerates; `id_b` is
    * always the new doc), shared by [[incrementalJaccardPairs]] and
    * [[incrementalContainmentPairs]]. The df cap aggregates over the
    * COMBINED index, matching what the one-shot run would apply.
    * Builds the reference [[shingleIndex]] from text and delegates to
    * the FromIndex form (persisted here: the computed index feeds the
    * df cap, the per-doc counts and the candidate join — a stored
    * index is a cheap column-pruned parquet scan and skips this). */
  private def incrementalShingleOverlap(newDocs: DataFrame,
                                        refDocs: DataFrame,
                                        id: Column, text: Column, n: Int,
                                        maxShingleDf: Option[Int])
      : DataFrame = {
    // rawIndex, not shingleIndex: a transient from-docs run never
    // pays the store's write-time n_sh stamp (per-doc counts are
    // recomputed post-cap anyway; uncapped, the core aggregates them
    // the same way the one-shot operator does)
    val refIdx = rawShingleIndex(refDocs, id, text, n)
      .transform(CacheScope.persist(_))
    incrementalShingleOverlapFromIndexes(
      rawShingleIndex(newDocs, id, text, n), refIdx, maxShingleDf)
  }

  /** [[incrementalShingleOverlap]] with the reference side given as
    * an already-built `(id, shingle, n_sh)` index (e.g. `spark.table`
    * over the bucketed store [[shingleIndex]] writes). Exactly the
    * from-docs algebra with the stored frame substituted for the
    * recomputed one — bit-identical output (spec-pinned), no
    * reference text touched:
    *
    *  - the df cap counts over store ∪ batch (what the one-shot run
    *    on the union would apply): per-shingle counts from each side
    *    summed through one shingle-keyed join — the store side's
    *    aggregate and join both key on the bucket column, so a
    *    bucketed store never re-shuffles;
    *  - uncapped, per-doc sizes come STRAIGHT from the carried
    *    `n_sh` — no per-doc aggregate, no join-back; with a cap,
    *    post-cap sizes are recomputed by groupBy(id) over surviving
    *    rows (slim long pairs), exactly as the one-shot run counts;
    *  - new×ref and new×new candidates run as two separate
    *    shingle-keyed joins unioned as PAIR frames (disjoint by
    *    construction), so the store join never pays a union's lost
    *    partitioning. */
  private def incrementalShingleOverlapFromIndex(
      newDocs: DataFrame, refIndex: DataFrame,
      id: Column, text: Column, n: Int,
      maxShingleDf: Option[Int]): DataFrame =
    incrementalShingleOverlapFromIndexes(
      shingleIndex(newDocs, id, text, n), refIndex, maxShingleDf)

  /** Both sides as [[shingleIndex]] frames — the innermost form: a
    * deployment indexes the batch ONCE (it appends that index to the
    * store after the increment anyway), so the increment proper is
    * pure index-vs-index algebra. */
  private def incrementalShingleOverlapFromIndexes(
      newIndex: DataFrame, refIndex: DataFrame,
      maxShingleDf: Option[Int]): DataFrame = {
    Seq("refIndex" -> refIndex, "newIndex" -> newIndex).foreach {
      case (nm, f) =>
        require(Seq("id", "shingle").forall(f.columns.contains),
          s"$nm must carry (id, shingle) — see shingleIndex")
    }
    val carried = Seq(refIndex, newIndex)
      .forall(_.columns.contains("n_sh"))
    // persisted: the batch index feeds the df cap, the per-doc counts
    // and both sides of the self-join (batch-sized — tiny next to the
    // store); the caller owns cache lifetime
    val newIdx = newIndex
      .transform(CacheScope.persist(_))
    maxShingleDf match {
      case None if carried =>
        // stamped n_sh (the store shape): no per-doc aggregate at all
        pairCounts(
          newIdx.select(col("id").as("id_b"), col("shingle"),
            col("n_sh").as("n_b")),
          refIndex.select(col("id").as("id_a"), col("shingle"),
            col("n_sh").as("n_a")))
      case None =>
        // raw (id, shingle) frames: ONE per-doc count over the union,
        // joined under both pair sides — exactly the one-shot shape
        val cnt = refIndex.select("id", "shingle")
          .unionByName(newIdx.select("id", "shingle"))
          .groupBy("id").agg(count(lit(1)).as("__n"))
        pairCounts(
          newIdx.select(col("id").as("id_b"), col("shingle")),
          refIndex.select(col("id").as("id_a"), col("shingle")),
          carrySizes = false)
          .join(cnt.select(col("id").as("id_a"), col("__n").as("n_a")),
            "id_a")
          .join(cnt.select(col("id").as("id_b"), col("__n").as("n_b")),
            "id_b")
      case Some(cap) =>
        // union df: per-side shingle counts summed through one
        // shingle-keyed join (store side stays bucket-clustered).
        // persisted: ok feeds BOTH capped scans, each consumed by the
        // candidate joins and the count aggregate — recomputing the
        // two df aggregates + join per consumer measured ~2× on the
        // q56/q108 surfaces; the frame is one long column
        val refDf = refIndex.groupBy("shingle")
          .agg(count(lit(1)).as("__rdf"))
        val newDf = newIdx.groupBy("shingle")
          .agg(count(lit(1)).as("__ndf"))
        val ok = refDf.join(newDf, Seq("shingle"), "full_outer")
          .where(coalesce(col("__rdf"), lit(0L)) +
            coalesce(col("__ndf"), lit(0L)) <= cap)
          .select("shingle")
          .transform(CacheScope.persist(_))
        // persisted (r19): the capped STORE-side index feeds BOTH the
        // post-cap count union and the candidate join's reference
        // side — uncached, the store-vs-ok join (and everything above
        // it: at bench the from-docs/from-index ref lineage) executed
        // twice per query, the same duplicated-subtree disease the
        // r18 shingleOverlap fix measured (guide §2: a duplicated
        // subtree is a duplicated shuffle). Projected to the two long
        // columns both consumers need before caching — keys+hashes,
        // never text; ~50× smaller than the text it derives from,
        // MEMORY_AND_DISK so scale corpora spill instead of OOM.
        val refCapped = refIndex.join(ok, "shingle")
          .select("id", "shingle")
          .transform(CacheScope.persist(_))
        // batch-sized and consumed four times (both self-join sides,
        // the store join's probe side, the count union)
        val newCapped = newIdx.join(ok, "shingle")
          .transform(CacheScope.persist(_))
        // post-cap per-doc sizes over the union, recomputed exactly
        // as the one-shot run counts them (slim (id) longs — the
        // text pass is gone), joined under both pair sides
        val cnt = refCapped.select("id", "shingle")
          .unionByName(newCapped.select("id", "shingle"))
          .groupBy("id").agg(count(lit(1)).as("__n"))
        pairCounts(
          newCapped.select(col("id").as("id_b"), col("shingle")),
          refCapped.select(col("id").as("id_a"), col("shingle")),
          carrySizes = false)
          .join(cnt.select(col("id").as("id_a"), col("__n").as("n_a")),
            "id_a")
          .join(cnt.select(col("id").as("id_b"), col("__n").as("n_b")),
            "id_b")
    }
  }

  /** Candidate pair counts for the incremental overlap: new×ref from
    * one shingle equi-join, new×new from the batch self-join
    * (`id_a < id_b`), unioned as pair frames and counted once — the
    * two families are disjoint (ref ids never appear as a new id), so
    * no cross-family dedup. With `carrySizes`, each side's `n_*`
    * rides the join and survives the aggregate as `first` (constant
    * within a pair group). */
  private def pairCounts(newSide: DataFrame, refSide: DataFrame,
                         carrySizes: Boolean = true): DataFrame = {
    val sizeColsB = if (carrySizes) Seq(col("n_b")) else Nil
    val sizeColsA = if (carrySizes) Seq(col("n_a")) else Nil
    val vsRef = newSide.join(refSide, "shingle")
    val vsNew = newSide.join(
      newSide.select((Seq(col("id_b").as("id_a"), col("shingle")) ++
        (if (carrySizes) Seq(col("n_b").as("n_a")) else Nil)): _*),
      "shingle")
      .where(col("id_a") < col("id_b"))
    val unioned = vsRef.select((Seq(col("id_a"), col("id_b")) ++
      sizeColsA ++ sizeColsB): _*)
      .unionByName(vsNew.select((Seq(col("id_a"), col("id_b")) ++
        sizeColsA ++ sizeColsB): _*))
    if (carrySizes)
      unioned.groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_common"),
          first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
    else
      unioned.groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_common"))
  }

  def incrementalJaccardPairs(newDocs: DataFrame, refDocs: DataFrame,
                              id: Column, text: Column, n: Int,
                              threshold: Double,
                              maxShingleDf: Option[Int] = None): DataFrame =
    incrementalShingleOverlap(newDocs, refDocs, id, text, n, maxShingleDf)
      .withColumn("jaccard",
        col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** [[incrementalJaccardPairs]] with the reference corpus given as
    * its stored `(id, shingle, n_sh)` [[shingleIndex]] — the form a
    * daily-ingest deployment actually runs: no reference text is
    * re-read, re-normalized or re-shingled per increment (at 100 TB
    * that re-shingle IS the corpus pass the incremental family
    * exists to avoid); the store, bucketed by `shingle`, satisfies
    * the candidate join's and the df cap's clustering without an
    * Exchange (plan-pinned in BucketingSpec). Bit-identical to the
    * from-docs form on the same corpus (spec-pinned). */
  def incrementalJaccardPairsFromIndex(newDocs: DataFrame,
                                       refIndex: DataFrame,
                                       id: Column, text: Column, n: Int,
                                       threshold: Double,
                                       maxShingleDf: Option[Int] = None)
      : DataFrame =
    incrementalShingleOverlapFromIndex(newDocs, refIndex, id, text, n,
        maxShingleDf)
      .withColumn("jaccard",
        col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** [[incrementalJaccardPairsFromIndex]] with the BATCH side also
    * given as its [[shingleIndex]] — the increment as pure
    * index-vs-index algebra (a deployment indexes the batch once and
    * appends that same index to the store afterwards). */
  def incrementalJaccardPairsFromIndexes(newIndex: DataFrame,
                                         refIndex: DataFrame,
                                         threshold: Double,
                                         maxShingleDf: Option[Int] = None)
      : DataFrame =
    incrementalShingleOverlapFromIndexes(newIndex, refIndex, maxShingleDf)
      .withColumn("jaccard",
        col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Incremental [[containmentPairs]] — the daily-ingest shape for
    * the asymmetric detector, completing its family membership
    * (jaccard [[incrementalJaccardPairs]], MinHash, embeddings,
    * winnowing, CDC all have one): candidates are new×ref ∪ new×new,
    * `id_b` always the new doc at risk, scored per direction exactly
    * as the one-shot operator. The typical policy this feeds: a new
    * doc contained in the reference corpus (`cont_b` high when the
    * new side is smaller) is a re-post or quote and gets dropped
    * before it enters the store. */
  def incrementalContainmentPairs(newDocs: DataFrame, refDocs: DataFrame,
                                  id: Column, text: Column, n: Int,
                                  threshold: Double,
                                  maxShingleDf: Option[Int] = None)
      : DataFrame =
    incrementalShingleOverlap(newDocs, refDocs, id, text, n, maxShingleDf)
      .withColumn("cont_a", col("n_common") / col("n_a"))
      .withColumn("cont_b", col("n_common") / col("n_b"))
      .where(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("id_a", "id_b", "n_common", "n_a", "n_b",
        "cont_a", "cont_b")

  /** [[incrementalContainmentPairs]] against the stored
    * [[shingleIndex]] — the asymmetric detector's store-backed
    * increment, same contract as
    * [[incrementalJaccardPairsFromIndex]]: zero reference text
    * touched, store joins stay bucket-clustered, output bit-identical
    * to the from-docs form. */
  def incrementalContainmentPairsFromIndex(newDocs: DataFrame,
                                           refIndex: DataFrame,
                                           id: Column, text: Column,
                                           n: Int, threshold: Double,
                                           maxShingleDf: Option[Int] = None)
      : DataFrame =
    incrementalShingleOverlapFromIndex(newDocs, refIndex, id, text, n,
        maxShingleDf)
      .withColumn("cont_a", col("n_common") / col("n_a"))
      .withColumn("cont_b", col("n_common") / col("n_b"))
      .where(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("id_a", "id_b", "n_common", "n_a", "n_b",
        "cont_a", "cont_b")

  /** [[incrementalContainmentPairsFromIndex]] with the batch side
    * also as an index — see
    * [[incrementalJaccardPairsFromIndexes]]. */
  def incrementalContainmentPairsFromIndexes(newIndex: DataFrame,
                                             refIndex: DataFrame,
                                             threshold: Double,
                                             maxShingleDf: Option[Int] =
                                               None): DataFrame =
    incrementalShingleOverlapFromIndexes(newIndex, refIndex, maxShingleDf)
      .withColumn("cont_a", col("n_common") / col("n_a"))
      .withColumn("cont_b", col("n_common") / col("n_b"))
      .where(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("id_a", "id_b", "n_common", "n_a", "n_b",
        "cont_a", "cont_b")

  /** New-batch docs surviving [[incrementalJaccardPairs]]'s drop
    * policy (every new doc at risk in some pair drops; docs too short
    * to shingle trivially survive). Returns `newDocs` rows unchanged —
    * append them (and their index/signatures) to the corpus store to
    * complete the increment. */
  def dedupeIncrementJaccard(newDocs: DataFrame, refDocs: DataFrame,
                             id: Column, text: Column, n: Int,
                             threshold: Double,
                             maxShingleDf: Option[Int] = None): DataFrame = {
    val drops = incrementalJaccardPairs(newDocs, refDocs, id, text, n,
      threshold, maxShingleDf).select(col("id_b").as("__drop")).distinct()
    newDocs.join(drops, id === col("__drop"), "left_anti")
  }

  /** MinHash form of the incremental pass: the reference corpus enters
    * as its stored `(id, sig)` SIGNATURE frame — ~`numHashes` longs
    * per doc, no reference text is ever re-read, re-normalized or
    * re-shingled — and only the new batch computes signatures from
    * text. Candidates are the banded equi-join of the new side against
    * reference ∪ new (reference×reference never meets); verification
    * is signature agreement ≥ `threshold`, as [[lshPairsFromSignatures]].
    * Same output orientation as [[incrementalJaccardPairs]]: `id_b` is
    * the new doc at risk.
    */
  def incrementalLshPairs(newSigs: DataFrame, refSigs: DataFrame,
                          numHashes: Int, bands: Int, threshold: Double,
                          maxBucketSize: Option[Int] = None): DataFrame =
    incrementalLshPairsFromIndex(newSigs,
      bandIndex(refSigs, numHashes, bands),
      numHashes, bands, threshold, maxBucketSize)

  /** The banded signature index `(id, band, bk, sig)` of a signatures
    * frame — the STORED shape of a dedup corpus at scale: write it
    * once (bucketed by `bk`, see [[io.Bucketing]]) and every later
    * increment joins against it WITHOUT shuffling the store (Spark's
    * bucketed scan reports hash partitioning on `bk`, which satisfies
    * the (band, bk) join's clustering requirement, so only the new
    * batch — the small side — shuffles; spec-asserted in
    * DedupSimilaritySpec). */
  def bandIndex(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame =
    sigs.select(col("id"), col("sig"),
        explode(bandKeyArray(col("sig"), numHashes, bands)).as("b"))
      .select(col("id"), col("b.band"), col("b.bk"), col("sig"))

  /** The per-band `(band, bk)` key structs of a signature column —
    * THE banding formula (one xxhash64 over each band's signature
    * slice, salted by band index), factored out so the batch index
    * and the streaming gate (`streaming.EventPipelines.
    * streamNearDupPairs`) bucket bit-for-bit identically. */
  def bandKeyArray(sig: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    array((0 until bands).map(bi =>
      struct(lit(bi).as("band"),
        xxhash64(lit(bi), slice(sig, bi * r + 1, r)).as("bk"))): _*)
  }

  /** [[incrementalLshPairs]] with the reference side given as an
    * already-banded index (e.g. `spark.table` over the bucketed store
    * [[bandIndex]] writes) — new×reference candidates come from ONE
    * equi-join against the store, new×new from a self-join of the
    * batch's own (persisted, batch-sized) index; the two pair families
    * are disjoint by construction, so the union needs no cross-family
    * dedup. `maxBucketSize` caps (band, bk) buckets counted over
    * store ∪ batch. */
  def incrementalLshPairsFromIndex(newSigs: DataFrame, refIndex: DataFrame,
                                   numHashes: Int, bands: Int,
                                   threshold: Double,
                                   maxBucketSize: Option[Int] = None)
      : DataFrame = {
    // persisted: the batch index feeds the bucket cap, the store join
    // and both sides of the self-join (batch-sized — tiny next to the
    // store); the caller owns cache lifetime, as the other pair
    // generators
    val newIdx0 = bandIndex(newSigs, numHashes, bands)
      .transform(CacheScope.persist(_))
    val (newIdx, refIdx) = maxBucketSize.fold((newIdx0, refIndex)) { c =>
      val ok = newIdx0.select("band", "bk")
        .unionByName(refIndex.select("band", "bk"))
        .groupBy("band", "bk").agg(count(lit(1)).as("__bn"))
        .where(col("__bn") <= c).select("band", "bk")
      (newIdx0.join(ok, Seq("band", "bk")),
        refIndex.join(ok, Seq("band", "bk")))
    }
    val newSide = newIdx.select(col("id").as("id_b"),
      col("sig").as("sig_b"), col("band"), col("bk"))
    val vsRef = newSide.join(refIdx.select(col("id").as("id_a"),
        col("sig").as("sig_a"), col("band"), col("bk")),
      Seq("band", "bk"))
    val vsNew = newSide.join(newIdx.select(col("id").as("id_a"),
        col("sig").as("sig_a"), col("band"), col("bk")),
      Seq("band", "bk"))
      .where(col("id_a") < col("id_b"))
    vsRef.unionByName(vsNew)
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
      .withColumn("est_jaccard",
        HashExpressions.sigAgree(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes)
      .where(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** (id, sig) MinHash signatures: `numHashes` independent min-hashes
    * of the doc's shingle set, map-side only — no shuffle, no explode.
    *
    * Cost structure matters more than formula here: the whole chain
    * (token hash → shingle hash → per-seed min) runs as two fused
    * codegen loops (graft.plans.{HashedShingles,MinHashSig}) — the
    * naive nested-lambda form re-derives the shingle array inside
    * every seed's lambda (32× the work, measured 40× slower end-to-
    * end), and even the staged column form pays an interpreted lambda
    * call per (seed, shingle). Seeding matches declarative
    * `xxhash64(lit(seed), shingleHash)` bit-for-bit.
    */
  def minhashSignatures(df: DataFrame, id: Column, text: Column,
                        n: Int, numHashes: Int): DataFrame =
    // docs shorter than one shingle are excluded rather than given
    // the sentinel hash — the sentinel would make ALL short docs
    // identical-signature "near-dups" of each other
    df.select(id.as("id"), split(Cleanser.normalized(text), " ").as("__w"))
      .where(size(col("__w")) >= n)
      .select(col("id"),
        HashExpressions.minhashSig(
          HashExpressions.hashedShingles(col("__w"), n),
          numHashes).as("sig"))

  /** MinHash + LSH near-dup pairs (id_a < id_b) with estimated Jaccard
    * (fraction of agreeing signature positions) ≥ `threshold`.
    *
    * Banding: the signature splits into `bands` bands of
    * `numHashes/bands` rows; a pair is a candidate iff some band
    * hashes identically — an equi-join on (band index, band hash),
    * never a cartesian. Verification compares full signatures only for
    * candidates.
    */
  /** Drop (band, key) buckets holding more than `cap` rows — the
    * skew guard for pathological corpora where one bucket would
    * otherwise dominate the self-join (cost is Σ bucket²). Recall-
    * lossy by definition; the bucket-size aggregate it adds is
    * dimension-sized. */
  private def capBuckets(banded: DataFrame, keyCol: String,
                         cap: Option[Int]): DataFrame =
    cap.fold(banded) { c =>
      val ok = banded.groupBy("band", keyCol)
        .agg(count(lit(1)).as("__bn")).where(col("__bn") <= c)
        .select("band", keyCol)
      banded.join(ok, Seq("band", keyCol))
    }

  /** Salted bucket self-join: the *recall-preserving* skew guard.
    * With `salt = S > 1`, the left side takes one of S sub-keys
    * (hash of its id) and the right side replicates to all S, so a
    * hot (band, key) bucket of n rows runs as S tasks of n·n/S work
    * instead of one n² task — every pair is still produced exactly
    * once (the pair (a, b) meets only at a's salt). `salt = 1` is the
    * plain equi-join. Cost: right side shuffles S×.
    */
  private def bucketPairs(banded: DataFrame, keyCol: String,
                          carry: Seq[String], salt: Int): DataFrame = {
    require(salt >= 1, "salt must be >= 1")
    def side(suffix: String) = banded.select(
      (Seq(col("id").as(s"id_$suffix"), col("band"), col(keyCol)) ++
        carry.map(c => col(c).as(s"${c}_$suffix"))): _*)
    val a = side("a").withColumn("__salt",
      pmod(xxhash64(col("id_a")), lit(salt)))
    val b = side("b").withColumn("__salt",
      explode(sequence(lit(0L), lit(salt - 1L))))
    a.join(b, Seq("band", keyCol, "__salt"))
      .where(col("id_a") < col("id_b"))
      .select((Seq(col("id_a"), col("id_b")) ++
        carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b")))): _*)
      .distinct()
  }

  def minhashLshPairs(df: DataFrame, id: Column, text: Column,
                      n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5,
                      maxBucketSize: Option[Int] = None,
                      salt: Int = 1): DataFrame =
    lshPairsFromSignatures(
      minhashSignatures(df, id, text, n, numHashes),
      numHashes, bands, threshold, maxBucketSize, salt,
      bandKey = (bi, sl) => xxhash64(bi, sl))

  /** Shared banding skeleton for every near-dup family: persist the
    * (id, carry) signature frame (both join sides consume it), explode
    * `bands` (band, key) bucket rows via `bandKeyOf(bandIdx)`, apply
    * the cap/salt skew valves, and emit candidate id pairs carrying
    * the signature column from both sides for the caller's verify
    * step. One implementation under minhash (array sigs), simhash
    * (packed long), and seeded simhash (bit string) — a banding/skew
    * change lands once, not per family. */
  private def bandedCandidates(sig0: DataFrame, carry: Seq[String],
                               bands: Int, bandKeyOf: Int => Column,
                               maxBucketSize: Option[Int],
                               salt: Int): DataFrame = {
    val sig = sig0
      .transform(CacheScope.persist(_))
    val banded = capBuckets(sig.select(
        (Seq(col("id")) ++ carry.map(col) :+
          explode(array((0 until bands).map(bi =>
            struct(lit(bi).as("band"), bandKeyOf(bi).as("bk"))): _*))
            .as("b")): _*)
      .select((Seq(col("id")) ++ carry.map(col) ++
        Seq(col("b.band"), col("b.bk"))): _*),
      "bk", maxBucketSize)
    bucketPairs(banded, "bk", carry = carry, salt)
  }

  /** Banding + bucket self-join + signature-agreement verify over an
    * (id, sig) signatures frame — the LSH machinery shared by the
    * xxhash64 production path and the md5-seeded oracle path (the
    * signature element type just needs `===`/min semantics: longs or
    * hex strings both work). `bandKey(bandIdx, bandSlice)` produces
    * the bucket key a band equi-joins on.
    */
  def lshPairsFromSignatures(signatures: DataFrame, numHashes: Int,
                             bands: Int, threshold: Double,
                             maxBucketSize: Option[Int], salt: Int,
                             bandKey: (Column, Column) => Column): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    bandedCandidates(signatures, Seq("sig"), bands,
      bi => bandKey(lit(bi), slice(col("sig"), bi * r + 1, r)),
      maxBucketSize, salt)
      .withColumn("est_jaccard",
        sigAgreement(signatures, col("sig_a"), col("sig_b"))
          .cast("double") / numHashes)
      .where(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Signature-agreement count for the verify step: long-array
    * signatures (the xxhash64 scale paths) take the fused codegen
    * walk (`plans.SigAgreeCount` — the declarative
    * zip_with/filter pair is two INTERPRETED lambdas per candidate,
    * the hot loop once banding has pruned); the md5 hex-string
    * signatures of the seeded oracle path keep the declarative form
    * (oracle plumbing, not a scale path). Both are spec-pinned equal. */
  private def sigAgreement(signatures: DataFrame,
                           sigA: Column, sigB: Column): Column =
    signatures.schema("sig").dataType match {
      case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, _) =>
        HashExpressions.sigAgree(sigA, sigB)
      case _ =>
        size(filter(zip_with(sigA, sigB, (x, y) =>
          when(x === y, 1).otherwise(0)), v => v === 1))
    }

  /** md5-seeded MinHash signatures: `sig[k] = min over shingles of
    * md5(k || '|' || shingle)` — 32-char lowercase hex strings whose
    * lexicographic min is engine-portable (equal-width hex compare ==
    * numeric compare), so signatures, banding, and verification are
    * all reproducible in ANSI SQL. The xxhash64 production path
    * ([[minhashSignatures]], a fused codegen loop over 8-byte keys)
    * stays the scale path; this one exists so the band/bucket/verify
    * machinery gets a rows+schema+hash oracle, at the cost of string
    * hashing per (seed, shingle).
    *
    * Duplicate shingles are NOT dropped before the min — the min over
    * a multiset equals the min over its set, so `distinct` would buy
    * nothing and cost a shuffle.
    */
  def minhashSignaturesSeeded(df: DataFrame, id: Column, text: Column,
                              n: Int, numHashes: Int): DataFrame =
    // stage the shingle-string array in its own column first: lambdas
    // referencing a bound column are cheap, while inlining the
    // split/normalize/shingle expression re-evaluates it per seed
    // (the r2 nested-HOF trap)
    df.select(id.as("id"), split(Cleanser.normalized(text), " ").as("__w"))
      .where(size(col("__w")) >= n)
      .select(col("id"),
        transform(sequence(lit(0), size(col("__w")) - n),
          i => array_join(slice(col("__w"), i + 1, lit(n)), " ")).as("__sh"))
      .select(col("id"),
        transform(sequence(lit(0), lit(numHashes - 1)),
          k => array_min(transform(col("__sh"),
            s => md5(concat(k.cast("string"), lit("|"), s))))).as("sig"))

  /** Seeded LSH pairs: [[minhashSignaturesSeeded]] +
    * [[lshPairsFromSignatures]] with an md5 band key
    * (`md5(concat_ws('|', bandSlice))` — `array_to_string` in DuckDB).
    */
  def minhashLshPairsSeeded(df: DataFrame, id: Column, text: Column,
                            n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                            threshold: Double = 0.5,
                            maxBucketSize: Option[Int] = None,
                            salt: Int = 1): DataFrame =
    lshPairsFromSignatures(
      minhashSignaturesSeeded(df, id, text, n, numHashes),
      numHashes, bands, threshold, maxBucketSize, salt,
      bandKey = (_, sl) => md5(concat_ws("|", sl)))

  /** [[minhashSignatures]] carrying each doc's exact distinct-shingle
    * count: `(id, sig, n_sh)` — the signature-store shape the
    * CONTAINMENT estimator needs ([[containmentFromSignatures]]:
    * Broder's |A∩B| recovery requires the set SIZES alongside the
    * resemblance estimate; they're one `array_distinct` over the
    * already-staged shingle array, zero extra shuffle, so a store
    * that persists them loses nothing and gains the asymmetric
    * detector). */
  def minhashSignaturesWithSize(df: DataFrame, id: Column, text: Column,
                                n: Int, numHashes: Int): DataFrame =
    df.select(id.as("id"), split(Cleanser.normalized(text), " ").as("__w"))
      .where(size(col("__w")) >= n)
      .select(col("id"),
        HashExpressions.hashedShingles(col("__w"), n).as("__sh"))
      .select(col("id"),
        HashExpressions.minhashSig(col("__sh"), numHashes).as("sig"),
        size(array_distinct(col("__sh"))).cast("long").as("n_sh"))

  /** [[minhashSignaturesSeeded]] carrying the doc's distinct shingle
    * count — the seeded (ANSI-SQL-replayable) twin of
    * [[minhashSignaturesWithSize]]; sizes count distinct shingle
    * STRINGS (vs the scale path's distinct hashes — equal short of
    * an xxhash64 collision). */
  def minhashSignaturesSeededWithSize(df: DataFrame, id: Column,
                                      text: Column, n: Int,
                                      numHashes: Int): DataFrame =
    df.select(id.as("id"), split(Cleanser.normalized(text), " ").as("__w"))
      .where(size(col("__w")) >= n)
      .select(col("id"),
        transform(sequence(lit(0), size(col("__w")) - n),
          i => array_join(slice(col("__w"), i + 1, lit(n)), " ")).as("__sh"))
      .select(col("id"),
        transform(sequence(lit(0), lit(numHashes - 1)),
          k => array_min(transform(col("__sh"),
            s => md5(concat(k.cast("string"), lit("|"), s))))).as("sig"),
        size(array_distinct(col("__sh"))).cast("long").as("n_sh"))

  /** CONTAINMENT pairs estimated from MinHash signatures alone — the
    * [[containmentPairs]] scale path (Broder 1997 §4, a published
    * method): the exact detector's shingle-index join is
    * corpus-output-bound, while this one computes both containment
    * directions from the SAME `(id, sig, n_sh)` signature store the
    * LSH family already persists — no shingle index at all:
    *
    *   `Ĵ = agreeing positions / numHashes` (the resemblance
    *   estimator), `|A∩B| ≈ Ĵ/(1+Ĵ)·(|A|+|B|)` (from
    *   J = |∩|/(|A|+|B|−|∩|) solved for |∩|), then
    *   `cont_a = |A∩B|/|A|`, `cont_b = |A∩B|/|B|` — clamped to 1
    *   (the estimate can exceed the true min-size bound).
    *
    * Candidates use SINGLE-POSITION banding (`bands = numHashes`,
    * r = 1): a pair collides when ANY signature position agrees —
    * P(per position) = J, so a contained doc at size ratio s (J ≈
    * 1/s) is found with P = 1−(1−1/s)^numHashes ≈ 99% at s = 8,
    * numHashes = 32. Classic r≥2 banding would miss exactly these
    * asymmetric pairs (J^r collapses: the q23 bands see a J = 0.125
    * pair with P ≈ 0.01) — that is WHY containment needs its own
    * banding rung, not a threshold tweak on the jaccard one. The
    * trade is bucket skew: a bucket keys on one min-hash value, so
    * boilerplate that owns many docs' minimum concentrates there —
    * `maxBucketSize` (recall-lossy) and `salt` (recall-preserving)
    * are the same two valves every banding surface carries; size the
    * ratio ceiling by numHashes (s ≫ numHashes pairs fall below the
    * banding's reach — raise numHashes, not bands).
    *
    * The valves are MEASURED against a planted hot shingle
    * ([[graft.SkewBench]]; bench_skew_sf1.json — a 30-token license
    * header on 5% of a 50k-doc corpus): `maxBucketSize = 64` cut
    * candidates 29.8M → 7.3M (wall 11.1 → 3.9 s) while keeping
    * every planted doc-in-doc pair — including pairs CARRYING the
    * boilerplate, because a real contained pair's collisions also
    * ride its non-boilerplate signature positions, and the cap only
    * drops the hot buckets; `salt = 8` reproduced the unvalved
    * candidate set exactly (asserted in the harness) with the n²/S
    * task split. What the cap genuinely forfeits is containment
    * pairs whose ONLY shared content is the boilerplate itself —
    * by construction the pairs a dedup policy does not want.
    *
    * Verification is signature agreement (as
    * [[lshPairsFromSignatures]]) plus double arithmetic replayable
    * in ANSI SQL — with md5-seeded signatures the whole operator
    * oracle-checks rows+schema+hash. */
  def containmentFromSignatures(signatures: DataFrame, numHashes: Int,
                                threshold: Double,
                                maxBucketSize: Option[Int] = None,
                                salt: Int = 1,
                                bandKey: (Column, Column) => Column =
                                  (bi, sl) => xxhash64(bi, sl)): DataFrame = {
    require(Seq("id", "sig", "n_sh").forall(signatures.columns.contains),
      "signatures must carry (id, sig, n_sh) — see " +
        "minhashSignaturesWithSize")
    bandedCandidates(signatures, Seq("sig", "n_sh"), bands = numHashes,
      bi => bandKey(lit(bi), slice(col("sig"), bi + 1, 1)),
      maxBucketSize, salt)
      .withColumn("est_jaccard",
        sigAgreement(signatures, col("sig_a"), col("sig_b"))
          .cast("double") / numHashes)
      .withColumn("__common",
        col("est_jaccard") / (lit(1.0) + col("est_jaccard")) *
          (col("n_sh_a") + col("n_sh_b")))
      .withColumn("cont_a",
        least(lit(1.0), col("__common") / col("n_sh_a")))
      .withColumn("cont_b",
        least(lit(1.0), col("__common") / col("n_sh_b")))
      .where(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("id_a", "id_b", "est_jaccard", "cont_a", "cont_b")
  }

  /** Connected components over a near-dup pair list: every doc in a
    * component gets the component's minimum id as its label — the
    * clustering step that turns pairwise LSH hits into dedup groups
    * (keep the canonical, drop the rest).
    *
    * Algorithm: **hash-to-min** (Rastogi et al. 2013, "Finding
    * Connected Components in Map-Reduce in Logarithmic Rounds").
    * State is a cluster-membership relation C as (v, u) rows; each
    * round every node sends min(C(v)) to all of C(v) and sends C(v)
    * to min(C(v)) — one aggregate, one co-partitioned join, two
    * projections, one distinct. Cluster reach DOUBLES per round, so
    * rounds are O(log diameter) on paths/trees (proven in the paper;
    * CcPropertySpec checks rounds ≤ 2⌈log₂ diameter⌉+2 against
    * adversarial id placements). Rounds 1-4 of this project ran
    * hash-min + a single pointer-jump instead — measured O(diameter)
    * on adversarial permutations (the label forest compresses, but
    * the min still crosses the GRAPH one hop per round; the round-5
    * property run caught exactly this). Hash-to-min trades that for
    * state: Σ|C(v)| intermediate rows — O(n log n) on paths, and the
    * min node's row set IS the component (the operator's output
    * anyway). For LSH dedup clusters (small, dense components) state
    * ≈ the pair list itself; the upstream bucket caps / salting
    * valves bound pathological cluster sizes before they reach here.
    *
    * Input: (id_a, id_b) pairs. Output: (id, component) for every id
    * appearing in a pair (singletons are their own implicit
    * component and are not emitted).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 15): DataFrame =
    connectedComponentsWithRounds(pairs, maxIters)._1

  /** Test seam: [[connectedComponents]] plus the number of rounds it
    * ran (including the final no-change round that proves
    * convergence) — what the 2⌈log₂ diameter⌉+2 property asserts
    * against. */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, maxIters: Int = 15): (DataFrame, Int) = {
    // Iterative-DataFrame trap (the round-2 18.9 s bench anomaly):
    // `state = next` would carry the WHOLE logical plan of every
    // prior round — each embedding the pair-generator's plan (the
    // LSH candidate join) several times — and Catalyst re-analyzes
    // that exponentially growing tree on every action even though
    // execution reads from cache. `localCheckpoint(eager)` truncates
    // lineage at each round boundary so round plans stay O(1)-sized.
    // (Trade-off, as with GraphX: a lost executor can't recompute
    // truncated partitions — on a real cluster prefer
    // `setCheckpointDir` + reliable `checkpoint()` for long jobs.)
    // edges checkpoints BEFORE the symmetrize-union so the pair
    // generator runs exactly once — a plain union would embed (and
    // race-compute) its plan in both branches
    val edges = pairs
      .select(col("id_a").cast("long").as("v"),
        col("id_b").cast("long").as("u"))
      .localCheckpoint(true)
    val sym = edges.union(edges.select(col("u").as("v"), col("v").as("u")))
    // C₀(v) = {v} ∪ neighbors(v)
    var state = sym.union(sym.select(col("v"), col("v").as("u")))
      .distinct().localCheckpoint(true)
    // NOTE: Dataset.unpersist() is a silent no-op on checkpointed
    // frames (CacheManager never registered them) — blocks must be
    // freed through the plan's RDD (CheckpointBridge), or every
    // round's state lingers until a driver GC
    CheckpointBridge.unpersist(edges)
    var stateCnt = state.count()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val mins = state.groupBy(col("v")).agg(min(col("u")).as("m"))
      // materialized (checkpoint) because both sends consume it —
      // unmaterialized, the min-aggregate shuffle would run twice
      val withMin = state.join(mins, "v").localCheckpoint(true)
      val next = withMin.select(col("u").as("v"), col("m").as("u"))
        .union(withMin.select(col("m").as("v"), col("u")))
        .distinct()
        .localCheckpoint(true)
      // exact fixpoint probe: equal row counts + empty one-sided
      // difference ⟺ set equality (both sides are distinct sets);
      // only 1-row counts reach the driver
      val nextCnt = next.count()
      converged = nextCnt == stateCnt &&
        next.except(state).limit(1).count() == 0L
      CheckpointBridge.unpersist(withMin)
      CheckpointBridge.unpersist(state)
      state = next
      stateCnt = nextCnt
      i += 1
    }
    if (!converged) {
      CheckpointBridge.unpersist(state)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "a component's diameter exceeds ~2^(maxIters/2); raise " +
          "maxIters (rounds are cheap and logarithmic in diameter)")
    }
    // at the fixpoint min(C(v)) is v's component label for every v
    val labels = state.groupBy(col("v")).agg(min(col("u")).as("comp"))
      .select(col("v").as("id"), col("comp"))
      .localCheckpoint(true)
    CheckpointBridge.unpersist(state)
    // returned frame stays checkpointed (materialized above); its
    // blocks are the operator's output — callers release them with
    // CheckpointBridge.unpersist / session shutdown, NOT clearCache
    (labels, i)
  }

  /** md5-seeded 60-bit SimHash as a '0'/'1' bit STRING over the
    * token SET (distinct tokens vote once — same rationale as
    * [[simhashes]]): token hash =
    * first 15 hex chars of md5(token) parsed as a 60-bit integer
    * (Spark `conv(hex, 16, 10)`; DuckDB `CAST('0x'||hex AS BIGINT)` —
    * verified value-identical; 60 bits fits SIGNED 64-bit in both),
    * bit j = `(v >> j) & 1` (LSB first), set when ones ≥ zeros. A
    * string-banded twin of [[simhashes]] that is reproducible in ANSI
    * SQL (same pattern as [[minhashSignaturesSeeded]]): the
    * xxhash64+codegen path stays the scale path; this exists so
    * banding + hamming verification get a rows+schema+hash oracle.
    * The md5→parse→vote chain runs as ONE fused per-row loop
    * (graft.plans.SimHashBitsSeeded): the declarative forms pay an
    * interpreted lambda call per (bit, token) — tens of millions of
    * invocations / 37 s at sf0.1 — for identical values
    * ([[simhashBitsSeededDeclarative]] stays as the spec's
    * cross-check).
    */
  def simhashBitsSeeded(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"),
        array_distinct(split(Cleanser.normalized(text), " ")).as("__w"))
      .where(size(col("__w")) >= 1)
      .select(col("id"),
        HashExpressions.simhashBitsSeeded(col("__w")).as("bits"))

  /** The declarative twin of [[simhashBitsSeeded]] — same values,
    * interpreted-HOF cost. Kept (test scope) so a spec can prove the
    * fused expression bit-identical to the formula the DuckDB oracle
    * replays. */
  private[graft] def simhashBitsSeededDeclarative(
      df: DataFrame, id: Column, text: Column): DataFrame =
    // stage the per-token hash VALUES once — all Bits bit votes
    // reference the bound __hv column (inlining the md5 would re-hash
    // every token per bit: the r2 nested-HOF trap, Bits× the work)
    df.select(id.as("id"),
        array_distinct(split(Cleanser.normalized(text), " ")).as("__w"))
      .where(size(col("__w")) >= 1)
      .select(col("id"),
        transform(col("__w"), t =>
          conv(substring(md5(t), 1, 15), 16, 10).cast("long")).as("__hv"))
      .select(col("id"), size(col("__hv")).as("__n"), col("__hv"))
      .select(col("id"),
        concat((0 until graft.plans.SimHashBitsSeeded.Bits).map { j =>
          val ones = aggregate(col("__hv"), lit(0L), (acc, v) =>
            acc + shiftrightunsigned(v, j).bitwiseAND(lit(1L)))
          when(ones * 2 >= col("__n"), "1").otherwise("0")
        }: _*).as("bits"))

  /** Seeded SimHash near-dup pairs: [[simhashBitsSeeded]] + the same
    * pigeonhole banding and hamming verify as [[simhashPairs]], over
    * bit-string slices (exact recall for hamming ≤ bands-1, as there).
    */
  def simhashPairsSeeded(df: DataFrame, id: Column, text: Column,
                         maxHamming: Int = 3, bands: Int = 4,
                         maxBucketSize: Option[Int] = None,
                         salt: Int = 1): DataFrame = {
    val nBits = graft.plans.SimHashBitsSeeded.Bits
    require(maxHamming < bands, "pigeonhole needs maxHamming < bands")
    require(bands >= 2 && nBits % bands == 0, s"bands must divide $nBits")
    val width = nBits / bands
    // hamming = bit_count(xor) over the re-packed bit strings — all
    // codegen'd; a per-position substr-compare lambda costs nBits
    // interpreted calls per CANDIDATE (the verify input is the
    // candidate set, not the corpus). Counting differing '0'/'1'
    // chars == counting differing bits, so the value matches the
    // oracle's char-compare count exactly.
    def packed(c: Column) = conv(c, 2, 10).cast("long")
    bandedCandidates(simhashBitsSeeded(df, id, text), Seq("bits"), bands,
      bi => col("bits").substr(bi * width + 1, width),
      maxBucketSize, salt)
      .withColumn("hamming",
        bit_count(packed(col("bits_a")).bitwiseXOR(packed(col("bits_b"))))
          .cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** (id, sh) 64-bit SimHash of the token SET: per bit, majority
    * vote of distinct-token-hash bits — pure map-side column math.
    *
    * SET (not multiset) semantics is deliberate: a token repeated
    * across a document — boilerplate, templating, markup — would
    * otherwise dominate the majority vote and pull every such doc's
    * fingerprint toward the hot token's bit pattern, collapsing the
    * band buckets the candidate join relies on (measured: one token
    * at ~1/3 of the bag concentrated a 50 k-doc corpus into 1/3 as
    * many buckets as a 5 k-doc one, a 1386× candidate-pair blow-up).
    * Voting each distinct token once is the standard production
    * defense, and matches the set semantics the minhash/jaccard
    * operators already use for shingles.
    *
    * Staged like `minhashSignatures`: token hashes land in a column
    * the 64 unrolled bit votes all reference, so the string hashing
    * runs once per row instead of once per bit (the inlined form is
    * 64× the hashing work). Votes fold with `aggregate` — no
    * per-bit filtered-array allocation.
    */
  def simhashes(df: DataFrame, id: Column, text: Column): DataFrame =
    // distinct on the TOKENS, not the hashes: matches the seeded
    // twin's semantics exactly (a hash collision between two distinct
    // tokens must still vote twice) and skips hashing repeats
    df.select(id.as("id"),
      HashExpressions.simhash64(
        HashExpressions.hashedShingles(array_distinct(
          split(Cleanser.normalized(text), " ")), 1)).as("sh"))

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`.
    *
    * Pigeonhole banding: 64 bits split into `bands` contiguous bands;
    * any pair within Hamming distance `bands - 1` matches exactly on
    * ≥ 1 band, so candidates = equi-join on (band index, band bits)
    * and the bound is *exact* (full recall) when
    * `maxHamming < bands`. Verification is `bit_count(xor) ≤ k` on
    * candidates only.
    */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
                   maxHamming: Int = 3, bands: Int = 4,
                   maxBucketSize: Option[Int] = None,
                   salt: Int = 1): DataFrame = {
    require(maxHamming < bands, "pigeonhole needs maxHamming < bands")
    require(bands >= 2 && 64 % bands == 0,
      "bands must divide 64 (and 1 band would put every doc in one bucket)")
    val width = 64 / bands
    bandedCandidates(simhashes(df, id, text), Seq("sh"), bands,
      bi => shiftrightunsigned(col("sh"), bi * width)
        .bitwiseAND(lit((1L << width) - 1)),
      maxBucketSize, salt)
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Passage-level exact dedup (the "exact substring dedup" mode of
    * Lee et al., *Deduplicating Training Data Makes Language Models
    * Better*, restricted to aligned windows): segment every document
    * into non-overlapping `k`-token passages, keep exactly ONE
    * occurrence of each duplicated full passage corpus-wide (the
    * lexicographically smallest (id, seg_id)), and rebuild each
    * document from its surviving passages in order. Unlike the
    * doc-level modes above, this removes duplicated SPANS from inside
    * otherwise-unique documents — the boilerplate paragraphs, license
    * headers and navigation blocks whole-doc dedup can't see.
    *
    * Output: `(id, text_clean, n_passages, n_dropped)` — one row per
    * input document (docs whose every passage was dropped keep a row
    * with empty `text_clean`). Only FULL `k`-token passages
    * participate in dedup; a short tail passage always survives (a
    * tail is not evidence of duplication, just of length % k).
    *
    * Scale shape: the canonical-occurrence aggregate IS the surviving
    * set — `groupBy(passage).agg(min(struct(id, seg)))` emits one row
    * per distinct passage, so no join-back over the passage volume is
    * needed. Two content shuffles total, both with map-side partial
    * aggregation: the passage-keyed min (carries each distinct
    * passage once per map partition; keyed by an xxhash64 prefix +
    * exact ptext — see the inline note) and the id-keyed reassembly.
    * The final id-keyed left join against the per-doc stats frame
    * re-reads the scan (cheap map-side projection) rather than
    * caching the corpus. Hot boilerplate passages are exactly what
    * the min-aggregate collapses map-side — the skew case degrades
    * toward fewer reduce rows, not more.
    *
    * Works on RAW space-delimited tokens (`split(text, ' ')`), not
    * `Cleanser.normalized`, so reassembly reproduces original bytes;
    * compose with a normalization pass upstream when fuzzier span
    * matching is wanted.
    */
  def passageDedup(df: DataFrame, id: Column, text: Column,
                   k: Int): DataFrame = {
    require(k >= 1, "passage length must be >= 1")
    // n_passages = ceil(|tokens| / k); split('', ' ') = [''] so every
    // doc (null text included, via the coalesce) has >= 1 passage
    val base = df.select(id.as("id"),
        split(coalesce(text, lit("")), " ").as("__w"))
      .select(col("id"), col("__w"),
        ceil(size(col("__w")).cast("double") / k).cast("long")
          .as("n_passages"))
    val w = col("__w")
    // ONE segmentation pass (r15, the same lineage discipline as the
    // winnow/CDC fixes): the eligible aggregate, the short-tail
    // union and the n_passages count all consume this frame
    val seg = base.select(col("id"), col("n_passages"),
        posexplode(transform(sequence(lit(0L), col("n_passages") - 1L),
          i => slice(w, (i * k + 1).cast("int"), lit(k))))
          .as(Seq("seg_id", "__p")))
      .select(col("id"), col("seg_id").cast("long").as("seg_id"),
        array_join(col("__p"), " ").as("ptext"),
        (size(col("__p")) === k).as("eligible"))
      .transform(CacheScope.persist(_))
    // one surviving (id, seg_id) per distinct full-length passage —
    // the aggregate output is the survivor set, no join back. The
    // grouping key leads with xxhash64(ptext) (r7): the 8-byte prefix
    // fail-fasts every key comparison — most valuable when the
    // aggregate spills and the sort-based fallback compares full keys
    // — while ptext stays IN the key so semantics remain EXACT. A
    // hash-ONLY key with ptext as payload (the tempting further step)
    // is wrong at target scale: ~10^12 distinct 8-token passages at
    // 100 TB put the 64-bit birthday bound at thousands of collisions,
    // each silently deleting one passage corpus-wide — so the hash
    // prunes comparisons and the exact key confirms, the same
    // candidates-then-verify discipline as the LSH paths, fused into
    // one aggregate.
    val keptEligible = seg.where(col("eligible"))
      .groupBy(xxhash64(col("ptext")).as("__h"), col("ptext"))
      .agg(min(struct(col("id"), col("seg_id"))).as("__min"))
      .select(col("__min.id").as("id"), col("__min.seg_id").as("seg_id"),
        col("ptext"))
    val survivors = keptEligible.unionByName(
      seg.where(!col("eligible")).select("id", "seg_id", "ptext"))
    val rebuilt = survivors.groupBy(col("id"))
      .agg(count(lit(1)).as("__n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("seg_id"), col("ptext")))),
          s => s.getField("ptext")), " ").as("__text"))
    // n_passages = the per-id seg row count (every doc yields >= 1
    // passage, so the count equals base's ceil(|tokens|/k) without a
    // third pass over base's split)
    seg.groupBy(col("id")).agg(count(lit(1)).as("n_passages"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__text"), lit("")).as("text_clean"),
        col("n_passages"),
        (col("n_passages") - coalesce(col("__n_kept"), lit(0L)))
          .as("n_dropped"))
  }

  /** CONTENT-DEFINED chunking dedup — the insertion-robust member of
    * the passage family (the CDC principle of LBFS/rsync-class
    * systems, Muthitacharoen et al., SOSP 2001, applied to token
    * streams): a chunk boundary falls AFTER token `i` exactly when
    * the hash of the k-gram ending at `i` is ≡ 0 (mod `divisor`), so
    * boundaries are a function of LOCAL CONTENT, not position —
    * inserting one token at the head of a document shifts every
    * aligned window ([[passageDedup]] then sees nothing) but leaves
    * every boundary after the edit point exactly where it was, and
    * the shared chunks dedup. Expected chunk length ≈ `divisor`
    * tokens; `k` is the boundary context width.
    *
    * Output shape is [[passageDedup]]'s: `(id, text_clean, n_chunks,
    * n_dropped)`, one row per input doc, canonical occurrence = the
    * lexicographically smallest (id, chunk_id), reassembly from
    * surviving chunks in order. Chunks shorter than `minChunk`
    * (default k) always survive — a few stray tokens between two
    * close boundaries are not evidence of duplication. Same scale
    * shape as passageDedup: boundary detection and chunking are
    * IN-ROW scan algebra; the canonical-occurrence aggregate is the
    * survivor set (xxhash64-prefix + exact-text key — the
    * candidates-then-verify discipline fused into one aggregate);
    * two content shuffles total. NOT idempotent by construction:
    * removing a chunk changes its neighbors' context k-grams, so a
    * second pass may re-chunk differently (document, don't hide —
    * aligned passageDedup is the idempotent sibling).
    *
    * Raw space-delimited tokens, as passageDedup (byte-exact
    * reassembly); normalize upstream for fuzzier matching. */
  /** The CDC chunk list of one text column: `[(ctext, n_tok)]` —
    * boundaries, starts, ends, slices, all let-bound (the
    * CollapseProject lesson). */
  private def cdcChunkList(txt: Column, k: Int, divisor: Int,
                           hashKey: Column => Column): Column = {
    def let(bound: Column, body: Column => Column): Column =
      element_at(transform(array(bound), body), 1)
    let(split(coalesce(txt, lit("")), " "), t =>
      let(when(size(t) - 1 >= k,
          filter(sequence(lit(k), size(t) - 1), i =>
            pmod(hashKey(array_join(slice(t, i - (k - 1), lit(k)), " ")),
              lit(divisor.toLong)) === 0))
        .otherwise(array().cast("array<int>")), bnds =>
        let(concat(array(lit(1)), transform(bnds, b => b + 1)), starts =>
          let(concat(bnds, array(size(t))), ends =>
            transform(sequence(lit(0), size(starts) - 1), j =>
              struct(
                array_join(slice(t, element_at(starts, j + 1),
                  element_at(ends, j + 1) -
                    element_at(starts, j + 1) + 1), " ").as("ctext"),
                (element_at(ends, j + 1) -
                  element_at(starts, j + 1) + 1).as("n_tok")))))))
  }

  /** Exploded CDC chunk rows `(id, chunk_id, ctext, eligible)` — the
    * per-doc chunk frame [[cdcDedup]] aggregates and the store
    * builder for [[incrementalCdcDedup]] (persist
    * `where(eligible).select(ctext).distinct()`, bucketed by a
    * ctext hash, as the other incremental stores). */
  def cdcChunks(df: DataFrame, id: Column, text: Column,
                k: Int = 3, divisor: Int = 16,
                hashKey: Column => Column = xxhash64(_),
                minChunk: Option[Int] = None): DataFrame = {
    require(k >= 1 && divisor >= 2, "need k >= 1 and divisor >= 2")
    val floor = minChunk.getOrElse(k)
    df.select(id.as("id"), text.as("__txt"))
      .select(col("id"),
        posexplode(cdcChunkList(col("__txt"), k, divisor, hashKey))
          .as(Seq("chunk_id", "__c")))
      .select(col("id"), col("chunk_id").cast("long").as("chunk_id"),
        col("__c.ctext").as("ctext"),
        (col("__c.n_tok") >= floor).as("eligible"))
  }

  def cdcDedup(df: DataFrame, id: Column, text: Column,
               k: Int = 3, divisor: Int = 16,
               hashKey: Column => Column = xxhash64(_),
               minChunk: Option[Int] = None): DataFrame = {
    val base = df.select(id.as("id"), text.as("__txt"))
    // ONE chunking pass (r15, the shingle-family lineage discipline):
    // seg feeds the survivor aggregate, the ineligible union AND the
    // n_chunks count — unpersisted, each consumer would re-split and
    // re-hash the whole corpus text (the reassembly previously
    // re-evaluated cdcChunkList on base just for n_chunks)
    val seg = cdcChunks(df, id, text, k, divisor, hashKey, minChunk)
      .transform(CacheScope.persist(_))
    val keptEligible = seg.where(col("eligible"))
      .groupBy(xxhash64(col("ctext")).as("__h"), col("ctext"))
      .agg(min(struct(col("id"), col("chunk_id"))).as("__min"))
      .select(col("__min.id").as("id"),
        col("__min.chunk_id").as("chunk_id"), col("ctext"))
    val survivors = keptEligible.unionByName(
      seg.where(!col("eligible")).select("id", "chunk_id", "ctext"))
    cdcReassemble(base, seg, survivors)
  }

  /** Incremental CDC dedup — the daily-ingest shape for chunk-level
    * dedup, completing the incremental family (jaccard q56, MinHash
    * q57, embeddings q71, winnowing q84): the reference corpus
    * enters as its STORED distinct eligible-chunk texts (`refChunks`,
    * one `ctext` column — what [[cdcChunks]] persists), only the
    * batch chunks fresh, and a batch chunk drops when the reference
    * already carries it (the store is ALWAYS canonical — ref docs
    * were deduped when they landed) or an earlier batch occurrence
    * does. Output is [[cdcDedup]]'s shape over the batch docs only;
    * ref text is never re-read or re-chunked. The ref test is a
    * LEFT ANTI join keyed by chunk text (hash-prefix-keyed aggregate
    * on the batch side) — exchange-free against a store bucketed on
    * the ctext hash. */
  def incrementalCdcDedup(batch: DataFrame, id: Column, text: Column,
                          refChunks: DataFrame,
                          k: Int = 3, divisor: Int = 16,
                          hashKey: Column => Column = xxhash64(_),
                          minChunk: Option[Int] = None): DataFrame = {
    val base = batch.select(id.as("id"), text.as("__txt"))
    val seg = cdcChunks(batch, id, text, k, divisor, hashKey, minChunk)
      .transform(CacheScope.persist(_))
    val keptEligible = seg.where(col("eligible"))
      .join(refChunks.select(col("ctext")), Seq("ctext"), "left_anti")
      .groupBy(xxhash64(col("ctext")).as("__h"), col("ctext"))
      .agg(min(struct(col("id"), col("chunk_id"))).as("__min"))
      .select(col("__min.id").as("id"),
        col("__min.chunk_id").as("chunk_id"), col("ctext"))
    val survivors = keptEligible.unionByName(
      seg.where(!col("eligible")).select("id", "chunk_id", "ctext"))
    cdcReassemble(base, seg, survivors)
  }

  /** Shared reassembly tail of the two CDC modes: survivors back to
    * per-doc `(id, text_clean, n_chunks, n_dropped)`. `n_chunks` is
    * the per-id row count of the (persisted) chunk frame — the chunk
    * list is never empty (even "" yields one chunk), so the count
    * equals the old `size(cdcChunkList(__txt))` re-evaluation
    * without a second text+hash pass (r15). */
  private def cdcReassemble(base: DataFrame, seg: DataFrame,
                            survivors: DataFrame): DataFrame = {
    val rebuilt = survivors.groupBy(col("id"))
      .agg(count(lit(1)).as("__n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_id"), col("ctext")))),
          s => s.getField("ctext")), " ").as("__text"))
    base
      .select(col("id"))
      .join(seg.groupBy(col("id"))
        .agg(count(lit(1)).as("n_chunks")), Seq("id"), "left")
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__text"), lit("")).as("text_clean"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        (coalesce(col("n_chunks"), lit(0L)) -
          coalesce(col("__n_kept"), lit(0L))).as("n_dropped"))
  }

  /** INTRA-document repeated-window removal (Gopher-style repetition
    * pruning): within each doc, an aligned `k`-token window that
    * already appeared EARLIER IN THE SAME DOC is dropped — the
    * "page repeats its own nav block fifty times" pathology, which
    * [[passageDedup]]'s corpus-wide mode also catches but only by
    * paying its corpus-sized shuffles. Because the scope is one row,
    * this is pure in-row column algebra: ZERO shuffle at any corpus
    * size, the whole operator lives in the scan projection.
    *
    * First-occurrence test: `array_position(segs, seg_i) == i + 1` —
    * exact string equality against earlier windows, O(p²) small
    * compares per doc (p = ⌈tokens/k⌉, so hundreds for typical web
    * docs). Book-length outliers where p² bites should route through
    * [[passageDedup]] instead, whose aggregate is corpus-parallel.
    * Same output shape as passageDedup; the short tail window is
    * never dropped (it can't be a full duplicated window). */
  def intraDocDedup(df: DataFrame, id: Column, text: Column,
                    k: Int): DataFrame = {
    require(k >= 1, "window length must be >= 1")
    val staged = df.select(id.as("id"),
        split(coalesce(text, lit("")), " ").as("__w"))
      .select(col("id"), col("__w"),
        ceil(size(col("__w")).cast("double") / k).cast("long")
          .as("n_passages"))
      // stage the window array as an attribute: the filter lambda
      // below references it per element (the r2 nested-HOF trap)
      .withColumn("__segs",
        transform(sequence(lit(0L), col("n_passages") - 1L),
          i => array_join(
            slice(col("__w"), (i * k + 1).cast("int"), lit(k)), " ")))
    staged
      .select(col("id"), col("n_passages"),
        filter(col("__segs"), (s, i) =>
          // keep the (always-last) short tail, and every full
          // window whose FIRST occurrence in this doc is itself
          ((i + 1) * k > size(col("__w"))) ||
            array_position(col("__segs"), s) === (i + 1).cast("long"))
          .as("__kept"))
      .select(col("id"),
        array_join(col("__kept"), " ").as("text_clean"),
        col("n_passages"),
        (col("n_passages") - size(col("__kept"))).as("n_dropped"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS algorithm; a published method): hash
    * every token k-gram, slide a window over `w` consecutive hashes,
    * and keep each window's RIGHTMOST MINIMUM (the robust-winnowing
    * tie-break) — the selected `(pos, fp)` set is the document's
    * fingerprint. Returns one row per selected `(id, pos, fp)`.
    *
    * The guarantee that makes this the NON-ALIGNED complement to
    * [[passageDedup]]'s aligned windows: any shared token run of
    * length ≥ w + k − 1 shares at least one fingerprint — at ANY
    * alignment — while no run shorter than k can collide. Aligned
    * 8-token windows structurally miss a duplicated passage that
    * starts mid-window in one document; winnowing cannot.
    *
    * Scale shape: the whole selection is IN-ROW scan algebra
    * (O(n·w) array ops per doc, zero shuffle until the caller
    * aggregates), and expected fingerprint density is 2/(w+1) of the
    * k-gram count — `w` is the read-suppression knob. Docs with
    * fewer than k + w − 1 tokens have no full window and yield no
    * rows (document the cutoff, don't invent one). The md5 key
    * replays hash-identically in DuckDB; xxhash64 is the cheaper
    * scale default. */
  def winnowFingerprints(df: DataFrame, id: Column, text: Column,
                         k: Int = 5, w: Int = 4,
                         hashKey: Column => Column = xxhash64(_))
      : DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    // Each stage's array is LET-BOUND through a one-element-array
    // transform so it reaches the next stage as a lambda VARIABLE.
    // Referencing a derived column (`col("__h")`) inside a transform
    // lambda instead would let CollapseProject inline the producing
    // expression INTO the lambda body — re-splitting the document
    // per k-gram and re-hashing the whole k-gram array per window
    // element, O(n²·|text|) per doc (measured: a jstack of the sf0.1
    // audit showed StringSplit evaluating under ArrayTransform).
    def let(bound: Column, body: Column => Column): Column =
      element_at(transform(array(bound), body), 1)
    def sel(txt: Column): Column =
      let(split(Cleanser.normalized(txt), " "), t =>
        let(transform(sequence(lit(0), size(t) - k),
          i => hashKey(array_join(slice(t, i + 1, lit(k)), " "))), h =>
          array_distinct(transform(
            sequence(lit(0), size(h) - w),
            i => array_min(transform(slice(h, i + 1, lit(w)),
              (x, j) => struct(x.as("fp"),
                (-(i + j)).cast("long").as("np"))))))))
    df.select(id.as("id"), text.as("__txt"))
      .where(size(split(Cleanser.normalized(col("__txt")), " "))
        >= k + w - 1)
      .select(col("id"), explode(sel(col("__txt"))).as("__s"))
      .select(col("id"), (-col("__s.np")).cast("int").as("pos"),
        col("__s.fp").as("fp"))
  }

  /** Cross-document near-dup CANDIDATE pairs from shared winnowing
    * fingerprints — the non-aligned passage-overlap detector:
    * `(id_a < id_b, n_shared)` for every pair sharing ≥ 1 distinct
    * fingerprint value, `n_shared` counting them. By the winnowing
    * guarantee, any pair sharing a token run of ≥ w + k − 1 tokens
    * appears here regardless of alignment; pairs sharing no k-gram
    * cannot.
    *
    * The join is the LSH candidate shape: equi-join on `fp` (docs
    * sharing a fingerprint meet in its bucket), never a cartesian.
    * `maxFpDf` drops fingerprints shared by more than that many
    * documents before pairing — boilerplate k-grams (license
    * headers, navigation chrome) otherwise create the same
    * quadratic hot buckets `maxShingleDf` caps in
    * [[jaccardPairs]]. */
  def winnowCandidatePairs(df: DataFrame, id: Column, text: Column,
                           k: Int = 5, w: Int = 4,
                           hashKey: Column => Column = xxhash64(_),
                           maxFpDf: Option[Int] = None): DataFrame = {
    // persisted (r15, the one-pass lineage discipline): the df-cap
    // aggregate and BOTH self-join sides consume this frame —
    // unpersisted, each re-derives the normalize+split+hash pass
    // from text
    val fps = winnowFingerprints(df, id, text, k, w, hashKey)
      .select(col("id"), col("fp")).distinct()
      .transform(CacheScope.persist(_))
    val kept = maxFpDf match {
      case None => fps
      case Some(cap) =>
        require(cap >= 2, "maxFpDf must be at least 2")
        // persisted (r19): the capped frame feeds BOTH self-join
        // sides, which canonicalize differently (id→id_a / id→id_b),
        // so exchange reuse never fires and the df-cap aggregate +
        // join re-executed per side (the r18 shingleOverlap finding,
        // same fix). Two longs per row.
        CacheScope.persist(fps.join(
          fps.groupBy("fp").agg(count(lit(1)).as("__df"))
            .where(col("__df") <= cap).select("fp"),
          "fp"))
    }
    kept.select(col("fp"), col("id").as("id_a"))
      .join(kept.select(col("fp"), col("id").as("id_b")), "fp")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Token k-gram hashes `(id, pos, h)` at EVERY position — the
    * verification-side frame for [[winnowVerifiedPairs]]: winnowing
    * keeps a 2/(w+1) sample of these for candidate generation; the
    * verifier needs all of them to measure the actual shared run.
    * Same let-binding discipline as [[winnowFingerprints]] (the
    * split must reach the transform as a lambda variable or
    * CollapseProject re-splits the document per k-gram).
    *
    * `maxHashPerDoc` keeps only the FIRST `cap` positions of every
    * (doc, hash) group — the verify-side twin of `maxFpDf`'s
    * cross-doc cap: a token repeated n times yields n−k+1 identical
    * k-gram hashes, and a candidate pair of two such docs would
    * otherwise meet in O(n_a·n_b) matched rows in the verify join
    * (which `maxFpDf` does NOT guard — it caps candidate generation
    * only; exactly the spam/boilerplate inputs dedup corpora
    * contain). With the cap, matched rows per (pair, hash) are
    * ≤ cap², independent of document length — and because the first
    * `cap` occurrences are KEPT (not the group dropped), a genuinely
    * duplicated repetitive pair still verifies, with its run through
    * the repeated region measured conservatively (≥ cap + k − 1 when
    * the true run is longer). One (id, h)-keyed window — map-side
    * volume is exactly the repetitive rows the cap exists to
    * bound. */
  private[graft] def kgramHashes(df: DataFrame, id: Column, text: Column,
                                 k: Int, hashKey: Column => Column,
                                 maxHashPerDoc: Option[Int] = None)
      : DataFrame = {
    def let(bound: Column, body: Column => Column): Column =
      element_at(transform(array(bound), body), 1)
    val all = df.select(id.as("id"), text.as("__txt"))
      .where(size(split(Cleanser.normalized(col("__txt")), " ")) >= k)
      .select(col("id"), posexplode(
        let(split(Cleanser.normalized(col("__txt")), " "),
          t => transform(sequence(lit(0), size(t) - k),
            i => hashKey(array_join(slice(t, i + 1, lit(k)), " ")))))
        .as(Seq("pos", "h")))
    maxHashPerDoc match {
      case None => all
      case Some(cap) =>
        require(cap >= 1, "maxHashPerDoc must be at least 1")
        val byDocHash = org.apache.spark.sql.expressions.Window
          .partitionBy("id", "h").orderBy("pos")
        all.withColumn("__rn", row_number().over(byDocHash))
          .where(col("__rn") <= cap)
          .drop("__rn")
    }
  }

  /** Winnow-VERIFIED passage near-dup: candidates from
    * [[winnowCandidatePairs]], then each pair's actual longest
    * shared token run measured exactly — `(id_a, id_b, n_shared,
    * longest_run)` for pairs whose longest shared run is ≥ `minRun`
    * tokens (default w + k − 1, the winnowing guarantee's floor, so
    * the verified set is COMPLETE for runs at or above it: every
    * such pair is a candidate, and every candidate's run length is
    * measured exactly).
    *
    * The verifier never runs an O(|a|·|b|) LCS per pair. A shared
    * token run of length L is, in k-gram space, a chain of L − k + 1
    * matching k-grams at CONSECUTIVE positions on one DIAGONAL
    * (i − j constant), so longest_run = (longest consecutive-i
    * island within any (pair, diagonal) group) + k − 1 — a hash
    * equi-join plus a gaps-and-islands window, both keyed by pair:
    * fully distributed, partitioned by (id_a, id_b, diagonal),
    * never a single-partition window. Matches are by k-gram HASH;
    * a collision could only ever lengthen a run (same in the
    * replayed oracle, which uses the same hash family).
    *
    * Scale shape: candidates ≪ corpus² (the winnowing equi-join
    * bounds them), and the k-gram frames join THROUGH the candidate
    * pair list, so the verify cost is Σ_pairs |a|·(matches), not
    * corpus-sized. `maxFpDf` caps boilerplate fingerprints exactly
    * as in [[winnowCandidatePairs]]; `maxHashPerDoc` caps the
    * VERIFY join against hyper-repetitive text ([[kgramHashes]]:
    * two spam docs of one repeated token would otherwise match in
    * O(n_a·n_b) rows before the islands window). The first `cap`
    * positions per (doc, hash) are kept, so a genuinely duplicated
    * repetitive pair still verifies — its run through the repeated
    * region just measures CONSERVATIVELY (≥ cap + k − 1 when the
    * true run is longer). The default is `None` — EXACT `longest_run`
    * always; the cap is an explicit opt-in for corpora where
    * hyper-repetitive pairs make the verify join quadratic (the
    * query surface opts into `Some(64)`, mirrored in its oracle).
    *
    * ONE-PASS lineage (r15 — the shingle-price investigation's fix):
    * the every-position k-gram hash frame, which the verifier needs
    * anyway, is computed ONCE and persisted (MEMORY_AND_DISK: (id,
    * pos, 8-byte hash) ≈ a fifth of corpus text bytes, spilling to
    * executor-local disk at scale); winnowing fingerprints DERIVE
    * from it with a w-sliding min over (id, pos) — the same
    * robust-winnowing rightmost-minimum struct the array form
    * selects, probe-verified row-identical at sf1. The previous form
    * re-derived normalize+split+hash from text once per lineage
    * consumer (~5×: the fp-df cap aggregate, both candidate
    * self-join sides, both verify sides) — measured at sf1, the
    * one-pass form prices 14–18 s vs 20–24 s shipped, and cuts the
    * codegen/JIT surface that made the old price swing ~1.5× across
    * quiet same-code runs (PERF.md r15). */
  /** Winnowing selection over an ALREADY-COMPUTED every-position
    * k-gram frame (`(id, pos, h)`, [[kgramHashes]]'s shape) — the
    * distinct `(id, fp)` set [[winnowFingerprints]] would select
    * from the same text, derived without re-touching it: full
    * windows only (`pos ≤ n_kgrams − w` ⇔ the array form's
    * doc-length cutoff) and `min(struct(h, −pos))` over a w-row
    * sliding window = the robust-winnowing RIGHTMOST minimum, the
    * array form's tie-break exactly (equivalence spec-pinned on an
    * adversarial tie corpus, plus probe-verified row-identical at
    * sf1 through the verify surface). */
  private[graft] def winnowFingerprintsFromKgrams(kg: DataFrame,
                                                  w: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("id")
    val winW = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        w - 1)
    kg.withColumn("__n", count(lit(1)).over(byDoc))
      .withColumn("__sel",
        min(struct(col("h").as("fp"),
          (-col("pos")).cast("long").as("np"))).over(winW))
      .where(col("pos") <= col("__n") - w)
      .select(col("id"), col("__sel.fp").as("fp")).distinct()
  }

  def winnowVerifiedPairs(df: DataFrame, id: Column, text: Column,
                          k: Int = 5, w: Int = 4,
                          hashKey: Column => Column = xxhash64(_),
                          maxFpDf: Option[Int] = None,
                          minRun: Option[Int] = None,
                          maxHashPerDoc: Option[Int] = None)
      : DataFrame = {
    val runFloor = minRun.getOrElse(w + k - 1)
    require(runFloor >= k,
      s"minRun must be at least k=$k (shorter runs share no k-gram)")
    val kgBase = kgramHashes(df, id, text, k, hashKey, None)
      .transform(CacheScope.persist(_))
    val fps = winnowFingerprintsFromKgrams(kgBase, w)
      .transform(CacheScope.persist(_))
    val kept = maxFpDf match {
      case None => fps
      case Some(cap) =>
        require(cap >= 2, "maxFpDf must be at least 2")
        // persisted (r19): both candidate self-join sides consume the
        // capped frame under different canonicalization — see
        // winnowCandidatePairs
        CacheScope.persist(fps.join(
          fps.groupBy("fp").agg(count(lit(1)).as("__df"))
            .where(col("__df") <= cap).select("fp"),
          "fp"))
    }
    val cands = kept.select(col("fp"), col("id").as("id_a"))
      .join(kept.select(col("fp"), col("id").as("id_b")), "fp")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
    val kg = maxHashPerDoc match {
      case None => kgBase
      case Some(cap) =>
        require(cap >= 1, "maxHashPerDoc must be at least 1")
        val byDocHash = org.apache.spark.sql.expressions.Window
          .partitionBy("id", "h").orderBy("pos")
        kgBase.withColumn("__rn", row_number().over(byDocHash))
          .where(col("__rn") <= cap).drop("__rn")
    }
    val matched = cands
      .join(kg.select(col("id").as("id_a"), col("pos").as("__i"), col("h")),
        "id_a")
      .join(kg.select(col("id").as("id_b"), col("pos").as("__j"), col("h")),
        Seq("id_b", "h"))
    val byDiag = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b", "__d").orderBy("__i")
    matched
      .select(col("id_a"), col("id_b"), col("n_shared"), col("__i"),
        (col("__i") - col("__j")).as("__d"))
      .withColumn("__grp", col("__i") - row_number().over(byDiag))
      .groupBy("id_a", "id_b", "n_shared", "__d", "__grp")
      .agg(count(lit(1)).as("__len"))
      .groupBy("id_a", "id_b", "n_shared")
      .agg((max(col("__len")) + (k - 1)).cast("int").as("longest_run"))
      .where(col("longest_run") >= runFloor)
  }

  /** Incremental winnowing pairs — the daily-ingest shape for the
    * non-aligned detector, completing the incremental family
    * (jaccard [[incrementalJaccardPairs]], MinHash
    * [[incrementalLshPairsFromIndex]], embeddings
    * `Similarity.incrementalNearDupPairsFromIndex`): the reference
    * corpus enters as its STORED distinct `(id, fp)` fingerprint
    * frame — ~2n/(w+1) longs per doc, no reference text ever
    * re-read or re-winnowed — and only the new batch fingerprints
    * fresh. Candidates are new×ref ∪ new×new; ref×ref never
    * enumerates, so output scales with batch × overlap, never
    * corpus². `id_b` is always the NEW doc at risk (both-new pairs
    * keep id_a < id_b), matching the q56 drop-policy orientation.
    *
    * `maxFpDf` caps fingerprint document-frequency over the
    * COMBINED (ref ∪ new) frame — the same cap the one-shot
    * [[winnowCandidatePairs]] would apply to the full corpus, so
    * the incremental run equals the full run restricted to pairs
    * touching a new doc (spec-asserted). The cap's fp-keyed
    * aggregate — and the candidate equi-join — run exchange-free
    * against a store written `Bucketing.writeBucketed(…, Seq("fp"))`
    * (plan spec mirrors the signature store's).
    *
    * Caller contract: ref and batch doc ids disjoint; `refFps`
    * rows distinct on (id, fp) — [[winnowFingerprints]] output
    * projected and deduped, which is what the store holds. */
  /** Corpus-wide REPEATED-SPAN detection — exact-substring dedup
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better", ExactSubstr — a published method): the maximal
    * token spans of every document whose every `minRun`-token window
    * appears (by hash) more than once in the corpus, i.e. the text a
    * span-REMOVAL pass strips before training. The winnowing family
    * detects near-dup PAIRS; this detects the duplicated text
    * itself, including within-doc repetition and many-way
    * boilerplate no pairwise policy ever visits.
    *
    * Exactness identity (what lets Spark do this without their
    * suffix array): a repeated substring of length ≥ L contains a
    * repeated L-gram at every offset, and every repeated L-gram IS a
    * repeated substring of length L — so "tokens covered by an
    * L-gram with corpus occurrence count ≥ 2" is exactly the
    * ExactSubstr criterion at threshold L. One corpus-sized
    * frequency aggregate over 8-byte hashes + a per-doc interval
    * merge; no pair enumeration, no quadratic term anywhere, which
    * is why this surface needs NO df cap or bucket valve.
    *
    * Output: `(id, span_start, span_end, span_tokens)` — merged
    * maximal covered intervals in token positions (0-based,
    * inclusive; overlapping/adjacent anchor windows coalesce).
    * Positions index the NORMALIZED token stream (the pipeline's
    * working form, as every detector here). Matching is by L-gram
    * hash: a collision can only ever widen a span, same failure
    * direction as the whole hash family.
    *
    * Scale ladder of the dup-gram join — DELIBERATELY unhinted:
    * unlike every other broadcast in this file (dimension- or
    * parameter-bounded by construction), the duplicated-gram set is
    * CORPUS-DEPENDENT — tiny on clean text, potentially
    * corpus-sized on boilerplate-heavy crawl. At sf0.1 AQE
    * broadcasts it off the frequency aggregate's runtime row count;
    * past `spark.sql.autoBroadcastJoinThreshold` it degrades to a
    * shuffled join on `h` — the right rung, since both sides are
    * already h-partitioned by the aggregate, so the SMJ re-shuffles
    * only the anchors side. A broadcast hint here would OOM the
    * driver exactly on the corpora this operator exists for;
    * results are plan-invariant (spec-pinned at a forced-SMJ
    * threshold). */
  def repeatedSpans(df: DataFrame, id: Column, text: Column,
                    minRun: Int,
                    hashKey: Column => Column = xxhash64(_)): DataFrame = {
    require(minRun >= 1, "minRun must be at least 1")
    // persisted (r19): the every-position L-gram frame feeds the
    // frequency aggregate AND the anchor join — uncached, the
    // normalize+split+hash text pass ran twice per query (the same
    // duplicated-subtree fix the incremental/perDoc variants already
    // carry, and winnowVerifiedPairs' kgBase). (id, pos, 8-byte hash)
    // ≈ a fifth of corpus text bytes, MEMORY_AND_DISK.
    val kg = kgramHashes(df, id, text, minRun, hashKey)
      .transform(CacheScope.persist(_))
    val dup = kg.groupBy("h").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= 2).select("h")
    mergeAnchorSpans(kg.join(dup, "h").select("id", "pos"), minRun)
  }

  /** Interval merge of duplicated-L-gram anchor positions into
    * maximal covered spans — anchors sorted per doc; window ends are
    * monotone in pos, so a gap opens exactly when
    * pos > lag(pos) + L (start past previous end + 1). Shared by the
    * one-shot and incremental span detectors. */
  private def mergeAnchorSpans(anchors: DataFrame, minRun: Int)
      : DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    anchors
      .withColumn("__brk",
        when(lag(col("pos"), 1).over(byDoc).isNull ||
          col("pos") > lag(col("pos"), 1).over(byDoc) + minRun, 1)
          .otherwise(0))
      .withColumn("__grp", sum(col("__brk")).over(byDoc))
      .groupBy("id", "__grp")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + minRun - 1).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** The STORED shape of the span detector's corpus state: one
    * `(h, c)` row per distinct L-gram hash with its corpus
    * occurrence count — slimmer than any index in this family (two
    * longs, no positions). Write it bucketed by `h` WITH the bucket
    * count matched to the increment's shuffle parallelism — the
    * batch's own count aggregate already leaves h-partitioned data,
    * so an unaligned bucket count would re-shuffle a side and buy
    * nothing (BucketingSpec pins the aligned plan; the store's
    * primary win is skipping the reference TEXT re-scan either
    * way); maintenance is additive (counts
    * SUM under appends — `groupBy(h).sum` over store ∪ batch counts
    * rebuilds the post-ingest store without touching text). */
  def gramCounts(df: DataFrame, id: Column, text: Column, minRun: Int,
                 hashKey: Column => Column = xxhash64(_)): DataFrame =
    kgramHashes(df, id, text, minRun, hashKey)
      .groupBy("h").agg(count(lit(1)).as("c"))

  /** SOFT dedup — per-document duplication down-WEIGHTS instead of
    * hard removal (the reweighting school of train-data dedup, e.g.
    * SoftDeDup, He et al. 2024 — a published method; where
    * [[stripRepeatedSpans]] deletes the duplicated text, this keeps
    * every document and prices its duplication into the sampling
    * weight, preserving the information hard dedup throws away).
    *
    * Statistics per doc, over the same L-gram criterion the spans
    * family uses (`minRun`-token windows, corpus frequency ≥ 2):
    *  - `n_grams`   — the doc's window count
    *  - `n_dup`     — windows whose L-gram is corpus-duplicated
    *  - `dup_mass`  — Σ corpus frequency over those windows (how MANY
    *    times over the duplication runs: boilerplate in 10k docs and
    *    a one-other-copy passage both have dup_ratio 1 but mass 10k
    *    vs 2 — callers weighting by mass punish the former harder)
    *  - `dup_ratio` — n_dup / n_grams ∈ [0, 1]
    *  - `weight`    — 1 / (1 + λ·dup_ratio): 1 for pristine docs,
    *    1/(1+λ) for fully-duplicated ones. One division of exact
    *    Longs then one multiply/add/divide chain — deterministic IEEE
    *    sequence, no order-dependent float SUM anywhere, so the
    *    seeded-hash form replays bit-identically in ANSI SQL (the
    *    [[containmentFromSignatures]] arithmetic discipline).
    *
    * Docs with fewer than `minRun` tokens have no windows and are
    * absent (they have no duplication evidence either way; a caller
    * joining weights back treats missing as weight 1).
    *
    * Scale shape: gram explode → `(id, h)` partial-agg → h-keyed
    * frequency aggregate (map-side combined, the [[repeatedSpans]]
    * backbone) → join back on h → id-keyed final aggregate. No pair
    * term, no df cap needed — the same reasons the spans family
    * scales. */
  def softDedupWeights(df: DataFrame, id: Column, text: Column,
                       minRun: Int, lambda: Double = 4.0,
                       hashKey: Column => Column = xxhash64(_))
      : DataFrame = {
    // DELIBERATELY uncached (r19 negative result): perDoc's two
    // consumers (the frequency aggregate and the join-back) keep
    // IDENTICAL canonicalization — no aliasing — so ReuseExchange
    // already deduplicates the (id, h) exchange and the text pass
    // runs ONCE; a persist here measured 6→8 stages and 2.5→37 s of
    // tasktime at sf0.1 (cache write + columnar round-trip bought
    // nothing). Contrast the capped winnow/shingle frames, whose
    // consumers alias (id→id_a / id→id_b) and defeat reuse.
    val perDoc = kgramHashes(df, id, text, minRun, hashKey)
      .groupBy("id", "h").agg(count(lit(1)).as("__k"))
    val freq = perDoc.groupBy("h").agg(sum(col("__k")).as("__c"))
    perDoc.join(freq, "h")
      .groupBy("id")
      .agg(sum(col("__k")).as("n_grams"),
        sum(when(col("__c") >= 2, col("__k")).otherwise(0L)).as("n_dup"),
        sum(when(col("__c") >= 2, col("__k") * col("__c")).otherwise(0L))
          .as("dup_mass"))
      .withColumn("dup_ratio",
        col("n_dup").cast("double") / col("n_grams").cast("double"))
      .withColumn("weight",
        lit(1.0) / (lit(1.0) + lit(lambda) * col("dup_ratio")))
  }

  /** [[softDedupWeights]] for DAILY INGEST, with PER-DOC batch
    * semantics — the [[perDocRepeatedSpans]] discipline applied to
    * the soft weights: a batch window counts as duplicated when
    * `its own doc's occurrences + stored corpus count ≥ 2`, and
    * `dup_mass` sums exactly those (own + stored) counts.
    * Batch-mates are invisible, so every document's weight is
    * INVARIANT under re-batching — the property a replayable gate
    * needs; duplication between two same-batch docs surfaces after
    * their grams land in the store (the next [[gramCounts]]
    * maintenance merge), identical to the span gate's trade.
    * Reference docs are never re-read: the corpus enters as the
    * stored `(h, c)` frame. Output schema == [[softDedupWeights]].
    *
    * Equivalences (spec-pinned): with an EMPTY store this is
    * exactly per-single-doc [[softDedupWeights]] (only within-doc
    * repetition counts); a doc whose windows are store-disjoint
    * gets the same stats the one-shot run gives it alone. */
  def perDocSoftDedupWeights(docs: DataFrame, refGramCounts: DataFrame,
                             id: Column, text: Column, minRun: Int,
                             lambda: Double = 4.0,
                             hashKey: Column => Column = xxhash64(_))
      : DataFrame = {
    require(Seq("h", "c").forall(refGramCounts.columns.contains),
      "refGramCounts must be a gramCounts frame: (h, c)")
    val perDoc = kgramHashes(docs, id, text, minRun, hashKey)
      .groupBy("id", "h").agg(count(lit(1)).as("__k"))
    perDoc
      .join(refGramCounts.select(col("h"), col("c").as("__rc")),
        Seq("h"), "left")
      .withColumn("__tot", col("__k") + coalesce(col("__rc"), lit(0L)))
      .groupBy("id")
      .agg(sum(col("__k")).as("n_grams"),
        sum(when(col("__tot") >= 2, col("__k")).otherwise(0L))
          .as("n_dup"),
        sum(when(col("__tot") >= 2, col("__k") * col("__tot"))
          .otherwise(0L)).as("dup_mass"))
      .withColumn("dup_ratio",
        col("n_dup").cast("double") / col("n_grams").cast("double"))
      .withColumn("weight",
        lit(1.0) / (lit(1.0) + lit(lambda) * col("dup_ratio")))
  }

  /** Incremental [[repeatedSpans]] — spans of the NEW batch against
    * reference ∪ batch, with the reference corpus entering as its
    * stored [[gramCounts]] frame (no reference text, no reference
    * positions — the count is all the criterion needs): a batch
    * L-gram anchors when `batch count + stored count ≥ 2`.
    * Bit-identical to the one-shot run on the union restricted to
    * batch docs (spec-pinned): the criterion is per-L-gram corpus
    * frequency, which the sum reconstructs exactly. Reference docs
    * are never re-scanned OR re-reported — they were stripped when
    * they landed (the q56 incremental discipline applied to spans). */
  /** [[incrementalRepeatedSpans]] with PER-DOC batch semantics: a
    * batch L-gram anchors when `its own doc's count + stored count
    * ≥ 2` — each document is gated against the corpus independently,
    * never against its batch-mates. The operational difference from
    * the batch-wide increment: output is INVARIANT under re-batching
    * (splitting a day's ingest into two jobs cannot change any doc's
    * spans), the property a replayable/streaming gate needs — and
    * exactly what the streaming twin
    * (`streaming.EventPipelines.streamRepeatedSpans`) computes, doc
    * by doc, spec-pinned equal. The trade: duplication BETWEEN two
    * same-batch docs is invisible until their grams land in the
    * store (the next maintenance cycle); the batch-wide
    * [[incrementalRepeatedSpans]] is the stricter same-job form. */
  def perDocRepeatedSpans(docs: DataFrame, refGramCounts: DataFrame,
                          id: Column, text: Column, minRun: Int,
                          hashKey: Column => Column = xxhash64(_))
      : DataFrame = {
    require(Seq("h", "c").forall(refGramCounts.columns.contains),
      "refGramCounts must be a gramCounts frame: (h, c)")
    val kg = kgramHashes(docs, id, text, minRun, hashKey)
      .transform(CacheScope.persist(_))
    val within = kg.groupBy("id", "h").agg(count(lit(1)).as("__wc"))
    val anchors = kg.join(within, Seq("id", "h"))
      .join(refGramCounts.select(col("h"), col("c").as("__rc")),
        Seq("h"), "left")
      .where(col("__wc") + coalesce(col("__rc"), lit(0L)) >= 2)
      .select("id", "pos")
    mergeAnchorSpans(anchors, minRun)
  }

  def incrementalRepeatedSpans(newDocs: DataFrame,
                               refGramCounts: DataFrame,
                               id: Column, text: Column, minRun: Int,
                               hashKey: Column => Column = xxhash64(_))
      : DataFrame = {
    require(Seq("h", "c").forall(refGramCounts.columns.contains),
      "refGramCounts must be a gramCounts frame: (h, c)")
    // persisted: the batch grams feed the count aggregate and the
    // anchor join (batch-sized)
    val kg = kgramHashes(newDocs, id, text, minRun, hashKey)
      .transform(CacheScope.persist(_))
    val dup = kg.groupBy("h").agg(count(lit(1)).as("__bc"))
      .join(refGramCounts.select(col("h"), col("c").as("__rc")),
        Seq("h"), "left")
      .where(col("__bc") + coalesce(col("__rc"), lit(0L)) >= 2)
      .select("h")
    mergeAnchorSpans(kg.join(dup, "h").select("id", "pos"), minRun)
  }

  /** The removal half of [[repeatedSpans]]: every document's
    * normalized token stream with covered spans stripped —
    * `(id, kept_text, n_kept, n_dropped)`. A fully-duplicated doc
    * comes back with an empty `kept_text` (kept, flagged by
    * `n_kept = 0` — the drop decision belongs to the caller's
    * policy, as everywhere in this family). Covered positions
    * materialize once via `sequence` explode — total rows = covered
    * tokens ≤ corpus tokens, linear. */
  def stripRepeatedSpans(df: DataFrame, id: Column, text: Column,
                         minRun: Int,
                         hashKey: Column => Column = xxhash64(_))
      : DataFrame = {
    val toks = df
      .select(id.as("id"), split(Cleanser.normalized(text), " ").as("__w"))
      .select(col("id"), posexplode(col("__w")).as(Seq("tpos", "tok")))
    val covered = repeatedSpans(df, id, text, minRun, hashKey)
      .select(col("id"),
        explode(sequence(col("span_start"), col("span_end"))).as("tpos"))
    val kept = toks.join(covered, Seq("id", "tpos"), "left_anti")
      .groupBy("id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("tpos"), col("tok")))),
          s => s.getField("tok")), " ").as("kept_text"),
        count(lit(1)).as("n_kept"))
    // left join from the doc list: a fully-covered doc has no kept
    // row and must still emit (empty text, n_kept 0); null text has
    // no tokens (size() of a null array is -1, not 0 — guarded)
    df.select(id.as("id"),
        when(text.isNull, lit(0L))
          .otherwise(size(split(Cleanser.normalized(text), " "))
            .cast("long"))
          .as("__total"))
      .join(kept, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("kept_text"), lit("")).as("kept_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__total") - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"))
  }

  def incrementalWinnowPairs(batch: DataFrame, id: Column, text: Column,
                             refFps: DataFrame, k: Int = 5, w: Int = 4,
                             hashKey: Column => Column = xxhash64(_),
                             maxFpDf: Option[Int] = None): DataFrame = {
    val newFps = winnowFingerprints(batch, id, text, k, w, hashKey)
      .select(col("id"), col("fp")).distinct()
      .transform(CacheScope.persist(_))
    val ref = refFps.select(col("id"), col("fp"))
    // persisted (r19): the combined-df survivor set gates BOTH the
    // reference and the batch side — uncached, the ref ∪ new count
    // aggregate (reference-sized) executed once per gated side
    val dfOk = maxFpDf.map { cap =>
      require(cap >= 2, "maxFpDf must be at least 2")
      CacheScope.persist(ref.unionByName(newFps)
        .groupBy("fp").agg(count(lit(1)).as("__df"))
        .where(col("__df") <= cap).select("fp"))
    }
    def capped(s: DataFrame) = dfOk.fold(s)(ok => s.join(ok, "fp"))
    // persisted (r19) when capped: the capped batch fingerprints feed
    // the cross join's right side and both within-batch sides
    // (batch-sized); uncapped, newFps itself is already cached
    val keptNew =
      if (dfOk.isDefined) CacheScope.persist(capped(newFps)) else newFps
    val cross = capped(ref).select(col("fp"), col("id").as("id_a"))
      .join(keptNew.select(col("fp"), col("id").as("id_b")), "fp")
    val within = keptNew.select(col("fp"), col("id").as("id_a"))
      .join(keptNew.select(col("fp"), col("id").as("id_b")), "fp")
      .where(col("id_a") < col("id_b"))
    cross.unionByName(within)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
  }
}
