package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Similarity search over an `Array[Float]` embedding column:
  * brute-force cosine top-k (the exact baseline) and random-hyperplane
  * LSH bucketing (the scale path), plus LSH-candidate near-duplicate
  * pairs.
  *
  * Scale shapes:
  *  - top-k: the query side is small → `broadcast`; the corpus is
  *    scanned once, partition-locally ranked (TopK phase 1), and only
  *    ≤ k·partitions rows reach the final per-query window.
  *  - LSH: both sides map to a bucket id (sign bits of hyperplane
  *    dots) and meet in an equi-join on the bucket — never a
  *    cartesian. Probe-multiplicity (searching neighboring buckets)
  *    raises recall at the cost of more candidate rows.
  *  - near-dup: candidates from banded bucket bits (equi-join),
  *    verified with the exact cosine.
  */
object Similarity {

  /** Final per-query ranking for the ANN operators: top-k
    * (score DESC, n_id ASC) via the bounded map-side aggregate
    * (graft.plans.TopKPairs) — only k rows per (query, input
    * partition) shuffle, nothing is globally sorted. Equivalent to
    * the window ranking (same deterministic order), better shape.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("q_id")
      .agg(graft.plans.TopKAggregate
        .topkPairs(col("score"), col("n_id"), k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("pos", "p")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("p.id").as("n_id"), col("p.score").as("score"))

  /** Deterministic Gaussian hyperplanes (seeded), dim × planes. */
  def hyperplanes(dim: Int, planes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Coordinate-axis "hyperplanes" (unit basis vectors for the first
    * `planes` dimensions): `dot(v, e_i) = v(i)` exactly, so the bucket
    * bits are reproducible in any engine as a plain sign test — the
    * variant the DuckDB-checked query uses. */
  def axisPlanes(dim: Int, planes: Int): Seq[Seq[Double]] =
    (0 until planes).map(p => Seq.tabulate(dim)(d => if (d == p) 1.0 else 0.0))

  /** Bucket id: bit p = 1 iff dot(vec, plane_p) >= 0. The whole
    * plane family rides in ONE plan node (a codegen reference
    * object, graft.plans.SignBands) instead of `planes × dim`
    * literal children — plan and generated-code size stay constant
    * in the family's width, which is what keeps the wide Gaussian
    * rungs clear of the 64 KB codegen-method fallback.
    * [[bucketBitsDeclarative]] is the literal-per-plane twin the
    * spec pins it against. */
  def bucketBits(vec: Column, planes: Seq[Seq[Double]]): Column = {
    require(planes.size <= 64, "a packed bucket id holds at most 64 bits")
    element_at(graft.plans.PlaneExpressions.signBands(vec, planes, planes.size), 1)
  }

  /** The literal-per-plane fold [[bucketBits]] replaced (r8) — kept
    * as the spec reference asserting the fused form bit-for-bit,
    * exactly as `VectorFns.dotHof` witnesses `vec_dot`. */
  private[graft] def bucketBitsDeclarative(vec: Column,
                                           planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(VectorFns.dotConst(vec, p) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Exact brute-force cosine top-k neighbors per query vector.
    *
    * `queries`/`corpus`: (id, vec). Output: q_id, rnk, n_id, score.
    * Self-matches are dropped. Norms are precomputed once per side;
    * the per-pair work is a single fused dot product.
    */
  def annTopKCosine(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("ec"))
      .withColumn("nc", VectorFns.l2Norm(col("ec")))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("eq"))
      .withColumn("nq", VectorFns.l2Norm(col("eq")))
    val scored = c.crossJoin(broadcast(q))
      .where(col("n_id") =!= col("q_id"))
      .where(col("nc") > 0 && col("nq") > 0) // zero vectors: cosine is NaN
      .withColumn("score",
        VectorFns.cosinePre(col("eq"), col("ec"), col("nq"), col("nc")))
      .select("q_id", "n_id", "score")
    rankTopK(scored, k)
  }

  /** LSH-bucketed approximate top-k: queries meet only corpus vectors
    * in the same hyperplane-sign bucket (equi-join on the bucket id),
    * then local exact cosine + top-k. Trades recall for a candidate
    * set of expected size n/2^planes per query. */
  def annLshTopK(corpus: DataFrame, queries: DataFrame,
                 planes: Seq[Seq[Double]], k: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("ec"))
      .withColumn("bucket", bucketBits(col("ec"), planes))
      .withColumn("nc", VectorFns.l2Norm(col("ec")))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("eq"))
      .withColumn("bucket", bucketBits(col("eq"), planes))
      .withColumn("nq", VectorFns.l2Norm(col("eq")))
    val scored = c.join(broadcast(q), "bucket")
      .where(col("n_id") =!= col("q_id"))
      .where(col("nc") > 0 && col("nq") > 0)
      .withColumn("score",
        VectorFns.cosinePre(col("eq"), col("ec"), col("nq"), col("nc")))
      .select("q_id", "n_id", "score")
    rankTopK(scored, k)
  }

  /** Multi-probe LSH top-k (Lv et al., VLDB 2007, restricted to
    * single-bit flips): each query probes its own sign bucket PLUS
    * the `probes - 1` buckets reached by flipping the one plane bit
    * whose margin `|dot(q, plane)|` is smallest — the planes the
    * query sits closest to, hence the buckets its missed neighbors
    * most likely landed in. This buys recall the way extra hash
    * tables do, without their cost: at 100 TB the corpus side stays
    * ONE stored bucket layout (nothing is replicated or re-shuffled);
    * only the broadcast query side fans out ×`probes`, and since a
    * corpus vector lives in exactly one bucket the probe candidate
    * sets are disjoint — no dedup pass. `probes = 1` degenerates to
    * [[annLshTopK]] (spec-asserted). Margin ordering ties break on
    * plane index, and every dot is the same strict left fold the
    * DuckDB oracle replays bitwise, so the probe SEQUENCE — not just
    * the scores — is engine-reproducible. */
  def annLshMultiProbe(corpus: DataFrame, queries: DataFrame,
                       planes: Seq[Seq[Double]], k: Int, probes: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(probes >= 1 && probes <= planes.size + 1,
      "probes ranges from 1 (base bucket only) to planes + 1")
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("ec"))
      .withColumn("bucket", bucketBits(col("ec"), planes))
      .withColumn("nc", VectorFns.l2Norm(col("ec")))
    // flip masks as ONE typed literal: shiftleft by a runtime index
    // isn't in the Column API, and a literal lookup is exact at any
    // plane count (vs pow(2, i) going lossy past 2^53)
    val masks = typedLit(planes.indices.map(i => 1L << i))
    // every plane dot from a single matrix-bound node (plan size
    // constant in the family width; same fold bit-for-bit)
    val margins = array_sort(transform(
      graft.plans.PlaneExpressions.planeDots(col("eq"), planes),
      (d, i) => struct(abs(d).as("m"), i.as("i"))))
    val flips = transform(slice(margins, 1, probes - 1),
      s => col("base").bitwiseXOR(element_at(masks, s.getField("i") + 1)))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("eq"))
      .withColumn("nq", VectorFns.l2Norm(col("eq")))
      .withColumn("base", bucketBits(col("eq"), planes))
      .withColumn("bucket", explode(concat(array(col("base")), flips)))
      .drop("base")
    val scored = c.join(broadcast(q), "bucket")
      .where(col("n_id") =!= col("q_id"))
      .where(col("nc") > 0 && col("nq") > 0)
      .withColumn("score",
        VectorFns.cosinePre(col("eq"), col("ec"), col("nq"), col("nc")))
      .select("q_id", "n_id", "score")
    rankTopK(scored, k)
  }

  /** IVF-partitioned approximate top-k: the corpus is partitioned by
    * nearest centroid (an inverted file), and each query probes only
    * its `nProbe` closest centroid partitions.
    *
    * Centroids start as deterministic hash-sampled corpus vectors and
    * are refined with `lloydIters` distributed k-means steps (assign →
    * per-dimension mean; means shuffle as (cluster, dim) pairs, never
    * through the driver). Assignment is a broadcast of the centroids
    * against the scan (fused dot products), reduced map-side by
    * `max_by`; the probe join is an equi-join on centroid id with the
    * query side broadcast. At 100 TB the trained assignment is
    * computed once and persisted/bucketed by centroid, making each
    * query's work |corpus|·nProbe/k.
    */
  // (seedKey orders the deterministic centroid sample, smallest
  // first with id tie-break: xxhash64 by default; an
  // `md5(cast(string))` key makes seeding — and with lloydIters = 0
  // the whole query — SQL-reproducible: q_ann_ivf_seeded's oracle.
  // Kept as a line comment so the operator scaladoc above stays the
  // attached doc.)
  def annIvfTopK(corpus: DataFrame, queries: DataFrame,
                 numCentroids: Int, nProbe: Int, k: Int,
                 lloydIters: Int = 2,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding",
                 seedKey: Column => Column = xxhash64(_)): DataFrame = {
    require(nProbe >= 1 && nProbe <= numCentroids)
    val cents = ivfCentroids(corpus, numCentroids, lloydIters,
      idCol, vecCol, seedKey)
    annIvfTopKFromIndex(cents, ivfAssignments(corpus, cents, idCol, vecCol),
      queries, nProbe, k, idCol, vecCol)
  }

  private def withCentNorm(c: DataFrame): DataFrame =
    c.withColumn("cn", VectorFns.l2Norm(col("cv")))

  /** Route `side`'s vectors to their `keep` max-cosine centroids.
    *
    * `keep == 1` (the corpus-sized E-step) runs through the fused
    * [[graft.plans.CosineArgmax]] kernel: ONE zero-Exchange scan —
    * the centroid matrix/norms/ids ride as codegen reference
    * objects — instead of the crossJoin's corpus × numCentroids
    * rows plus a max_by shuffle (the [[Pq]] fused-E-step discipline
    * applied to coarse assignment; [[assignToHof]] keeps the
    * declarative form as the bit-identity spec reference). The
    * centroid frame collects here — KBs, exactly what the old path
    * broadcast — and the emitted `c_id` keeps the frame's own
    * column type (int-keyed stores stay int-keyed).
    *
    * `keep > 1` (query routing — a serving-batch-sized side) keeps
    * the scored TopK form: the fan-out IS its output.
    *
    * Precondition (keep == 1): `side`'s ids must be UNIQUE and
    * non-null — the fused path is row-per-row (the point: zero
    * Exchange), so a duplicate id yields one output row per input
    * row where the old groupBy/max_by form yielded one per distinct
    * id. Every caller routes a corpus/batch frame keyed by its
    * primary id; dedupe upstream if that ever stops holding. */
  private[graft] def assignTo(cents: DataFrame)(side: DataFrame,
      id: String, vec: String, keep: Int): DataFrame = {
    if (keep == 1) {
      val cidType = cents.schema("c_id").dataType
      val rows = cents
        .select(col("c_id").cast("long"), col("cv").cast("array<double>"),
          col("cn").cast("double"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq, r.getDouble(2)))
      val ids = rows.map(_._1).toSeq
      val idx = graft.plans.PlaneExpressions.cosineArgmax(
        col("__v"), ids, rows.map(_._2).toSeq, rows.map(_._3).toSeq)
      side.select(col(id).as("__id"), col(vec).as("__v"))
        .select(col("__id"),
          element_at(typedLit(ids), idx + 1).cast(cidType).as("c_id"))
    } else {
      val scored = side
        .select(col(id).as("__id"), col(vec).as("__v"))
        .withColumn("__n", VectorFns.l2Norm(col("__v")))
        .crossJoin(broadcast(cents.select(col("c_id"), col("cv"), col("cn"))))
        .withColumn("__s",
          VectorFns.cosinePre(col("__v"), col("cv"), col("__n"), col("cn")))
      TopK.perGroup(scored.select(col("__id"), col("c_id"), col("__s")),
          groups = Seq(col("__id")),
          order = Seq(col("__s").desc, col("c_id")), k = keep)
        .select(col("__id"), col("c_id"))
    }
  }

  /** The declarative crossJoin + max_by assignment — retained as the
    * bit-identity spec reference for [[assignTo]]'s fused `keep == 1`
    * path. */
  private[graft] def assignToHof(cents: DataFrame)(side: DataFrame,
      id: String, vec: String): DataFrame =
    side
      .select(col(id).as("__id"), col(vec).as("__v"))
      .withColumn("__n", VectorFns.l2Norm(col("__v")))
      .crossJoin(broadcast(cents.select(col("c_id"), col("cv"), col("cn"))))
      .withColumn("__s",
        VectorFns.cosinePre(col("__v"), col("cv"), col("__n"), col("cn")))
      .groupBy("__id")
      .agg(max_by(col("c_id"), struct(col("__s"), col("c_id"))).as("c_id"))

  /** The trained half of the IVF layout: `(c_id, cv, cn)` centroids —
    * a deterministic hash-sample of corpus vectors (smallest
    * `seedKey`, id tie-break) refined by `lloydIters` distributed
    * k-means steps. This is what a persisted IVF index STORES next to
    * its assignments ([[ivfAssignments]]): centroids are k·dim
    * doubles, so they live as a small parquet file and broadcast into
    * every later assignment — the layout is trained once, then every
    * daily batch assigns against the SAME centroids
    * ([[annIvfTopKFromIndex]]), which is what makes incremental
    * maintenance sound (assignment is pointwise per vector, so
    * store ∪ new-batch assignments ≡ assignments of the combined
    * corpus, spec-asserted). Returned frame is localCheckpoint'ed
    * (k rows) — materialized for its downstream assignments and
    * lineage-truncated so Lloyd's iterative plan never re-analyzes. */
  def ivfCentroids(corpus: DataFrame, numCentroids: Int,
                   lloydIters: Int = 2,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   seedKey: Column => Column = xxhash64(_)): DataFrame = {
    var cents = withCentNorm(TopK.perGroup(
        corpus.select(col(idCol).as("c_id"), col(vecCol).as("cv"))
          .withColumn("__h", seedKey(col("c_id"))),
        groups = Seq(lit(1)), order = Seq(col("__h"), col("c_id")),
        k = numCentroids)
      .select(col("c_id"), col("cv")))
      .localCheckpoint(true)
    // Lloyd refinement: assign → per-dimension mean per cluster.
    // Each iteration is one corpus pass + a (k × dim)-row aggregate;
    // empty clusters drop out. Means shuffle as (cluster, dim) pairs,
    // so no step is ever driver-side or cluster-count-bounded.
    // Each iteration's centroids are localCheckpoint'ed (k rows):
    // materialized so the next corpus pass reads blocks instead of
    // replaying the prior chain, AND lineage-truncated so Catalyst
    // doesn't re-analyze a plan that embeds every earlier iteration
    // (the same iterative-plan-growth trap fixed in
    // Dedup.connectedComponents). The previous iteration's blocks are
    // released immediately; the final centroid frame stays
    // materialized for the two downstream assignments — k·dim
    // doubles, freed with the session.
    (0 until lloydIters).foreach { _ =>
      val prev = cents
      val asg = assignTo(prev)(corpus, idCol, vecCol, keep = 1)
        .join(corpus.select(col(idCol).as("__id"), col(vecCol).as("__v")),
          "__id")
      cents = lloydMeanStep(asg.select(col("c_id"), col("__v")))
        .localCheckpoint(true)
      // checkpointed blocks are invisible to Dataset.unpersist /
      // the CacheManager — free the prior iteration through the RDD
      org.apache.spark.sql.graft.CheckpointBridge.unpersist(prev)
    }
    cents
  }

  /** One Lloyd M-step over `(c_id, __v)` member rows: per-cluster
    * per-dimension mean, re-folded into centroid arrays with norms.
    * The mean is an EXACT decimal sum divided in double at the end —
    * order-independent, unlike a double `avg` whose partial-sum order
    * floats with partitioning — so the same member set yields
    * bit-identical centroids from ANY plan that produces it. That is
    * the property [[ivfRefreshCentroids]]'s warm-start identity
    * rests on: continuing Lloyd from a STORED layout must equal the
    * straight-through run, not approximate it. (decimal(38,20) holds
    * sums of ~1e18 unit-scale components; the float→decimal cast
    * rounds at 20 places, far below embedding precision.) */
  private def lloydMeanStep(members: DataFrame): DataFrame =
    withCentNorm(members
      .select(col("c_id"), posexplode(col("__v")).as(Seq("pos", "x")))
      .groupBy("c_id", "pos")
      .agg((sum(col("x").cast("decimal(38,20)")).cast("double") /
        count(lit(1))).as("m"))
      .groupBy("c_id")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cv")))

  /** Lloyd REFRESH for a stored IVF layout — the periodic re-train +
    * full re-assign maintenance that complements the frozen-centroid
    * daily path ([[ivfAssignments]] appends). The store drifts as
    * batches accumulate: centroids trained on day-1 data quantize
    * day-N vectors poorly, probe recall decays. This operator
    * re-derives centroids from the STORE'S OWN rows — the inverted
    * file carries every vector (`ec`), so refresh never rereads the
    * source corpus: the first M-step is the per-cluster mean of the
    * stored assignment, further `lloydIters-1` rounds re-assign and
    * re-average, exactly [[ivfCentroids]]'s loop warm-started from
    * the stored layout.
    *
    * The contract (spec-asserted exactly, not approximately):
    * refreshing a store written after `a` Lloyd iterations by `b`
    * more yields BIT-IDENTICAL centroids to a straight-through
    * `ivfCentroids(corpus, k, a + b)` — the k-means analog of
    * [[graft.operators.QualityModel.trainRaw]]'s warm-start
    * identity, and what makes scheduled refreshes trustworthy: the
    * maintained store is a cache of the full computation, never a
    * fork of it. Holds because assignment is pointwise over the same
    * centroid doubles and the M-step mean is order-independent
    * ([[lloydMeanStep]]'s decimal sums).
    *
    * Cost shape: `lloydIters` store-sized passes + (k × dim)-row
    * aggregates — run it like compaction, on a schedule, when probe
    * recall or cluster balance drifts; then re-assign with
    * [[ivfAssignments]] over the store's vectors and write a
    * SUCCESSOR directory via [[graft.io.PartitionedStore.write]] —
    * never overwrite the store its own plan reads (see that method's
    * in-place-rewrite warning); the store-sized write is why refresh
    * is periodic where append is daily. Returned frame is
    * localCheckpoint'ed like [[ivfCentroids]]'s. */
  def ivfRefreshCentroids(assignments: DataFrame,
                          lloydIters: Int = 1): DataFrame = {
    require(lloydIters >= 1, "a refresh must run at least one M-step")
    val vecs = assignments.select(col("n_id"), col("ec"))
    var cents = lloydMeanStep(
        assignments.select(col("c_id"), col("ec").as("__v")))
      .localCheckpoint(true)
    (1 until lloydIters).foreach { _ =>
      val prev = cents
      val asg = assignTo(prev)(vecs, "n_id", "ec", keep = 1)
        .join(vecs.select(col("n_id").as("__id"), col("ec").as("__v")),
          "__id")
      cents = lloydMeanStep(asg.select(col("c_id"), col("__v")))
        .localCheckpoint(true)
      org.apache.spark.sql.graft.CheckpointBridge.unpersist(prev)
    }
    cents
  }

  /** The inverted file itself: `(c_id, n_id, ec, nc)` — every vector
    * of `vecs` tagged with its nearest centroid (cosine, larger c_id
    * on ties), carrying the vector and its norm so probing never
    * joins back to the source frame. Assignment is pointwise per
    * vector (a broadcast of the centroids against the scan, reduced
    * map-side), which is the property incremental maintenance rests
    * on: `ivfAssignments(ref) ∪ ivfAssignments(batch)` over the SAME
    * centroids is bit-identical to `ivfAssignments(ref ∪ batch)` —
    * so a daily batch appends to the stored inverted file without
    * touching existing rows ([[graft.io.PartitionedStore]] gives the
    * append fragmentation control + partition-selective compaction).
    * Stored `partitionBy("c_id")`, each probe reads only its nProbe
    * clusters' directories — |corpus|·nProbe/numCentroids bytes, the
    * IVF read-suppression claim, enforced by dynamic partition
    * pruning at scan time (spec-asserted). */
  def ivfAssignments(vecs: DataFrame, centroids: DataFrame,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    assignTo(centroids)(vecs, idCol, vecCol, 1)
      .join(vecs.select(col(idCol).as("__id"), col(vecCol).as("ec")), "__id")
      .select(col("__id").as("n_id"), col("c_id"), col("ec"))
      .withColumn("nc", VectorFns.l2Norm(col("ec")))

  /** [[ivfAssignments]] as pure scan algebra — the form that runs
    * UNCHANGED on a stream. The batch form's per-vector `max_by`
    * aggregate (one skinny shuffle) is replaced by collecting the
    * centroids ONCE to the driver (k rows — the build-then-broadcast
    * pattern the Bloom gate uses) and binding them into the plan:
    * the centroid matrix rides in one [[graft.plans.PlaneExpressions
    * .planeDots]] codegen reference (each dot is the exact `vec_dot`
    * fold), c_id/norm arrays as two literals, and the argmax is
    * `array_max` over `struct(score, c_id)` — lexicographic struct
    * ordering IS `max_by(c_id, struct(score, c_id))`, so score ties
    * break to the larger c_id exactly like the batch form, and the
    * score is the same `dot / (nc * cn)` expression shape. Zero
    * stateful operators, zero Exchange: a readStream of a daily
    * vector batch assigns against the frozen layout and appends to
    * the stored inverted file with no watermark bookkeeping at all.
    * Same caller contract as every ANN op: filter zero-norm vectors
    * first (a zero `nc` makes every score NaN). Spec pins row-for-row
    * equality to [[ivfAssignments]] on the real embeddings, batch and
    * MemoryStream-replayed. */
  def ivfAssignStateless(vecs: DataFrame, centroids: DataFrame,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val cents = centroids.select(col("c_id").cast("long"),
        col("cv").cast("array<double>"), col("cn").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    require(cents.nonEmpty, "no centroids to assign against")
    // the fused CosineArgmax kernel (r9) — same SQL-ordering-exact
    // argmax the interpreted planeDots/array_max chain computed
    // (ties to the larger id, null dots smallest, NaN greatest),
    // still one stateless scan so the stream claim is unchanged
    val ids = cents.map(_._1).toSeq
    val idx = graft.plans.PlaneExpressions.cosineArgmax(col("ec"),
      ids, cents.map(_._2.toSeq).toSeq, cents.map(_._3).toSeq)
    vecs.select(col(idCol).as("n_id"), col(vecCol).as("ec"))
      .withColumn("nc", VectorFns.l2Norm(col("ec")))
      .select(col("n_id"),
        element_at(typedLit(ids), idx + 1).as("c_id"),
        col("ec"), col("nc"))
  }

  /** Probe a STORED IVF layout: queries assign to their `nProbe`
    * nearest stored centroids and meet only those clusters'
    * assignment rows. `assignments` is typically
    * `spark.read.parquet(store)` over a [[ivfAssignments]] frame
    * written partitioned by `c_id`; the query side broadcasts, so
    * the store never shuffles, and the probed cluster set is pushed
    * as a STATIC `isin` partition filter, so the store scan lists
    * and reads only the probed directories — |corpus|·nProbe/
    * numCentroids bytes, measured and spec-asserted, independent of
    * the session's dynamic-partition-pruning configuration (whose
    * broadcast-reuse path silently degrades to a full scan for this
    * plan shape). Exactly [[annIvfTopK]]'s probe half: composing it
    * with [[ivfCentroids]] + [[ivfAssignments]] reproduces
    * annIvfTopK bit-for-bit (spec-asserted), which is what makes the
    * stored layout a cache of the computation, not a fork of it. */
  def annIvfTopKFromIndex(centroids: DataFrame, assignments: DataFrame,
                          queries: DataFrame, nProbe: Int, k: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(nProbe >= 1, "nProbe must be positive")
    // The probe side's c_id is cast to the STORE's c_id type (a
    // partitionBy'd store reads its directory values back at the
    // inferred width, e.g. int). Casting the broadcast side keeps the
    // store-side join key a bare partition attribute — a cast there
    // would block dynamic partition pruning, turning the probe into a
    // full store scan.
    val storeKeyType = assignments.schema("c_id").dataType
    val queryProbes = assignTo(centroids)(queries, idCol, vecCol, nProbe)
      .join(queries.select(col(idCol).as("__id"), col(vecCol).as("eq")), "__id")
      .select(col("__id").as("q_id"),
        col("c_id").cast(storeKeyType).as("c_id"), col("eq"))
      .withColumn("nq", VectorFns.l2Norm(col("eq")))
    // STATIC partition pruning from the probe set: the probed
    // cluster ids are knowable up front (distinct ≤ numCentroids
    // values — the same bounded build-then-broadcast idiom as the
    // Bloom gate), so an `isin` on the partition column prunes the
    // store listing at PLANNING time, under any session conf. The
    // dynamic-partition-pruning filter Spark derives from the
    // broadcast join looks equivalent but is NOT reliable here:
    // under the default `reuseBroadcastOnly=true` its broadcast
    // fails to be reused for this plan shape and the filter silently
    // degrades to `true` — measured on a 64-partition sf1 store:
    // 64/64 partitions and 96 MB read with the dynamic filter
    // alone, 22/64 and 34 MB with the static isin. The extra
    // driver-side collect executes the (small, by the serving
    // contract) probe-assignment subplan once more.
    val probedIds = queryProbes.select(col("c_id")).distinct()
      .collect().map(_.get(0)).toSeq
    val scored = assignments.select("c_id", "n_id", "ec", "nc")
      .where(col("c_id").isin(probedIds: _*))
      .join(broadcast(queryProbes), Seq("c_id"))
      .where(col("n_id") =!= col("q_id"))
      .where(col("nc") > 0 && col("nq") > 0)
      .withColumn("score",
        VectorFns.cosinePre(col("eq"), col("ec"), col("nq"), col("nc")))
      .select("q_id", "n_id", "score")
    rankTopK(scored, k)
  }

  /** Corpus-size-scaled banding for [[nearDupPairs]] over axis
    * planes: expected candidate pairs grow ~n²·bands/2^bits, so a
    * fixed config that is sparse at one scale is quadratic at 10× —
    * each rung trades ~4 more bits per band (16× rarer random
    * collisions per decade of n) against fewer bands, holding
    * candidate growth to ~4–6× per 10× of corpus while staying
    * within the 64 axis-sign bits an axis-plane family provides
    * (measured on the scale corpus: the 20k-vector sf1 table takes
    * (5,12) and the strict near-dup query drops from 6.3M candidates
    * at a fixed (8,8) to ~250k). Exact/scaled duplicates agree on
    * every sign bit and are recalled at any rung; analytic recall for
    * a genuine cosine-0.9 pair (p₁ = 1-acos(.9)/π ≈ .857) is 94% at
    * (8,8), 57% at (5,12), 52% at (4,16) — the standard LSH
    * sparsity/recall trade; recall-critical deployments pass more
    * planes (Gaussian [[hyperplanes]] go past 64 bits) instead of
    * riding the ladder down. Past ~1.6M vectors the 64 axis bits are
    * spent, so the ladder continues on Gaussian hyperplane families
    * (r7): (4×20) = 80 bits to 16M, (3×24) = 72 bits beyond —
    * [[autoPlanes]] picks the family and the per-band slicing in
    * [[nearDupPairs]] never packs more than one band into a long, so
    * total bits are unbounded. Analytic cosine-0.9 recall at the wide
    * rungs: 17% at (4,20), 7% at (3,24) — candidate sparsity is what
    * those corpora buy; exact/scaled duplicates still collide in
    * every band, and near-exact pairs (cosine ≥ .98) hold 70%+/40%+.
    */
  def autoBandConfig(n: Long): (Int, Int) =
    if (n < 16000L) (8, 8)
    else if (n < 160000L) (5, 12)
    else if (n < 1600000L) (4, 16)
    else if (n < 16000000L) (4, 20)
    else (3, 24)

  /** The plane family + band width for a corpus of `n` vectors of
    * dimension `dim` (r7): axis planes — sign tests any engine
    * replays — while the [[autoBandConfig]] rung fits within
    * min(dim, 64) axis bits; seeded Gaussian [[hyperplanes]] past
    * that, where no axis family exists. Returns (planes,
    * bitsPerBand), ready for [[nearDupPairs]]. */
  def autoPlanes(n: Long, dim: Int, seed: Long = 42L)
      : (Seq[Seq[Double]], Int) = {
    val (bands, bits) = autoBandConfig(n)
    val total = bands * bits
    val planes =
      if (total <= math.min(dim, 64)) axisPlanes(dim, total)
      else hyperplanes(dim, total, seed)
    (planes, bits)
  }

  /** Near-duplicate pairs by cosine ≥ `threshold`, id_a < id_b.
    *
    * Candidate generation: the first `planes.size` hyperplane sign
    * bits, banded `bitsPerBand` at a time; a pair is a candidate iff
    * some band matches — an equi-join on (band, bits). Candidates are
    * then verified with the exact cosine, so precision is exact;
    * recall is the standard LSH probability (1 for identical vectors,
    * dropping with angle). The exact-recall alternative is a full
    * block-nested pass (`annTopKCosine` against itself) — O(n²) and
    * only for small corpora.
    */
  def nearDupPairs(df: DataFrame, threshold: Double,
                   planes: Seq[Seq[Double]], bitsPerBand: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val (v, banded) = signBanded(df, planes, bitsPerBand, idCol, vecCol)
    val cand = banded.select(col("id").as("id_a"), col("band"), col("bits"))
      .join(banded.select(col("id").as("id_b"), col("band"), col("bits")),
        Seq("band", "bits"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    verifyCosine(cand, v, v, threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** (vectors, banded bits) of one frame: `v = (id, e, nrm)` scans the
    * raw vectors; `banded = (id, band, bits)` is persisted — both
    * sides of any candidate join read the band bits, and caching the
    * 3-column frame (no vectors) avoids recomputing the hyperplane
    * dots per side. The verify joins re-scan the raw vectors instead
    * of caching them — candidates ≪ corpus, and a (id, vec, norm)
    * cache would hold the whole embedding table. */
  private def signBanded(df: DataFrame, planes: Seq[Seq[Double]],
                         bitsPerBand: Int, idCol: String, vecCol: String)
      : (DataFrame, DataFrame) = {
    require(planes.size % bitsPerBand == 0, "bands must tile the planes")
    require(bitsPerBand <= 62, "a band's bits must fit in a long")
    val v = df.select(col(idCol).as("id"), col(vecCol).as("e"))
      .withColumn("nrm", VectorFns.l2Norm(col("e")))
    // each band packs ONLY ITS OWN plane slice (r7) — bit-identical
    // to slicing one packed 64-bit bucket while the family fits, but
    // with no 64-bit ceiling on total planes, which is what lets the
    // autoBandConfig ladder continue past ~1.6M vectors on Gaussian
    // families (each plane's dot is still computed exactly once:
    // plane → band membership is a partition). All bands come out of
    // ONE matrix-bound sign_bands node (r8): posexplode's position IS
    // the band index, and the plane coefficients appear once per
    // plan, not once per band.
    val banded = graft.util.CacheScope.persist(
      v.select(col("id"),
        posexplode(graft.plans.PlaneExpressions
          .signBands(col("e"), planes, bitsPerBand))
          .as(Seq("band", "bits"))))
    (v, banded)
  }

  /** Exact-cosine verify of candidate `(id_a, id_b)` pairs against
    * vector frames `va`/`vb` (zero-norm rows excluded, not
    * NaN-ranked). */
  private def verifyCosine(cand: DataFrame, va: DataFrame, vb: DataFrame,
                           threshold: Double): DataFrame =
    cand
      .join(va.select(col("id").as("id_a"), col("e").as("ea"),
        col("nrm").as("na")), "id_a")
      .join(vb.select(col("id").as("id_b"), col("e").as("eb"),
        col("nrm").as("nb")), "id_b")
      .where(col("na") > 0 && col("nb") > 0)
      .withColumn("cosine",
        VectorFns.cosinePre(col("ea"), col("eb"), col("na"), col("nb")))
      .where(col("cosine") >= threshold)

  /** INCREMENTAL embedding near-dup (r7) — the daily-batch regime
    * for vectors, completing the symmetry with
    * [[graft.operators.Dedup.incrementalJaccardPairs]]: only the NEW
    * batch generates candidates (new×ref and new×new; ref×ref never
    * meets, so output scales with batch × overlap, never corpus²),
    * and `id_b` is always the new doc at risk. The reference side
    * enters as stored vectors; at volume its banded frame is the
    * thing to persist bucketed by (band, bits) — `io.Bucketing`, the
    * exact layout StoreBench prices for signatures. Ids must be
    * disjoint across the two frames (caller contract, as the jaccard
    * form). */
  def incrementalNearDupPairs(newVecs: DataFrame, refVecs: DataFrame,
                              threshold: Double, planes: Seq[Seq[Double]],
                              bitsPerBand: Int,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    val (_, br) = signBanded(refVecs, planes, bitsPerBand, idCol, vecCol)
    incrementalNearDupPairsFromIndex(newVecs, refVecs, br, threshold,
      planes, bitsPerBand, idCol, vecCol)
  }

  /** The `(id, band, bits)` sign-band index of a vector frame — the
    * STORED shape of an embedding dedup corpus, exactly as
    * [[graft.operators.Dedup.bandIndex]] is for signatures: write it
    * once bucketed by `(band, bits)` (`io.Bucketing`) and every
    * later increment joins it with zero store-side shuffle
    * (spec-asserted; StoreBench prices the same layout for
    * signatures). */
  def signBandIndex(df: DataFrame, planes: Seq[Seq[Double]],
                    bitsPerBand: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    signBanded(df, planes, bitsPerBand, idCol, vecCol)._2

  /** [[incrementalNearDupPairs]] with the reference side's banded
    * index supplied separately (e.g. `spark.table` over a bucketed
    * [[signBandIndex]] store) — the raw `refVecs` are still scanned
    * for the verify step's vectors (candidates ≪ corpus; carrying
    * vectors inside the index would multiply it ×bands), but the
    * candidate join never re-computes or re-shuffles the store's
    * plane dots. */
  def incrementalNearDupPairsFromIndex(newVecs: DataFrame,
                                       refVecs: DataFrame,
                                       refIndex: DataFrame,
                                       threshold: Double,
                                       planes: Seq[Seq[Double]],
                                       bitsPerBand: Int,
                                       idCol: String = "vec_id",
                                       vecCol: String = "embedding")
      : DataFrame = {
    val (vn, bn) = signBanded(newVecs, planes, bitsPerBand, idCol, vecCol)
    val vr = refVecs.select(col(idCol).as("id"), col(vecCol).as("e"))
      .withColumn("nrm", VectorFns.l2Norm(col("e")))
    val newSide = bn.select(col("id").as("id_b"), col("band"), col("bits"))
    val candRef = refIndex
      .select(col("id").as("id_a"), col("band"), col("bits"))
      .join(newSide, Seq("band", "bits"))
      .select("id_a", "id_b").distinct()
    val candNew = bn.select(col("id").as("id_a"), col("band"), col("bits"))
      .join(newSide, Seq("band", "bits"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // the two families are disjoint by the id-disjointness contract
    verifyCosine(candRef.unionByName(candNew), vr.unionByName(vn), vn,
        threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Cross-corpus near-duplicate pairs: every (bench, doc) pair with
    * cosine ≥ `threshold` — SEMANTIC decontamination's pair generator,
    * catching the paraphrase-level contamination n-gram overlap can't
    * see. Both frames band on the same hyperplane sign bits and meet
    * in an equi-join on (band, bits) — never a bench × corpus
    * cartesian, and the bench side is benchmark-sized (MB-scale) so
    * its banded frame broadcasts. Output: `(bench_id, doc_id,
    * cosine)`; a doc may match several bench vectors (one row each).
    * Recall follows the banding config exactly as [[nearDupPairs]]
    * (identical vectors collide in every band; [[autoBandConfig]]
    * ladders corpus-sized deployments). */
  def crossNearDupPairs(docs: DataFrame, bench: DataFrame,
                        threshold: Double, planes: Seq[Seq[Double]],
                        bitsPerBand: Int, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val (vd, bd) = signBanded(docs, planes, bitsPerBand, idCol, vecCol)
    val (vb, bb) = signBanded(bench, planes, bitsPerBand, idCol, vecCol)
    val cand = bb.select(col("id").as("id_a"), col("band"), col("bits"))
      .join(bd.select(col("id").as("id_b"), col("band"), col("bits")),
        Seq("band", "bits"))
      .select("id_a", "id_b").distinct()
    verifyCosine(cand, vb, vd, threshold)
      .select(col("id_a").as("bench_id"), col("id_b").as("doc_id"),
        col("cosine"))
  }

  /** Per-doc rollup of [[crossNearDupPairs]]: `(id, n_matched,
    * max_cosine)` for every doc with at least one bench match at
    * `threshold` — the semantic analog of
    * `Decontaminate.overlapStats`' contaminated rows (docs without a
    * match are absent: semantically clean). */
  def semanticOverlap(docs: DataFrame, bench: DataFrame,
                      threshold: Double, planes: Seq[Seq[Double]],
                      bitsPerBand: Int, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    crossNearDupPairs(docs, bench, threshold, planes, bitsPerBand,
        idCol, vecCol)
      .groupBy(col("doc_id").as("id"))
      .agg(count(lit(1)).as("n_matched"), max(col("cosine")).as("max_cosine"))

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023 — a published
    * method): cluster the embedding space coarsely, then WITHIN each
    * cluster drop every vector that has a semantic near-duplicate
    * (cosine ≥ `threshold`) with a SMALLER id in the same cluster —
    * the keep-one-per-neighborhood greedy, made deterministic by the
    * id order. The clustering is what makes it scale: candidate
    * pairs are Σ clusterSize², never corpus², and each cluster's
    * pair set is an equi-join on `c_id` — the paper's exact
    * cost-bounding trick, identical in shape to this library's LSH
    * candidate joins.
    *
    * Output `(vec_id, c_id, keep)` — one row per input vector.
    * Cross-cluster near-duplicates are MISSED by construction (the
    * paper accepts this; more centroids trade recall for cost). Use
    * seeded centroids (`seedKey = md5`) for the engine-portable
    * oracle twin; `nearDupPairs`-family operators remain the
    * alignment-free alternative. Caller contract as every ANN op:
    * filter zero-norm vectors first. */
  def semDedup(vecs: DataFrame, numCentroids: Int, threshold: Double,
               lloydIters: Int = 0,
               seedKey: Column => Column = xxhash64(_),
               idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val cents = ivfCentroids(vecs, numCentroids, lloydIters, idCol,
      vecCol, seedKey)
    val asg = ivfAssignments(vecs, cents, idCol, vecCol)
    val dropped = asg.select(col("c_id"), col("n_id").as("__a"),
        col("ec").as("__ea"), col("nc").as("__na"))
      .join(asg.select(col("c_id"), col("n_id").as("__b"),
        col("ec").as("__eb"), col("nc").as("__nb")), "c_id")
      .where(col("__a") > col("__b") &&
        graft.functions.VectorFns.cosinePre(col("__ea"), col("__eb"),
          col("__na"), col("__nb")) >= threshold)
      .select(col("__a").as("n_id")).distinct()
    asg.select(col("c_id"), col("n_id"))
      .join(dropped.withColumn("__drop", lit(true)), Seq("n_id"), "left")
      .select(col("n_id").as(idCol), col("c_id"),
        coalesce(!col("__drop"), lit(true)).as("keep"))
  }
}
