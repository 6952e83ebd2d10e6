package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.CacheScope

/** Fixed-size batch assignment.
  *
  * The reference collects qualifiers to the driver and np.array_splits
  * them (`generate_batchs`, code/ukg_open_census.py:549-554) for
  * batched API posting. Distributed equivalent: number rows with a
  * window and bucket by integer division.
  *
  * Scale note: the global `row_number` funnels through one partition;
  * that is fine here because batching applies to *dimension-sized*
  * inputs (qualifier lists). For fact-sized inputs use
  * `batchedByHash`, which needs no global order.
  */
object Batching {

  /** Deterministic contiguous batches of `size` in `order` order. */
  def assign(df: DataFrame, order: Column, size: Int,
             out: String = "batch_id"): DataFrame =
    df.withColumn(out,
      ((row_number().over(Window.orderBy(order)) - 1) / size)
        .cast("long"))

  /** Contiguous batches at fact scale: partition-offset numbering.
    *
    * `assign`'s global-order window funnels every row through one task.
    * Here the global row number is assembled from parallel pieces:
    *   1. range-repartition + local sort on `order` (global order
    *      across partitions, unique key assumed);
    *   2. `monotonically_increasing_id` yields the *local* row index
    *      (low 33 bits) and partition id (high bits) with no shuffle;
    *   3. per-partition row counts (a numPartitions-row aggregate)
    *      cumulative-sum into start offsets, broadcast back;
    *   4. global row number = offset(pid) + local index — pure map.
    * The only data-sized movement is the range shuffle itself.
    */
  /** Per-partition start offsets from a per-partition total: a ≤
    * `partitions`-row aggregate cumulative-summed by partition id —
    * the shared scaffolding of `assignScalable` and `packByWeight`.
    * The single-task window is over partition COUNTS, not data. */
  private def partitionOffsets(ranged: DataFrame,
                               total: Column): DataFrame =
    ranged.groupBy(col("__pid")).agg(total.as("__n"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(
          Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid").as("__opid"), col("__off"))

  def assignScalable(df: DataFrame, order: Column, size: Int,
                     partitions: Int, out: String = "batch_id"): DataFrame = {
    val ranged = df.repartitionByRange(partitions, order)
      .sortWithinPartitions(order)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftright(col("__mid"), 33))
      .withColumn("__idx", col("__mid").bitwiseAND(lit((1L << 33) - 1)))
      .transform(CacheScope.persist(_))
    val offsets = partitionOffsets(ranged, count(lit(1)))
    ranged
      .join(broadcast(offsets), col("__pid") === col("__opid"))
      .withColumn(out, ((col("__off") + col("__idx")) / size).cast("long"))
      .drop("__mid", "__pid", "__idx", "__opid", "__off")
  }

  /** Deterministic global shuffle for training-data export: every row
    * gets a dense rank 0..n−1 in `md5(salt|id)` order — the
    * "randomize example order" step before sequence packing, made
    * reproducible (same salt → same permutation; a new salt per epoch
    * reshuffles). The rank is assembled by [[assignScalable]]'s
    * partition-offset machinery with batch size 1: a global
    * `row_number()` window would funnel the corpus through ONE task,
    * while here the only data-sized movement is the range shuffle on
    * the hash key — which at 100 TB is also exactly the layout the
    * downstream contiguous packer wants to scan. `id` must be unique
    * (it salts the hash; a duplicate id would make two rows tie on
    * the full sort key). */
  def deterministicShuffle(df: DataFrame, id: Column, salt: String,
                           partitions: Int,
                           out: String = "shuffle_rank"): DataFrame =
    assignScalable(
      df.withColumn("__sk",
        md5(concat_ws("|", lit(salt), id.cast("string")))),
      col("__sk"), size = 1, partitions = partitions, out = out)
      .drop("__sk")

  /** EXACT-proportion deterministic split (train/val/test): slices
    * cut the [[deterministicShuffle]] rank space at cumulative-count
    * boundaries — slice i holds ranks [⌈n·c_{i−1}⌉, ⌈n·c_i⌉), so
    * sizes are exact integers, where a hash-gate split
    * (`md5(id) < threshold`, as `Sampling`) only hits its fraction in
    * expectation with binomial noise — at 10-doc validation sets the
    * noise IS the set. Same salt → identical split across runs; the
    * boundaries are IEEE-double `ceil(n·c)`, reproducible in any
    * engine from the same count. NOT stable under corpus growth (a
    * new doc permutes ranks): pin the corpus snapshot first, which a
    * split consumer must do anyway.
    *
    * `n` is taken from a pre-shuffle `count()` of the input — a scan
    * metadata aggregate, deliberately not a second pass over the
    * shuffled frame. */
  def splitByRank(df: DataFrame, id: Column, salt: String,
                  slices: Seq[(String, Double)], partitions: Int,
                  out: String = "split"): DataFrame = {
    require(slices.nonEmpty && slices.forall(_._2 > 0),
      "slice fractions must be positive")
    require(math.abs(slices.map(_._2).sum - 1.0) < 1e-9,
      "slice fractions must sum to 1")
    val n = df.count()
    val cums = slices.scanLeft(0.0)(_ + _._2).tail // c_1..c_k, c_k = 1
    val ranked = deterministicShuffle(df, id, salt, partitions,
      out = "__rk")
    val expr = slices.init.zip(cums.init).reverse
      .foldLeft(lit(slices.last._1)) { case (acc, ((name, _), c)) =>
        when(col("__rk") < ceil(lit(n) * lit(c)), lit(name))
          .otherwise(acc)
      }
    ranked.withColumn(out, expr).drop("__rk")
  }

  /** Shuffle-free batch key for fact-scale inputs: stable hash bucket
    * (batches are balanced, not contiguous). */
  def batchedByHash(df: DataFrame, keys: Seq[Column], numBatches: Int,
                    out: String = "batch_id"): DataFrame =
    df.withColumn(out, pmod(hash(keys: _*), lit(numBatches)).cast("long"))

  /** Weighted contiguous packing at fact scale — the training-data
    * "concat-and-chunk" step: docs in `order` order are chunked into
    * packs of ≈ `budget` total `weight` (token count), pack = the
    * budget-bucket of the cumulative weight *before* the row. A doc
    * straddling a boundary belongs to the pack its first token falls
    * in — contiguous, deterministic, and exact in integer arithmetic.
    *
    * Preconditions (as `assignScalable`): `order` must be a unique
    * key — duplicate keys make the within-partition tie order, and so
    * the pack split, nondeterministic; weights must be non-negative —
    * a negative weight makes the cumulative sum non-monotonic and
    * breaks pack contiguity (NULL weight counts as 0).
    *
    * Same partition-offset shape as `assignScalable`, with weighted
    * sums instead of counts. The within-partition running sum is a
    * `mapPartitions` accumulator over the already-range-sorted rows —
    * a window `partitionBy(__pid)` would re-shuffle the whole
    * data set (Catalyst can't see rows are already clustered by
    * physical partition), so this is the one place the imperative
    * per-partition form is the right call. Only the range shuffle
    * moves data; offsets are a ≤`partitions`-row aggregate broadcast
    * back.
    *
    * Caching: as `takeByBudgetPerKey`.
    */
  /** Keep rows while a PER-KEY running weight stays within `budget` —
    * the training-data "token budget per language/domain" mixing step:
    * rows ordered by `order` within each `key` are kept as long as the
    * cumulative `weight` (including the current row) is ≤ `budget`.
    * Output rows carry the running total in `cumOut`.
    *
    * Same partition-offset scaffolding as `packByWeight`, per key:
    * range-partition on (key, order) so each partition holds sorted
    * contiguous (key, order) runs; the per-partition pass resets its
    * accumulator at key boundaries; cross-partition carry-in comes
    * from a per-(partition, key) weight aggregate cumulative-summed
    * per key across partition ids — a frame of O(partitions + keys)
    * rows (range partitioning keeps each key in one partition unless
    * the key's data spans several), broadcast back. Only the range
    * shuffle moves data.
    *
    * Preconditions (as `packByWeight`): `order` unique within `key`;
    * weights non-negative (NULL counts 0). A null key is a key.
    *
    * Key equality: partitioning/join compare keys with SQL equality
    * (`<=>`) while the per-partition boundary detector compares JVM
    * values — `Objects.deepEquals`, so strings/numerics/null/binary
    * all behave. The one residual divergence is DOUBLE -0.0 vs 0.0
    * (SQL-equal, JVM-distinct): such a key pair would reset the
    * accumulator mid-key and over-admit — use a normalized (or
    * non-floating) key type.
    *
    * Caching: the ranged input persists (MEMORY_AND_DISK) to back the
    * two passes, registered with [[graft.util.CacheScope]]; a caller
    * done acting on the result frees it with `CacheScope.releaseAll()`.
    * `assignScalable` caches the same way.
    */
  def takeByBudgetPerKey(df: DataFrame, key: Column, order: Column,
                         weight: Column, budget: Long, partitions: Int,
                         cumOut: String = "cum_weight"): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    cumWeightPerKey(df, key, order, weight, partitions, cumOut)
      .where(col(cumOut) <= budget)
      .drop("__k")
  }

  /** [[takeByBudgetPerKey]] with PER-KEY budgets: `budgets` is a
    * two-column (key, budget) frame — key-cardinality-sized, so it
    * broadcasts into the final gate — and everything else (range
    * shuffle only, partition-offset cumsum, caching contract) is the
    * single-budget form verbatim. Keys ABSENT from `budgets` are
    * dropped (budget 0), which is what a mixing policy means by not
    * listing a domain. Backbone of `Sampling.temperatureMix`. */
  def takeByBudgetsPerKey(df: DataFrame, key: Column, order: Column,
                          weight: Column, budgets: DataFrame,
                          partitions: Int,
                          cumOut: String = "cum_weight"): DataFrame = {
    val b = budgets.toDF("__bk", "__budget")
    cumWeightPerKey(df, key, order, weight, partitions, cumOut)
      .join(broadcast(b), col("__k") <=> col("__bk"))
      .where(col(cumOut) <= col("__budget").cast("long"))
      .drop("__k", "__bk", "__budget")
  }

  /** The shared per-key running-weight machinery behind the two
    * budget gates: the returned frame carries `cumOut` and retains
    * the internal `__k` key column for the caller's gate to consume
    * (and drop). */
  private def cumWeightPerKey(df: DataFrame, key: Column, order: Column,
                              weight: Column, partitions: Int,
                              cumOut: String): DataFrame = {
    val ranged = df.withColumn("__k", key)
      .repartitionByRange(partitions, col("__k"), order)
      .sortWithinPartitions(col("__k"), order)
      .withColumn("__w", coalesce(weight.cast("long"), lit(0L)))
      .withColumn("__pid",
        shiftright(monotonically_increasing_id(), 33))
      .transform(CacheScope.persist(_))
    val schema = ranged.schema.add("__cum",
      org.apache.spark.sql.types.LongType, nullable = false)
    val wAt = ranged.schema.fieldIndex("__w")
    val kAt = ranged.schema.fieldIndex("__k")
    // running sum INCLUDING the current row, reset at key boundaries
    // (rows are sorted by (key, order) within each partition)
    val local = ranged.mapPartitions { it =>
      var c = 0L
      var started = false
      var prev: Any = null
      it.map { r =>
        val k = r.get(kAt)
        // deepEquals, not !=: binary keys arrive as fresh Array[Byte]
        // per row (reference-unequal), which would spuriously reset
        // the accumulator at every row and admit the whole key
        if (!started || !java.util.Objects.deepEquals(k, prev)) {
          c = 0L; started = true; prev = k
        }
        c += r.getLong(wAt)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ c)
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    // per-key carry-in: this key's total weight in EARLIER partitions
    val offsets = ranged.groupBy(col("__pid"), col("__k").as("__ok"))
      .agg(sum(col("__w")).as("__n"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(
          Window.partitionBy(col("__ok")).orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid").as("__opid"), col("__ok"), col("__off"))
    local.join(broadcast(offsets),
        col("__pid") === col("__opid") && col("__k") <=> col("__ok"))
      .withColumn(cumOut, col("__off") + col("__cum"))
      .drop("__w", "__pid", "__cum", "__opid", "__ok", "__off")
  }

  def packByWeight(df: DataFrame, order: Column, weight: Column,
                   budget: Long, partitions: Int,
                   out: String = "pack_id"): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    val ranged = df.repartitionByRange(partitions, order)
      .sortWithinPartitions(order)
      .withColumn("__w", coalesce(weight.cast("long"), lit(0L)))
      .withColumn("__pid",
        shiftright(monotonically_increasing_id(), 33))
      .transform(CacheScope.persist(_))
    // running sum INCLUDING the current row, accumulated in partition
    // order (rows are already sorted by `order` within partitions)
    val schema = ranged.schema.add("__cum", org.apache.spark.sql.types.LongType,
      nullable = false)
    val wAt = ranged.schema.fieldIndex("__w")
    val local = ranged.mapPartitions { it =>
      var c = 0L
      it.map { r =>
        c += r.getLong(wAt)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ c)
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    val offsets = partitionOffsets(ranged, sum(col("__w")))
    local.join(broadcast(offsets), col("__pid") === col("__opid"))
      // cumulative weight BEFORE this row, integral-divided (exact)
      .withColumn(out,
        expr(s"(__off + __cum - __w) div $budget"))
      .drop("__w", "__pid", "__cum", "__opid", "__off")
  }
}
