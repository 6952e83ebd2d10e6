package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistence for a trained PQ/OPQ/IVF-PQ serving index — the
  * artifact that separates TRAINING from SERVING. Every in-surface
  * probe that retrains its rotation + codebooks per query pays the
  * trainer's corpus pass on every call (the measured reason the
  * OPQ/IVF-PQ probes scaled ~3× at sf1 while stored-layout probes
  * held 1–2×); a real deployment trains once, persists, and serves
  * from the store. This is that store:
  *
  *  - `codebooks/`   (sub, c, cv)           — KBs, plain parquet
  *  - `rotation/`    (i, row)               — optional (OPQ's R)
  *  - `centroids/`   (c_id, cv)             — optional (IVF routing)
  *  - `codes/`       directory-partitioned by c_id when centroids
  *                   exist ([[PartitionedStore]] — the probe's
  *                   static-isin pruning needs the directories),
  *                   plain parquet otherwise
  *
  * Doubles round-trip parquet exactly, codes are ints, so a probe
  * through the loaded index is BIT-IDENTICAL to one through the
  * in-memory frames it was written from (spec-pinned), and the OPQ
  * refresh warm-start identity holds through a store round-trip.
  *
  * Writes follow the successor-directory discipline at the INDEX
  * level: the whole index lands under a temp sibling, the previous
  * committed index is renamed aside, the successor moves into place,
  * the `_INDEX_READY` marker is written, and only then is the old
  * index deleted — a reader never sees a half-written index, and a
  * crash at ANY step leaves a complete artifact on disk (either the
  * committed successor or the `.old` predecessor; the
  * PartitionedStore mid-write lesson applied to the composite
  * artifact).
  *
  * Commit contract (the part that survives a move to an object
  * store): the MARKER is the commit, not the rename. Readers gate on
  * `_INDEX_READY` alone ([[exists]]/[[read]]) and never list a
  * marker-less directory; the directory rename is a local-filesystem
  * optimization that makes the swap O(1) and keeps paths stable. On
  * a store where directory rename is non-atomic or object-copy-priced
  * (S3/ABFS-class), the same discipline holds by writing the
  * successor under a NEW content-fingerprinted path (as
  * `annTopKFromStoredIndex`'s callers already do), committing it by
  * writing the marker last, and flipping a small pointer/manifest to
  * the new path — no rename required, readers still gate on the
  * marker. Nothing in the on-disk layout assumes rename semantics. */
object PqIndexStore {

  /** A loaded serving index. `rotation`/`centroids` are present
    * exactly when the index was written with them; `residual` marks
    * an IVFADC layout (codes quantize `ec − centroid(c_id)`, so the
    * probe must residualize the query per probed cluster — a decode
    * against the wrong field would rank garbage silently, which is
    * why the flag is part of the committed artifact, not a caller
    * convention). */
  final case class PqIndex(codebooks: DataFrame,
                           codes: DataFrame,
                           rotation: Option[Seq[Seq[Double]]],
                           centroids: Option[DataFrame],
                           residual: Boolean = false)

  private val Marker = "_INDEX_READY"
  private val ResidualMarker = "_RESIDUAL_CODES"

  def exists(dir: String): Boolean =
    MarkerCommit.markerExists(dir, Marker)

  /** Persist a trained index. `codes` must carry `c_id` iff
    * `centroids` is given (the IVF layout contract); `residual`
    * requires centroids (the field is defined relative to them). */
  def write(dir: String, codebooks: DataFrame, codes: DataFrame,
            rotation: Option[Seq[Seq[Double]]] = None,
            centroids: Option[DataFrame] = None,
            residual: Boolean = false): Unit = {
    val spark = codebooks.sparkSession
    import spark.implicits._
    require(centroids.isEmpty == !codes.columns.contains("c_id"),
      "codes must carry c_id exactly when centroids are stored")
    require(!residual || centroids.isDefined,
      "residual codes are defined relative to stored centroids")
    val tmp = dir + ".building"
    MarkerCommit.deleteRecursively(tmp)
    StoreWriter(codebooks.select(col("sub").cast("int"), col("c").cast("int"),
        col("cv").cast("array<double>")))
      .mode("overwrite").parquet(s"$tmp/codebooks")
    rotation.foreach { rot =>
      StoreWriter(rot.zipWithIndex.map { case (row, i) => (i, row) }
        .toDF("i", "row")
        .coalesce(1))
        .mode("overwrite").parquet(s"$tmp/rotation")
    }
    centroids.foreach { c =>
      require(c.columns.contains("c_id") && c.columns.contains("cv"),
        "centroids must carry (c_id, cv)")
      // persisted AS-IS: the routing frame carries derived columns
      // (the precomputed norm `cn`) that must survive the round-trip
      StoreWriter(c).mode("overwrite").parquet(s"$tmp/centroids")
    }
    if (centroids.isDefined)
      PartitionedStore.write(codes, s"$tmp/codes", "c_id")
    else
      StoreWriter(codes).mode("overwrite").parquet(s"$tmp/codes")
    if (residual)
      MarkerCommit.touch(s"$tmp/$ResidualMarker", "residual\n")
    // commit: the shared MarkerCommit swap — recover a stranded
    // `.old` predecessor (a prior crash can leave it holding the
    // ONLY committed artifact), rename the current index ASIDE
    // (never delete-then-move), move the successor in, mark it
    // ready, and only then drop the predecessor. A crash at any
    // step leaves a complete committed artifact on disk.
    MarkerCommit.commitSwap(dir, tmp, Marker)
  }

  /** Load an index written by [[write]]. Applies the
    * NON-destructive reader recovery first (restores a
    * crash-stranded `.old` predecessor only when `dir` is entirely
    * absent — a marker-less `dir` might be a live writer mid-swap,
    * and a read must never delete it), then fails loudly on a
    * missing or uncommitted (no marker) directory. The ambiguous
    * marker-less-dir crash window is recovered by the next WRITER
    * entry (write/getOrBuild/appendCodes — destructive recovery
    * under the single-writer contract). */
  def read(spark: SparkSession, dir: String): PqIndex = {
    MarkerCommit.recoverForRead(dir, Marker)
    require(exists(dir),
      s"no committed PQ index at $dir (missing $Marker)")
    val codebooks = spark.read.parquet(s"$dir/codebooks")
    val rotation =
      if (MarkerCommit.fileExists(s"$dir/rotation"))
        Some(spark.read.parquet(s"$dir/rotation")
          .orderBy("i").collect()
          .map(r => r.getSeq[Double](1).toSeq).toSeq)
      else None
    val centroids =
      if (MarkerCommit.fileExists(s"$dir/centroids"))
        Some(spark.read.parquet(s"$dir/centroids"))
      else None
    PqIndex(codebooks, spark.read.parquet(s"$dir/codes"),
      rotation, centroids,
      residual = MarkerCommit.fileExists(s"$dir/$ResidualMarker"))
  }

  /** Read the committed index at `dir`, or build + persist it first.
    * `build` returns the four components; the write commits before
    * the re-read, so concurrent readers only ever see a complete
    * index. The artifact pattern for query surfaces: train on call
    * one, serve from the store on every later call. */
  def getOrBuild(spark: SparkSession, dir: String,
                 residual: Boolean = false)(
      build: => (DataFrame, DataFrame, Option[Seq[Seq[Double]]],
        Option[DataFrame])): PqIndex = {
    MarkerCommit.recover(dir, Marker) // don't retrain over a
    if (!exists(dir)) {                 // recoverable predecessor
      val (codebooks, codes, rotation, centroids) = build
      write(dir, codebooks, codes, rotation, centroids, residual)
    }
    read(spark, dir)
  }

  /** Daily maintenance for an IVF-laid-out index: value-aligned
    * append of freshly coded rows into the `codes/` store +
    * compaction past `maxFragments` files per cluster directory —
    * the [[PartitionedStore.appendAndMaintain]] discipline applied
    * to the serving artifact. Encoding is pointwise under FROZEN
    * rotation/centroids/codebooks, so an appended index serves
    * exactly what a rebuilt one would over the union (spec-pinned);
    * the layout drifts only as the data does, and
    * [[graft.operators.Pq.opqRefreshRotation]] +
    * `ivfRefreshCentroids` are the scheduled answer to that. Returns
    * the compacted cluster values. Use
    * [[graft.operators.Pq.encodeForIndex]] to code the batch with
    * the index's own artifacts. */
  def appendCodes(spark: SparkSession, dir: String, coded: DataFrame,
                  maxFragments: Int = 4): Seq[String] = {
    MarkerCommit.recover(dir, Marker)
    require(exists(dir), s"no committed PQ index at $dir")
    require(coded.columns.contains("c_id"),
      "appendCodes needs an IVF-laid-out index (codes carry c_id)")
    PartitionedStore.appendAndMaintain(coded, s"$dir/codes", "c_id",
      maxFragments = maxFragments)
  }

}
