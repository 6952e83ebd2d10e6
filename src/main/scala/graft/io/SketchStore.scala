package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Committed-artifact persistence for the sketch frames
  * ([[graft.operators.Sketch]] CMS cells, [[graft.operators.Hll]]
  * registers, [[graft.operators.Bloom]] bits,
  * [[graft.operators.Hdr]] histograms) — the [[PqIndexStore]] store
  * discipline applied to the one other family of serving artifacts:
  * a sketch that gates a 100 TB pipeline (decontamination Bloom,
  * vocabulary HLL, the profiling Hdr) is built once, APPENDED daily
  * via its merge identity, and read by every downstream job — so it
  * needs the same crash-safe commit the PQ index has, not a bare
  * parquet dir a reader can catch half-written.
  *
  * Same contract as PqIndexStore, restated: the MARKER
  * (`_SKETCH_READY`) is the commit — readers gate on it alone and
  * never list a marker-less directory; the successor is fully
  * written under a temp sibling first; the previous committed frame
  * is renamed ASIDE (never delete-then-move), the successor moves
  * in, the marker lands, and only then is the predecessor dropped. A
  * crash at any step leaves a complete committed artifact on disk
  * (the successor, or the `.old` predecessor — which [[write]]
  * restores on the next call). Directory rename is a local-fs
  * optimization; on an object store the same discipline holds via
  * content-addressed successor paths + marker-last (see the
  * PqIndexStore scaladoc).
  *
  * Why appending is the scale story: every sketch in the suite
  * carries a merge identity (`cmsMerge`/`hllMerge`/`bloomMerge`/
  * `Hdr.merge` == the one-shot sketch of the union, spec-pinned in
  * their suites), so day-N maintenance reads the KB-sized committed
  * frame + scans ONLY day N — the corpus-sized re-scan the rebuild
  * pays is exactly what [[appendMerged]] deletes. Priced in
  * StoreBench's `sketch` arm. The merged frame must MATERIALIZE
  * before the swap (the successor write is the materialization —
  * Spark would otherwise lazily read `dir` while replacing it). */
object SketchStore {

  private val Marker = "_SKETCH_READY"

  def exists(dir: String): Boolean =
    MarkerCommit.markerExists(dir, Marker)

  /** Commit `frame` at `dir` (replacing any committed predecessor)
    * under the marker-last successor discipline. Sketch frames are
    * sketch-sized by construction (≤ depth·width / m / mBits /
    * bucket-count rows), so the write coalesces to one file — a
    * reader pays one open, and the artifact stays an easily-shipped
    * single-parquet. */
  def write(dir: String, frame: DataFrame): Unit = {
    val tmp = dir + ".building"
    MarkerCommit.deleteRecursively(tmp)
    StoreWriter(frame.coalesce(1)).mode("overwrite").parquet(tmp)
    // shared crash-safe swap: recover a stranded `.old`, rename the
    // predecessor aside, move the successor in, marker last
    MarkerCommit.commitSwap(dir, tmp, Marker)
  }

  /** Load the committed frame. Applies the NON-destructive reader
    * recovery first (restores a crash-stranded `.old` predecessor
    * only when `dir` is entirely absent — a marker-less `dir` might
    * be a live writer mid-swap, and a read must never delete it),
    * then fails loudly on a missing or uncommitted (marker-less)
    * directory. The ambiguous marker-less-dir crash window is
    * recovered by the next WRITER entry ([[write]], [[appendMerged]],
    * [[getOrBuild]] — destructive recovery under the single-writer
    * contract). */
  def read(spark: SparkSession, dir: String): DataFrame = {
    MarkerCommit.recoverForRead(dir, Marker)
    require(exists(dir),
      s"no committed sketch frame at $dir (missing $Marker)")
    spark.read.parquet(dir)
  }

  /** Day-N maintenance: fold `delta` (the new batch's sketch frame)
    * into the committed frame via the family's `merge` and commit
    * the result — read ≤ frame-sized rows, scan only the new batch,
    * never the corpus. The merge output materializes into the
    * successor directory BEFORE the swap touches `dir`, so the
    * lazy-read-while-overwriting trap cannot occur. Returns the new
    * committed frame. */
  def appendMerged(spark: SparkSession, dir: String, delta: DataFrame,
                   merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    // a WRITER entry: full (destructive) recovery is safe here under
    // the single-writer contract, and must run before the read —
    // maintenance is exactly the path that reads a possibly
    // crash-stranded store first
    MarkerCommit.recover(dir, Marker)
    write(dir, merge(read(spark, dir), delta))
    read(spark, dir)
  }

  /** Read the committed frame, or build + commit it first — the
    * train-once/serve-forever entry, as `PqIndexStore.getOrBuild`. */
  def getOrBuild(spark: SparkSession, dir: String)
                (build: => DataFrame): DataFrame = {
    MarkerCommit.recover(dir, Marker) // don't rebuild over a
    if (!exists(dir)) write(dir, build) // recoverable predecessor
    read(spark, dir)
  }
}
