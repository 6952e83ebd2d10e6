package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** OPTIMIZE / VACUUM / retention-delete analog
  * (code/ukg_tbl_optmztn.py).
  *
  * Without Delta, "OPTIMIZE" is a size-targeted rewrite and the
  * retention delete is an anti-filter rewrite. Both are expressed so
  * the scan prunes: the retention cutoff is a 1-row aggregate joined
  * broadcast (or a literal when the caller knows it), never a
  * driver-side collect.
  */
object Compaction {

  /** Rows younger than `days` before the max of `ts` (inverse of the
    * reference's retention delete). */
  def retain(df: DataFrame, ts: Column, days: Int): DataFrame = {
    val cut = df.agg(
      (max(ts) - expr(s"INTERVAL $days DAYS")).as("__cut"))
    df.join(broadcast(cut), ts >= col("__cut")).drop("__cut")
  }

  /** OPTIMIZE analog: rewrite `df` to `path` targeting
    * `targetFileMB`-sized parquet files (estimate via input size). */
  def compactTo(df: DataFrame, path: String, targetFileMB: Int = 512,
                approxInputBytes: Long): Unit =
    graft.io.StoreWriter(df.repartition(
      filesFor(approxInputBytes, targetFileMB))).mode("overwrite")
      .parquet(path)

  /** The one file-count rule of a size-targeted rewrite: ceil(bytes /
    * target), at least one — 1023 MB at 512 MB is 2 files, not 1. */
  private[graft] def filesFor(bytes: Long, targetFileMB: Int): Int = {
    val target = targetFileMB * 1024L * 1024L
    math.max(1L, (bytes + target - 1) / target).toInt
  }
}
