package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Backfill / date-range parameterized loads
  * (code/ukg_wrkload_dtl.py:93-107 and README "backfills").
  *
  * The reference resolves (back_fill_days | date_range) to a
  * start/end pair for its API pull; on a lake table the same contract
  * is a partition-prunable timestamp filter.
  */
object Backfill {

  /** Inclusive start, exclusive end — [start, end) in UTC. */
  def range(df: DataFrame, ts: Column, startIso: String,
            endIso: String): DataFrame =
    df.where(ts >= to_timestamp(lit(startIso)) &&
      ts < to_timestamp(lit(endIso)))

  /** [[range]] over a SKIPPING-enabled store directory (r15, the
    * r14 verdict's ask #5): the frame reads through
    * [[graft.io.SkipDataSource]], so the range filter — a foldable
    * literal pair — is pushed into the scan at plan time and
    * out-of-range files never enter its file listing. Semantics identical to
    * `range(spark.read.parquet(dir), …)`; the store should be
    * committed via `DataSkipping.writeSortedWithStats(…, ts…)` for
    * the prune to bite (without stats it degrades to the plain
    * read, never to wrong rows). */
  def rangeStore(spark: org.apache.spark.sql.SparkSession, dir: String,
                 tsCol: String, startIso: String,
                 endIso: String): DataFrame =
    range(spark.read.format("graft.io.SkipDataSource").load(dir),
      col(tsCol), startIso, endIso)

  /** Trailing window ending at the data's own max timestamp. */
  def trailingDays(df: DataFrame, ts: Column, days: Int): DataFrame =
    Compaction.retain(df, ts, days)
}
