package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rolling-window date explosion.
  *
  * The reference builds this with a double Python loop on collected
  * rows (`explode_schedule_zones`, code/ukg_open_census.py:138-160):
  * each schedule zone is replicated for day 0..rolling_window, and a
  * zone whose end time is before its start wraps overnight (+1 day).
  * Here the explosion is `explode(sequence(...))` — it runs inside
  * the scan task, scales with partitions, and multiplies only the
  * (narrow, pre-filtered) zone rows.
  */
object RollingWindow {

  /** Replicate each row once per day offset 0..window, adding `dt` =
    * dateCol + offset. */
  def explodeDaily(df: DataFrame, dateCol: Column, window: Int,
                   out: String = "dt"): DataFrame =
    df.withColumn(out,
      explode(sequence(dateCol, date_add(dateCol, window))))

  /** Overnight wrap (ukg_open_census.py:146-149): when the end
    * timestamp falls before the start, push it one day forward. */
  def wrapOvernight(start: Column, end: Column): Column =
    when(end < start, end + expr("INTERVAL 1 DAY")).otherwise(end)

  /** Full zone explosion: one row per (zone, day in 0..window) with
    * start/end shifted by the day offset and overnight-wrapped, as
    * columns `z_start`, `z_end` after the zone's own. One projection:
    * `inline` expands one (z_start, z_end) struct per offset. A chain
    * of `withColumn`s re-analyzes the growing plan at every step,
    * which dominated this call on daily-drop zones; the offsets are
    * literal (the window is a few days), so the structs stay in
    * generated code, where a `transform` lambda would be interpreted
    * per row. */
  def explodeZones(zones: DataFrame, start: Column, end: Column,
                   window: Int): DataFrame = {
    val wrapped = wrapOvernight(start, end)
    val day = expr("INTERVAL 1 DAY")
    // the offsets of sequence(0, window), a negative window included
    val offsets = 0 to window by (if (window >= 0) 1 else -1)
    zones.select(col("*"), inline(array(offsets.map(off => struct(
      (start + lit(off) * day).as("z_start"),
      (wrapped + lit(off) * day).as("z_end"))): _*)))
  }
}
