package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Run-id snapshotting and watermark-gated incremental slices.
  *
  * The reference appends every load with a RUN_ID and reads back
  * "latest" with `WHERE run_id = (SELECT MAX(RUN_ID) ...)`
  * (code/ukg_delta_to_parquet.py:9, ukg_wrkload_dtl.py:29-31) — its
  * poor-man's time travel. Here the same semantics are a 1-row
  * aggregate broadcast-joined back, so the scan stays distributed
  * and filter-pushdown-friendly (vs the reference's collect()).
  */
object Snapshot {

  /** Rows belonging to the maximum value of `versionCol` (latest-run
    * snapshot / `ukg_delta_to_parquet`). */
  def latest(df: DataFrame, versionCol: Column): DataFrame = {
    val mx = df.agg(max(versionCol).as("__max_ver"))
    df.join(broadcast(mx), versionCol === col("__max_ver"))
      .drop("__max_ver")
  }

  /** Time travel by explicit version (README: "time travels"). */
  def asOf(df: DataFrame, versionCol: Column, version: Long): DataFrame = {
    val mx = df.where(versionCol <= version)
      .agg(max(versionCol).as("__max_ver"))
    df.join(broadcast(mx), versionCol === col("__max_ver"))
      .drop("__max_ver")
  }

  /** Incremental slice: rows of `df` strictly newer than the max of
    * `watermarkCol` observed in `processed` (reference:
    * `run_tsp > (select max(census_dttm) …)`, ukg_open_census.py:342,
    * and the SharePoint last-modified gate,
    * download_from_sharepoint.py:104-124).
    *
    * Bootstrap: an empty `processed` aggregates to a NULL watermark,
    * which must pass *everything* through (first run processes the
    * full input) — a bare `tsCol > NULL` would silently drop it all.
    */
  def newerThan(df: DataFrame, tsCol: Column,
                processed: DataFrame, watermarkCol: Column): DataFrame = {
    val wm = processed.agg(max(watermarkCol).as("__wm"))
    df.join(broadcast(wm), col("__wm").isNull || tsCol > col("__wm"),
      "inner").drop("__wm")
  }

  /** [[newerThan]] over a SKIPPING-enabled store directory (r15):
    * the watermark — a 1-row aggregate — is collected on the driver
    * so the gate becomes a LITERAL filter over a
    * [[graft.io.SkipDataSource]] read, pushed into the committed
    * file stats at plan time: files wholly at-or-before the
    * watermark never enter the scan's listing (the daily-increment
    * read touches O(new files), the point of a watermark). The
    * broadcast-join form keeps the all-lazy plan; this form trades
    * one driver-side row for file pruning — same bootstrap
    * contract (NULL watermark passes everything). */
  def newerThanStore(spark: org.apache.spark.sql.SparkSession,
                     dir: String, tsCol: String,
                     processed: DataFrame,
                     watermarkCol: Column): DataFrame = {
    val wmRow = processed.agg(max(watermarkCol).as("__wm")).head()
    val store = spark.read.format("graft.io.SkipDataSource").load(dir)
    if (wmRow.isNullAt(0)) store
    else store.where(col(tsCol) > lit(wmRow.get(0)))
  }

  /** New-item detection: rows of `incoming` whose `key` is absent from
    * `processed` (reference collects both sides to Python lists,
    * file_cleanser.py:33-51; here a distributed left-anti join). */
  def unprocessed(incoming: DataFrame, processed: DataFrame,
                  key: String): DataFrame =
    incoming.join(processed.select(key).distinct(), Seq(key), "left_anti")
}
