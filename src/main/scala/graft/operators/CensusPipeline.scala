package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Tables

/** The reference's flagship aggregation (`get_census_count`,
  * code/ukg_open_census.py:331-352): a multi-CTE query that
  *   1. snapshots the valid dimension rows,
  *   2. inner-joins facts to the dim,
  *   3. keeps facts newer than a high-watermark,
  *   4. restricts to the latest file/batch,
  *   5. counts per location.
  *
  * Re-expressed on the test schema: `customer` plays the department
  * dim (validity flags -> not-null segment + positive balance),
  * `orders` plays the census facts, the order *day* plays the census
  * file timestamp, and the watermark is the trailing 90 days.
  *
  * Scale notes (100 TB): the reference `.collect()`s every scalar
  * (max run_id, distinct dates) to the driver; here scalars stay
  * distributed as 1-row aggregates joined back with `broadcast`, so
  * the fact table is scanned once, filtered early, and never shuffled:
  * dim and scalars are broadcast, and the final groupBy reduces
  * map-side to |locations| rows. The reference's defensive
  * `SELECT DISTINCT` after the dim join is dropped: `customer` is
  * unique per `c_custkey` and `orders` per `o_orderkey`, so the join
  * preserves uniqueness and the distinct would only add a full fact
  * shuffle.
  */
object CensusPipeline {

  /** Valid-dimension snapshot (reference: dep CTE, ukg_open_census.py:334-337). */
  def validDim(t: Tables): DataFrame =
    t.customer
      .where(col("c_mktsegment").isNotNull && col("c_acctbal") > 0)
      .select("c_custkey", "c_mktsegment")

  def censusCount(t: Tables): DataFrame = {
    val dep = validDim(t)
    // High-watermark as a 1-row aggregate (never collect()).
    val wm = t.orders.agg(
      (max(col("o_orderdate")) - expr("INTERVAL 90 DAYS")).as("wm"))
    // The post-watermark slice is narrow (trailing 90 days of 3 thin
    // columns); persist it so the latest-day aggregate below does not
    // recompute the full fact scan + joins a second time.
    val facts = t.orders
      .select("o_orderkey", "o_custkey", "o_orderdate")
      .join(broadcast(wm), col("o_orderdate") > col("wm"))
      // no broadcast hint on the dim: `customer` scales with the data
      // (unlike the zone/range dictionaries), so forcing a broadcast
      // would OOM at the 100 TB target — AQE broadcasts it while it
      // fits and falls back to a shuffled join beyond the threshold
      .join(dep, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment"),
        to_date(col("o_orderdate")).as("o_day"))
      .transform(graft.util.CacheScope.persist(_))
    // Latest file analog: keep only the most recent day in the slice
    // (reference: ltst_file CTE, ukg_open_census.py:344-346).
    val latest = facts.agg(max(col("o_day")).as("max_day"))
    facts
      .join(broadcast(latest), col("o_day") === col("max_day"))
      .groupBy(col("c_mktsegment").as("location"))
      .agg(count(col("o_orderkey")).as("census_cnt"))
  }

  /** Time-bucketed census counts (the posting cadence of
    * ukg_open_census.py turned into a proper distributed aggregation;
    * shares semantics with the streaming twin in graft.streaming).
    */
  def hourlyCensus(t: Tables): DataFrame =
    hourlyAgg(t.events)

  /** Aggregate expressions shared verbatim with the streaming twin
    * (graft.streaming.EventPipelines.streamHourlyCensus): sums go
    * through DECIMAL(18,2) so the result is exact regardless of
    * partial-aggregation order, then back to DOUBLE for a canonical
    * output representation.
    */
  val hourlyAggExprs: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n"),
    sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** The aggregation core (batch form). */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(hourlyAggExprs.head, hourlyAggExprs.tail: _*)
}
