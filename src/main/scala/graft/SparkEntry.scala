package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{Audit, Backfill, Batching, Compaction, Scd, Snapshot}
import graft.functions.{PathFns, TextFns}
import graft.io.{Cleanser, Tables}
import graft.operators._
import graft.util.CacheScope

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Conventions shared with `oracleSql` (DuckDB):
  *  - every computed column aliased identically on both sides;
  *  - double *sums* go through DECIMAL(18,2) so the result is exact
  *    and independent of partial-aggregation order;
  *  - rankings carry explicit tie-breaks;
  *  - timestamps are UTC.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CensusPipeline.censusCount(Tables(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- ETL core (reference-derived) ----
    "q_census_count" -> ((s, dir) =>
      CensusPipeline.censusCount(Tables(s, dir))),

    "q_hourly_census" -> ((s, dir) =>
      CensusPipeline.hourlyCensus(Tables(s, dir))),

    "q_latest_run_snapshot" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      Snapshot.latest(li, to_date(col("l_shipdate")))
    }),

    "q_scd_watermark" -> ((s, dir) => {
      val t = Tables(s, dir)
      Snapshot.newerThan(
        t.lineitem.select("l_orderkey", "l_linenumber", "l_shipdate"),
        col("l_shipdate"), t.orders, col("o_orderdate"))
    }),

    "q_unprocessed_anti_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      val cut = t.orders.agg(
        (max(col("o_orderdate")) - expr("INTERVAL 365 DAYS")).as("cut"))
      val recent = t.orders.select("o_custkey", "o_orderdate")
        .join(broadcast(cut), col("o_orderdate") > col("cut"))
      Snapshot.unprocessed(
        t.customer.select(col("c_custkey"), col("c_name")),
        recent.select(col("o_custkey").as("c_custkey")), "c_custkey")
    }),

    // total_amt stays DOUBLE: a DECIMAL output canonicalizes with
    // trailing zeros ('205941.60') while the DuckDB oracle prints
    // '205941.6' — same value, different hash. round() on both sides
    // keeps the representation identical.
    "q_ingest_normalize" -> ((s, dir) =>
      Tables(s, dir).orders
        .na.drop(Seq("o_orderkey", "o_custkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("total_amt"),
          upper(col("o_orderpriority")).as("priority"),
          to_date(col("o_orderdate")).as("order_day"))),

    "q_audit_run_id" -> ((s, dir) =>
      Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(Audit.runIdFrom(max(col("ts"))).as("run_id"))),

    "q_rolling_window_explode" -> ((s, dir) => {
      val zones = Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(to_date(min(col("ts"))).as("eff_dt"))
      RollingWindow.explodeDaily(zones, col("eff_dt"), 7)
        .select("event_type", "dt")
    }),

    "q_interval_join_plantype" -> ((s, dir) => {
      val t = Tables(s, dir)
      val day = t.events.agg(to_date(max(col("ts"))).as("day"))
      val zones = t.events.select("event_type").distinct()
        .crossJoin(broadcast(day))
        .withColumn("h", explode(sequence(lit(0), lit(18), lit(6))))
        .select(col("event_type"),
          (col("day").cast("timestamp") +
            col("h") * expr("INTERVAL 1 HOUR")).as("z_start"),
          (col("day").cast("timestamp") +
            (col("h") + lit(6)) * expr("INTERVAL 1 HOUR")).as("z_end"))
      val facts = t.events
        .join(broadcast(day), to_date(col("ts")) === col("day"))
        .select("event_id", "event_type", "ts")
      IntervalJoin
        .classify(facts, zones, Seq("event_type"),
          col("ts"), col("z_start"), col("z_end"))
        .select(col("event_id"), hour(col("z_start")).as("zone_h"),
          col("plan_type"))
    }),

    // oracle-checked: backward as-of join — each purchase picks the
    // user's LATEST preceding click (merge_asof semantics). ONE
    // exchange on user_id + a running window last — never the
    // per-key range cross product the naive theta-join plans (r11)
    "q_asof_join" -> ((s, dir) => {
      val ev = Tables(s, dir).events
      AsofJoin.asof(
          left = ev.where(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          right = ev.where(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("user_id"),
              col("ts"), col("value").as("click_value")),
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          payload = Seq("click_id", "click_value"), tieBreak = "click_id")
        .select("event_id", "user_id", "asof_click_id", "asof_click_value")
    }),

    // oracle-checked: the same as-of with a 1-hour lookback — the
    // latest match is kept iff within tolerance (equivalent to
    // joining inside the window: older candidates are further out);
    // interval arithmetic on full-precision timestamps (r11)
    "q_asof_join_tolerance" -> ((s, dir) => {
      val ev = Tables(s, dir).events
      AsofJoin.asof(
          left = ev.where(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          right = ev.where(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("user_id"),
              col("ts"), col("value").as("click_value")),
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          payload = Seq("click_id", "click_value"), tieBreak = "click_id",
          tolerance = Some(expr("INTERVAL 1 HOUR")))
        .select("event_id", "user_id", "asof_click_id", "asof_click_value")
    }),

    // oracle-checked: FORWARD as-of (merge_asof direction='forward')
    // — earliest click with ts >= purchase ts, inclusive boundary,
    // ties to the max click_id; the same one-exchange running-last
    // scanned in descending time (r13)
    "q_asof_join_forward" -> ((s, dir) => {
      val ev = Tables(s, dir).events
      AsofJoin.asof(
          left = ev.where(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          right = ev.where(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("user_id"),
              col("ts"), col("value").as("click_value")),
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          payload = Seq("click_id", "click_value"), tieBreak = "click_id",
          direction = "forward")
        .select("event_id", "user_id", "asof_click_id", "asof_click_value")
    }),

    // oracle-checked: NEAREST as-of — whichever of the backward /
    // forward matches is closer in time, exact ties resolving
    // BACKWARD (documented); both candidate windows ride ONE
    // exchange (the second window reuses the first's hash
    // partitioning — one extra sort, no extra shuffle) (r13)
    "q_asof_join_nearest" -> ((s, dir) => {
      val ev = Tables(s, dir).events
      AsofJoin.asof(
          left = ev.where(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          right = ev.where(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("user_id"),
              col("ts"), col("value").as("click_value")),
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          payload = Seq("click_id", "click_value"), tieBreak = "click_id",
          direction = "nearest")
        .select("event_id", "user_id", "asof_click_id", "asof_click_value")
    }),

    // oracle-checked: the SALTED as-of — same semantics as
    // q_asof_join (identical oracle), executed through the
    // time-sliced skew form: running last partitioned by
    // (key, slice) + the max_by boundary carry, for the rung where
    // one key owns the stream and the plain as-of's per-key pass
    // would run in one task (r12)
    "q_asof_join_salted" -> ((s, dir) => {
      val ev = Tables(s, dir).events
      AsofJoin.asofSalted(
          left = ev.where(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          right = ev.where(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("user_id"),
              col("ts"), col("value").as("click_value")),
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          payload = Seq("click_id", "click_value"), tieBreak = "click_id",
          slices = 8)
        .select("event_id", "user_id", "asof_click_id", "asof_click_value")
    }),

    // oracle-checked: ordered funnel — per-stage grouped minima
    // chained by user-keyed joins (earliest stage-i+1 event at or
    // after the stage-i time); no per-user event collection, no
    // full-history window (r11)
    "q_funnel_counts" -> ((s, dir) =>
      EventAnalytics.funnelCounts(Tables(s, dir).events, "user_id",
        col("ts"), col("event_type"), Seq("signup", "click", "purchase"))),

    // oracle-checked: per-user funnel depth — the non-null prefix
    // length of the stage times (nulls only ever trail) (r11)
    "q_funnel_depth" -> ((s, dir) =>
      EventAnalytics.funnelDepth(Tables(s, dir).events, "user_id",
        col("ts"), col("event_type"), Seq("signup", "click", "purchase"))
        .orderBy("user_id")),

    // oracle-checked: weekly cohort retention — cohort = week of
    // first event, n_users = distinct actives at each week offset;
    // exact date_trunc + integer day-diff arithmetic (r11)
    "q_retention_cohorts" -> ((s, dir) =>
      EventAnalytics.retention(Tables(s, dir).events, "user_id",
        col("ts"))),

    // oracle-checked: rolling z-score anomalies over the hourly
    // close series — each bar against its previous 7 bars (exact
    // DECIMAL window sums, one fixed IEEE double tree); full-window
    // bars with positive variance only (r11)
    "q_anomaly_hours" -> ((s, dir) => {
      val bars = TimeSeries.downsampleOhlc(Tables(s, dir).events,
        Seq("event_type"), col("ts"), col("value"), col("event_id"))
      TimeSeries.rollingZScore(bars, Seq("event_type"),
        "bucket", "close")
    }),

    // oracle-checked: grouped OLS fit + Pearson r from exact DECIMAL
    // second moments — order-free sums, one fixed IEEE double
    // expression tree for the closed forms; the portable alternative
    // to corr/covar_samp's run-dependent double accumulation (r11)
    "q_lin_regression" -> ((s, dir) =>
      Stats.linearFit(Tables(s, dir).lineitem,
        col("l_quantity"), col("l_extendedprice"),
        groupCols = Seq("l_returnflag"))),

    // oracle-checked: the star-schema revenue rollup (TPC-H Q5
    // flavor) — lineitem x orders x customer shuffle joins plus a
    // broadcast nation dim; revenue stays in exact DECIMAL
    // arithmetic end-to-end (price(18,2) x (1 - disc)(5,2) ->
    // (24,4)), so partial-aggregation order cannot move it (r11)
    "q_star_revenue" -> ((s, dir) => {
      val t = Tables(s, dir)
      val rev = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(5,2)") -
          col("l_discount").cast("decimal(5,2)")))
      t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          year(to_date(col("o_orderdate"))).cast("long").as("yr"))
        .agg(sum(rev).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // oracle-checked: pivot — order counts per priority spread over
    // status columns; absent combinations filled 0 to match the
    // conditional-aggregation replay (r11)
    "q_pivot_status" -> ((s, dir) =>
      Tables(s, dir).orders
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("F", "O", "P"))),

    // oracle-checked: single-pass data profiling — every column's
    // null/distinct/min/max from ONE aggregate (multi-distinct plans
    // as one Expand + shuffle, never k scans); typed min/max cast to
    // string after aggregating (r11)
    "q_profile_orders" -> ((s, dir) =>
      Profile.describe(Tables(s, dir).ordersWide,
        Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority", "o_orderdate"))),

    // oracle-checked: profiling with exact moments — the double
    // column profiles as its DECIMAL(18,2) view (portable fixed-
    // point min/max), mean/stddev from exact DECIMAL Σx/Σx² + one
    // fixed double chain (the Stats discipline); still ONE
    // aggregate for every column (r12)
    "q_profile_orders_moments" -> ((s, dir) =>
      Profile.describe(Tables(s, dir).ordersWide,
        Seq("o_orderstatus", "o_orderpriority"),
        numericCols = Seq("o_totalprice"))),

    // rows-only (twin: q_profile_orders green; spec bounds the
    // estimate at 3x rsd and pins the single scan): profiling with
    // HLL++ approximate distincts — the shuffle carries fixed-size
    // sketches per column instead of every distinct value, the
    // 100 TB profile shape (r12)
    "q_profile_orders_approx" -> ((s, dir) =>
      Profile.describeApprox(Tables(s, dir).ordersWide,
        Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority", "o_orderdate"))),

    // oracle-checked: the completed DESCRIBE — moments profile plus
    // per-numeric-column Hdr quantiles (cent-scaled BIGINT
    // percentile_disc-style estimates, pure integer arithmetic) in
    // ONE extra corpus scan for ALL numeric columns (the documented
    // two-scan trade; ProfileSpec pins scans == 2) (r13)
    "q_profile_orders_hdr" -> ((s, dir) =>
      Profile.describeWithQuantiles(Tables(s, dir).ordersWide,
        Seq("o_orderstatus", "o_orderpriority"),
        numericCols = Seq("o_totalprice"))),

    // oracle-checked: UNPIVOT (melt) — the pivot round-trip back to
    // long form, including the filled-0 absent combinations (r11)
    "q_unpivot_status" -> ((s, dir) =>
      Tables(s, dir).orders
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("F", "O", "P"))
        .unpivot(Array(col("o_orderpriority")),
          Array(col("F"), col("O"), col("P")), "status", "n")),

    // oracle-checked: ROLLUP subtotals — the standard warehouse
    // hierarchy rollup (status, priority) with exact DECIMAL sums;
    // one pass, the aggregate expands grouping sets map-side (r11)
    "q_rollup_orders" -> ((s, dir) =>
      Tables(s, dir).orders
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))),

    // oracle-checked: gap-break sessionization (30-min gap) — the
    // batch twin the streaming sessionize family is spec-equal to,
    // now with its own oracle-green query surface; session identity
    // is order-free at equal timestamps (a 0-gap never breaks) (r11)
    "q_sessionize" -> ((s, dir) =>
      graft.streaming.EventPipelines
        .sessionizeBatch(Tables(s, dir).events, gapMinutes = 30)
        .select("user_id", "session_start", "session_end", "n_events")),

    // oracle-checked: per-user session AGGREGATE rollup — the
    // analytics surface right after sessionizing (session counts,
    // event totals, mean session duration). Durations sum as exact
    // BIGINT millis; the mean is one fixed double chain
    // ((Σms / n) / 1000), so it replays bit-identically. Piggybacks
    // the sessionize exchange: the rollup groups by a PREFIX of the
    // session grouping key, so no third shuffle of the events. The
    // rollup IS streamSessionStats applied to the batch sessions —
    // one aggregation body, so the stream == batch parity the
    // streaming twin claims is true by construction (r12)
    "q_session_stats" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventPipelines.streamSessionStats(
        graft.streaming.EventPipelines
          .sessionizeBatch(Tables(s, dir).events, gapMinutes = 30)
          .select(col("user_id"), col("session_start"),
            col("session_end"), col("n_events"), col("sum_value"))
          .as[graft.streaming.EventPipelines.UserSession])
    }),

    // oracle-checked: SCD Type-2 interval build — per-user
    // event_type change stream folded into validity intervals with
    // change compression (unchanged re-deliveries collapse); one
    // exchange, lag + filter + lead sharing it (r11)
    "q_scd2_intervals" -> ((s, dir) =>
      Scd.buildType2(Tables(s, dir).events, Seq("user_id"), col("ts"),
        col("event_id"), Seq("event_type"))),

    // oracle-checked: keyed MERGE / upsert (the Delta MERGE INTO
    // analog) — a two-generation change batch (in-batch duplicates,
    // inserts, updates, effective deletes, no-op deletes of absent
    // keys, deletes superseded by later upserts) replayed against a
    // target slice of orders. Latest change per key wins (ts desc,
    // gen desc); the target never shuffles — it anti-joins the
    // batch-sized change keys (AQE-broadcast) and unions the
    // surviving upserts (r13)
    // `total` rides DECIMAL(18,2) through the merge and casts to
    // DOUBLE only at this surface: the r13 lesson — a raw decimal
    // output column stringifies '78855.80' where the oracle's
    // float renders '78855.8', a pure-rendering hash fail. The cast
    // is lossless (values are exact 2-decimal) and the repo-wide
    // discipline (q_ohlc_hourly, q_star_revenue, q_rollup_orders)
    "q_merge_upsert" -> ((s, dir) =>
      graft.etl.Merge.merge(mergeDemoTarget(s, dir),
        mergeDemoChanges(s, dir), Seq("o_orderkey"),
        col("change_ts"), col("gen"), deleteFlag = Some("is_delete"))
        .withColumn("total", col("total").cast("double"))),

    // oracle-checked: the same MERGE committed THROUGH the versioned
    // store — v0 = the target, v1 = the merged table, committed via
    // VersionStore's shared MarkerCommit crash window; later calls
    // serve the committed v1, so the STORE round-trip itself is
    // oracle-checked (the q168 pattern) (r13)
    "q_merge_versioned" -> ((s, dir) => {
      import graft.etl.{Merge, VersionStore}
      val root = servingStore("merge1", dir) { root =>
        VersionStore.write(mergeDemoTarget(s, dir), root)
        Merge.mergeVersioned(s, root, mergeDemoChanges(s, dir),
          Seq("o_orderkey"), col("change_ts"), col("gen"),
          deleteFlag = Some("is_delete"))
      }
      // store keeps DECIMAL; the SURFACE casts (decimal-portability
      // discipline — see q_merge_upsert)
      VersionStore.latest(s, root)
        .withColumn("total", col("total").cast("double"))
    }),

    // oracle-checked: the same MERGE through the PARTITION-PRUNED
    // store path — the 100 TB form: the table lives key-range
    // partitioned (p = key % 8, a pure function of the key, the
    // stability guard's contract) and the merge reads and rewrites
    // ONLY the partitions the batch touches. Re-applied on every
    // call (idempotent re-delivery, spec-pinned) so the bench prices
    // the real day-N rewrite; read-back includes the partition
    // column, so the pruning layout itself is oracle-checked (r13)
    "q_merge_partitioned" -> ((s, dir) => {
      import graft.etl.Merge
      def withP(df: DataFrame): DataFrame =
        df.withColumn("p", (col("o_orderkey") % 8).cast("int"))
      val path = servingStore("mergep", dir)(
        graft.io.PartitionedStore.write(withP(mergeDemoTarget(s, dir)),
          _, "p"))
      Merge.mergePartitioned(s, path, withP(mergeDemoChanges(s, dir)),
        Seq("o_orderkey"), col("change_ts"), col("gen"), "p",
        deleteFlag = Some("is_delete"))
      s.read.parquet(path)
        .withColumn("total", col("total").cast("double"))
    }),

    // oracle-checked: the CHANGE DATA FEED the same merge emits —
    // one row per changed key with its action (insert: key absent;
    // update: the new payload; delete: the target's pre-image, what
    // a downstream consumer must retract). Delta CDF analog: the
    // subscription surface for incremental consumers; spec pins
    // applyFeed(target, feed) == merge(target, changes) (r13)
    "q_merge_changes" -> ((s, dir) =>
      graft.etl.Merge.changeFeed(mergeDemoTarget(s, dir),
        mergeDemoChanges(s, dir), Seq("o_orderkey"),
        col("change_ts"), col("gen"), deleteFlag = Some("is_delete"))
        .withColumn("total", col("total").cast("double"))),

    // oracle-checked: FILE-LEVEL MIN/MAX DATA SKIPPING (the
    // Delta/Iceberg stats-pruning analog, r14) — orders land sorted
    // by order_day (writeSorted: range-exchange + within-file sort,
    // so per-file date ranges are near-disjoint) with a footer-
    // derived per-file stats frame committed marker-last beside the
    // data; the one-year read through graft.io.SkipDataSource prunes
    // the FILE LIST before any skipped footer opens, and the surface
    // REQUIRES the scan's files-kept < files-present so the pruning
    // itself is gated every run. The data predicate still applies on
    // top (superset contract)
    "q_store_skip" -> skipDemo,

    // oracle-checked: the same skipping attached to a VERSIONED
    // commit — stats ride INSIDE the committed v=N directory (an
    // underscore dir, invisible to data reads), so time travel keeps
    // per-version stats and vacuum drops them with the version; the
    // lakehouse read path (VersionStore + MarkerCommit + the
    // skipping read) in one oracle-gated surface. Same output as
    // q_store_skip, so it carries the same oracle verbatim (the
    // fromindex-twin pattern — the STORE code path earns its own
    // rows+schema+hash row)
    "q_store_skip_versioned" -> ((s, dir) => {
      import graft.io.DataSkipping
      import graft.etl.VersionStore
      val root = servingStore("skipv", dir) { root =>
        val v = VersionStore.write(skipDemoFrame(s, dir)
          .repartitionByRange(32, col("order_day"))
          .sortWithinPartitions("order_day"), root)
        DataSkipping.writeStats(s, s"$root/v=$v", Seq("order_day"))
      }
      skipDemoRead(s, s"$root/v=${VersionStore.versions(s, root).max}")
    }),

    // oracle-checked: Z-ORDER clustering (the OPTIMIZE ZORDER
    // analog) — the same table tiled on (order_day, o_custkey) by
    // interleaving the bits of the two columns' scaled ranks, so a
    // predicate on EITHER column (or both) prunes files; a 1-D sort
    // serves only its lead column (spec-pinned: an x-sorted layout
    // keeps 16/16 files for a y predicate, the z layout prunes it).
    // The z value is write-time-only: data columns are untouched and
    // skipping derives from true footer stats, so a bad z mapping
    // can only cost selectivity, never rows. The surface REQUIREs a
    // 2-D prune that kept fewer files than present (r14)
    "q_store_skip_zorder" -> ((s, dir) => {
      val path = servingStore("skipz", dir)(
        graft.io.DataSkipping.writeZOrderedWithStats(skipDemoFrame(s, dir),
          _, Seq("order_day", "o_custkey"), numFiles = 32))
      val df = skipRead(s, path)
        .where(col("order_day").between(
          lit("1996-01-01"), lit("1996-12-31")) &&
          col("o_custkey").between(1, 100))
      val prune = scanPrune(df, path, "q_store_skip_zorder")
      require(prune.keptStatic > 0 && prune.keptStatic < prune.total,
        s"z-order skipping degenerate: ${prune.keptStatic} of " +
          s"${prune.total} files")
      df
    }),

    // oracle-checked: the spark.read-shaped entry to the same sorted
    // store (the r14 VERDICT ask #2: no explicit prune call — the
    // pushed data filters prune the scan's file listing at plan time,
    // composing with parquet row-group and column pruning in ONE
    // plan). Since every pruned read goes through
    // graft.io.SkipDataSource this IS q_store_skip's read of the same
    // store: one body, same rows, same oracle verbatim
    "q_store_skip_fileindex" -> skipDemo,

    // oracle-checked: the HIVE-PARTITIONED two-level prune — the
    // store lays out `p = o_custkey % 4` directories with files
    // range-sorted on o_orderkey inside, stats committed at the
    // root; one graft.io.SkipDataSource scan then prunes DIRECTORIES
    // on the partition filter and FILES on the o_orderkey range (the
    // committed stats) — the Delta read shape — and its one witness
    // carries both levels. REQUIREs: overall kept < total always;
    // each level keeps exactly what the committed stats allow. The
    // file-level compose is also spec-pinned strictly
    // (DataSkippingSpec)
    "q_store_skip_partitioned" -> ((s, dir) => {
      import graft.io.DataSkipping
      val path = servingStore("skipp", dir) { path =>
        skipDemoFrame(s, dir)
          .withColumn("p", pmod(col("o_custkey"), lit(4L)).cast("int"))
          .repartitionByRange(32, col("p"), col("o_orderkey"))
          .sortWithinPartitions("p", "o_orderkey")
          .write.partitionBy("p").parquet(path)
        DataSkipping.writeStats(s, path, Seq("o_orderkey"))
      }
      val both = skipRead(s, path)
        .where(col("p") === 1 &&
          col("o_orderkey").between(1000L, 50000L))
      val prune = scanPrune(both, path, "q_store_skip_partitioned")
      val (total, keptPart, keptBoth) =
        (prune.total, prune.keptPartition, prune.keptStatic)
      require(keptBoth > 0 && keptBoth < total,
        s"partitioned skipping degenerate: $keptBoth of $total files")
      // EXACT prune expectations from the committed stats, not a
      // strictly-fewer heuristic: repartitionByRange samples its
      // boundaries with a session-dependent seed, so whether p=1
      // gets a file wholly outside [1000, 50000] at tiny SFs is a
      // per-build roll — the old `keptBoth < keptPart` gate failed
      // on an unlucky sf0.01 layout this round (r18, inherited).
      // The scan must keep exactly the p=1 files whose committed
      // [min, max] o_orderkey range intersects the predicate —
      // layout-independent, and strictly stronger where the stats
      // CAN prune.
      val statsDf = DataSkipping.statsFrame(s, path).getOrElse(
        sys.error("q_store_skip_partitioned: no committed stats"))
      val p1 = statsDf.where(col("file").contains("/p=1/"))
        .select("min_o_orderkey", "max_o_orderkey").collect()
      val expectPart = p1.length
      val expectBoth = p1.count(r =>
        r.getLong(1) >= 1000L && r.getLong(0) <= 50000L)
      require(keptPart == expectPart,
        s"partition prune kept $keptPart of expected $expectPart")
      require(keptBoth == expectBoth,
        s"stats prune kept $keptBoth, committed stats allow $expectBoth")
      both.select("o_orderkey", "o_custkey", "total", "order_day", "p")
    }),

    // oracle-checked: DYNAMIC FILE PRUNING (the Delta "dynamic file
    // pruning" analog, r16) — the star-join shape where the selective
    // predicate lives on the DIMENSION: lineitem lands sorted by
    // l_orderkey (the monotone-id ingest clustering every
    // auto-increment table has) with committed stats; the dim is an
    // ingest-batch manifest derived from orders (batch =
    // floor(key / W), W sized for 16 batches), filtered on
    // `ingest_batch` — a column the fact never sees, so no plan-time
    // literal can reach the fact scan. Spark's own PartitionPruning
    // rule plants the runtime filter against graft.io.SkipDataSource
    // (SupportsRuntimeFiltering over the stats columns) and the
    // delivered key set prunes the FILE list at execution. The
    // builder executes the join once under the DPP fallback ratio
    // (testdata is KBs — below the benefit heuristic's tuning range)
    // and REQUIREs the runtime filter fired and kept < total files,
    // so the prune is gated every run, by measured file count
    "q_store_skip_dynamic" -> ((s, dir) => {
      import graft.io.DataSkipping
      val path = servingStore("skipd", dir)(
        DataSkipping.writeSortedWithStats(
          Tables(s, dir).lineitem.select(col("l_orderkey"),
            col("l_quantity").cast("decimal(18,2)").as("qty"),
            col("l_extendedprice").cast("decimal(18,2)").as("price")),
          _, Seq("l_orderkey"), numFiles = 32,
          statsCols = Seq("l_orderkey")))
      val w = ingestBatchWidth(s, dir)
      // explicit broadcast: the dim's post-filter slice is
      // broadcast-sized at every SF, but plan-stat estimates don't
      // shrink through the batch filter, so past ~sf0.1 auto-broadcast
      // declines, the join goes sort-merge, and DPP's
      // reuseBroadcastOnly default then drops the runtime filter —
      // the hint keeps the star shape (and the prune) at every scale
      def build(sess: SparkSession): DataFrame = {
        val dim = Tables(sess, dir).orders
          .select(col("o_orderkey"),
            floor(col("o_orderkey") / lit(w)).cast("long")
              .as("ingest_batch"))
          .where(col("ingest_batch") === 7)
        val fact = skipRead(sess, path)
        fact.join(broadcast(dim),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey")
          .agg(sum("qty").cast("double").as("sum_qty"),
            sum("price").cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
      }
      val prune = dfpGate(s, path, "q_store_skip_dynamic")(build)
      require(prune.runtimeFilterSeen,
        "dynamic file pruning: runtime filter never reached the scan")
      require(prune.keptRuntime > 0 &&
        (prune.total < 8 || prune.keptRuntime < prune.total),
        s"dynamic file pruning degenerate: kept ${prune.keptRuntime} " +
          s"of ${prune.total} files")
      build(s)
    }),

    // oracle-checked: the FULL Delta read shape in ONE V2 scan (r17,
    // the r16 verdict's #2 ask) — the q181 hive-partitioned layout
    // served through graft.io.SkipDataSource: the p literal drops
    // whole DIRECTORIES, the l_orderkey range drops FILES inside the
    // survivors (committed stats), and the join-delivered runtime
    // key set drops MORE files — three prune levels, one listing,
    // partition values reconstituted into the oracle-hashed output.
    // The builder REQUIREs each level removed files by measured
    // count (graded: tiny fuzz corpora land few-file directories)
    "q_store_skip_dynamic_part" -> ((s, dir) => {
      import graft.io.DataSkipping
      val path = servingStore("skipdp", dir) { path =>
        Tables(s, dir).lineitem.select(col("l_orderkey"),
            col("l_quantity").cast("decimal(18,2)").as("qty"),
            pmod(col("l_orderkey"), lit(4L)).cast("int").as("p"))
          .repartitionByRange(32, col("p"), col("l_orderkey"))
          .sortWithinPartitions("p", "l_orderkey")
          .write.partitionBy("p").parquet(path)
        DataSkipping.writeStats(s, path, Seq("l_orderkey"))
      }
      val w = ingestBatchWidth(s, dir)
      // p = 1: directory prune; l_orderkey < 12w: a static stats
      // range KEEPING batch 7 (7w..8w) so the runtime level still
      // has keys to deliver; broadcast(dim): the q182 star shape
      def build(sess: SparkSession): DataFrame = {
        val dim = Tables(sess, dir).orders
          .select(col("o_orderkey"),
            floor(col("o_orderkey") / lit(w)).cast("long")
              .as("ingest_batch"))
          .where(col("ingest_batch") === 7)
        val fact = skipRead(sess, path)
          .where(col("p") === 1 && col("l_orderkey") < lit(12L * w))
        fact.join(broadcast(dim),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey", "p")
          .agg(sum("qty").cast("double").as("sum_qty"),
            count(lit(1)).as("n_items"))
      }
      val prune = dfpGate(s, path, "q_store_skip_dynamic_part")(build)
      require(prune.runtimeFilterSeen,
        "partitioned DFP: runtime filter never reached the scan")
      require(prune.keptRuntime > 0,
        s"partitioned DFP degenerate: $prune")
      require(prune.total < 8 || prune.keptPartition < prune.total,
        s"partitioned DFP: directory prune removed nothing: $prune")
      require(prune.keptPartition < 6 ||
        prune.keptStatic < prune.keptPartition,
        s"partitioned DFP: stats prune did not compose: $prune")
      require(prune.keptStatic < 3 ||
        prune.keptRuntime < prune.keptStatic,
        s"partitioned DFP: runtime prune did not compose: $prune")
      build(s)
    }),

    // oracle-checked: hourly OHLC bars — order-sensitive open/close
    // from two row_number windows over the SAME (key, bucket)
    // partitioning the aggregate then reuses (one shuffle total);
    // ties resolve on event_id, sums ride DECIMAL(18,2) (r11)
    "q_ohlc_hourly" -> ((s, dir) =>
      TimeSeries.downsampleOhlc(Tables(s, dir).events,
        Seq("event_type"), col("ts"), col("value"), col("event_id"))),

    // oracle-checked: the dense forward-filled close series — every
    // hour of each type's [min, max] span, last non-null close
    // carried forward, filled flag on manufactured buckets; grid
    // cost is keys x span-hours, independent of corpus size (r11)
    "q_gapfill_hourly" -> ((s, dir) => {
      val bars = TimeSeries.downsampleOhlc(Tables(s, dir).events,
        Seq("event_type"), col("ts"), col("value"), col("event_id"))
      TimeSeries.gapFillForward(bars, Seq("event_type"),
        "bucket", "close")
    }),

    "q_cost_center" -> ((s, dir) =>
      Tables(s, dir).part
        .groupBy(PathFns.prefixPath(col("p_name"), " ", 3).as("cost_center"))
        .agg(count(lit(1)).as("n"))),

    "q_multi_precision_join" -> ((s, dir) => {
      val part = Tables(s, dir).part
      val data = part.select(col("p_partkey"),
        PathFns.prefixPath(col("p_name"), " ", 3).as("loc"))
      val z3 = data.select(col("loc").as("z")).distinct()
      val z2 = part.select(
        PathFns.prefixPath(col("p_name"), " ", 2).as("z")).distinct()
      val j1 = data.join(broadcast(z3), col("loc") === col("z"))
        .select("p_partkey", "z")
      val j2 = data.join(broadcast(z2),
          PathFns.prefixPath(col("loc"), " ", 2) === col("z"))
        .select("p_partkey", "z")
      j1.union(j2).distinct()
    }),

    "q_latest_file_parse" -> ((s, dir) =>
      Tables(s, dir).documents
        .groupBy(col("lang"))
        .agg(max(PathFns.numericId(col("source"))).as("max_src"))),

    "q_master_table" -> ((s, dir) => {
      val t = Tables(s, dir)
      val denorm = t.orders
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .withColumn("order_day", to_date(col("o_orderdate")))
      MasterChild.master(denorm, Seq("o_orderkey"),
        Seq("o_custkey", "order_day", "o_orderstatus"))
    }),

    "q_child_table" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .withColumn("o_orderkey", col("l_orderkey"))
        .withColumn("net_price",
          col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      MasterChild.child(li, Seq("o_orderkey"),
        Seq("l_linenumber", "l_partkey", "l_quantity", "net_price"))
    }),

    "q_range_lookup" -> ((s, dir) => {
      val t = Tables(s, dir)
      val ranges = t.part.select(
        (floor(col("p_size") / 10) * 10).as("low"),
        (floor(col("p_size") / 10) * 10 + 9).as("high"),
        (floor(col("p_size") / 10) + 1).as("stf_cnt")).distinct()
      RangeLookup.lookup(t.lineitem.select("l_quantity"), ranges,
          col("l_quantity"), col("low"), col("high"))
        .groupBy("stf_cnt").agg(count(lit(1)).as("n"))
    }),

    "q_batch_assign" -> ((s, dir) =>
      Batching.assignScalable(Tables(s, dir).customer.select("c_custkey"),
        col("c_custkey"), 50, partitions = 8)),

    // oracle-checked: epoch-salted deterministic training-export
    // shuffle; the oracle replays it as the single global window the
    // operator exists to avoid running at scale
    "q_shuffle_export" -> ((s, dir) =>
      Batching.deterministicShuffle(
        Tables(s, dir).documents.select("doc_id", "source"),
        col("doc_id"), salt = "epoch0", partitions = 8)),

    // oracle-checked: exact-count train/val/test split at cumulative
    // rank boundaries (hash-gate sampling only hits fractions in
    // expectation; rank cuts hit them exactly)
    "q_split_exact" -> ((s, dir) =>
      Batching.splitByRank(Tables(s, dir).documents.select("doc_id"),
        col("doc_id"), salt = "fold0",
        slices = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        partitions = 8)),

    "q_retention_filter" -> ((s, dir) =>
      Compaction.retain(Tables(s, dir).events.select("event_id", "ts"),
        col("ts"), 14)),

    "q_backfill_range" -> ((s, dir) =>
      Backfill.range(Tables(s, dir).orders.select("o_orderkey", "o_orderdate"),
        col("o_orderdate"), "1996-01-01 00:00:00", "1997-01-01 00:00:00")),

    // oracle-checked: the backfill date-range re-served through a
    // SKIPPED read (VERDICT r14 ask #5, the fromindex-twin pattern):
    // the (o_orderkey, o_orderdate) table commits SORTED on
    // o_orderdate with footer stats, Backfill.rangeStore reads it
    // through graft.io.SkipDataSource, and the pushed [start, end)
    // literals prune out-of-range files from the scan's listing —
    // gated kept < total every run. Same rows as q_backfill_range:
    // same oracle, verbatim
    "q_backfill_range_store" -> ((s, dir) => {
      import graft.io.DataSkipping
      val path = servingStore("bfr", dir)(
        DataSkipping.writeSortedWithStats(
          Tables(s, dir).orders.select("o_orderkey", "o_orderdate"),
          _, Seq("o_orderdate"), numFiles = 32,
          statsCols = Seq("o_orderdate")))
      val df = Backfill.rangeStore(s, path, "o_orderdate",
        "1996-01-01 00:00:00", "1997-01-01 00:00:00")
      val prune = scanPrune(df, path, "q_backfill_range_store")
      require(prune.keptStatic > 0 && prune.keptStatic < prune.total,
        s"backfill skipping degenerate: scan lists ${prune.keptStatic} " +
          s"of ${prune.total} files")
      df
    }),

    "q_cleanse_text" -> ((s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        md5(Cleanser.normalized(col("text")).cast("binary")).as("clean_hash"))),

    "q_topn_per_group" -> ((s, dir) =>
      TopK.perGroup(
          Tables(s, dir).orders
            .select("o_orderpriority", "o_orderkey", "o_totalprice"),
          groups = Seq(col("o_orderpriority")),
          order = Seq(col("o_totalprice").desc, col("o_orderkey")),
          k = 3)
        .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")),

    // ---- LLM-training-data pipeline (SURVEY §2 q21-q32) ----
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables(s, dir).documents, col("doc_id"), col("text"))),

    // maxShingleDf=64 (here and in every jaccard-family query): the
    // boilerplate valve, inert at every oracle-graded SF (max shingle
    // df is 25 at sf0.1, lower at sf0.01, so results are bit-identical
    // to the uncapped oracle SQL) and engaged only where it exists to
    // act: the sf1 scale corpus, whose tag-interleaved text collapses
    // 3-grams to effective bigrams and puts 98% of its 192M candidate
    // pairs on df>100 boilerplate shingles (measured; PERF.md r6).
    "q_dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(Tables(s, dir).documentsWide, col("doc_id"),
        col("text"), n = 3, threshold = 0.5, maxShingleDf = Some(64))),

    // oracle-checked CONTAINMENT pairs (Broder 1997's asymmetric
    // score): |S(a) ∩ S(b)| / |S(side)| per direction — the dedup
    // mode that catches a document EMBEDDED in a much larger one,
    // where Jaccard structurally collapses (a doc inside a 10×
    // wrapper is ~0.1 resemblance, 1.0 containment; spec pins the
    // contrast). Same candidate machinery and cap as q22.
    "q_dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables(s, dir).documentsWide, col("doc_id"),
        col("text"), n = 3, threshold = 0.8, maxShingleDf = Some(64))),

    // rows-only: minhash signatures use xxhash64, not reproducible in SQL
    "q_dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables(s, dir).documents, col("doc_id"),
        col("text"), n = 3, numHashes = 32, bands = 8, threshold = 0.5)),

    // Incremental dedup: the daily-ingest shape — near-dup pairs of a
    // NEW batch (doc_id % 3 != 0) against the existing corpus
    // (doc_id % 3 == 0) plus the batch itself; reference-internal
    // pairs never enumerate, id_b is always the new doc at risk.
    // maxShingleDf = 64: inert at graded SFs (corpus max df < 64, so
    // oracle parity is bit-exact without modeling the cap in SQL) but
    // load-bearing on the scale corpus — without it the new-vs-all
    // candidate join pays the hot-shingle mass q22's PERF study
    // measured (sf1: 37.7 s uncapped → capped at the q22 valve)
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      Dedup.incrementalJaccardPairs(
        newDocs = docs.where(col("doc_id") % 3 =!= 0),
        refDocs = docs.where(col("doc_id") % 3 === 0),
        col("doc_id"), col("text"), n = 3, threshold = 0.5,
        maxShingleDf = Some(64))
    }),

    // oracle-checked incremental containment: the daily-ingest shape
    // for the asymmetric detector (every detector family carries
    // one) — candidates new×ref ∪ new×new, id_b always the new doc
    // at risk; a new doc CONTAINED in the reference corpus is the
    // re-post/quote the policy drops before it enters the store.
    "q_dedup_containment_incremental" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      Dedup.incrementalContainmentPairs(
        newDocs = docs.where(col("doc_id") % 3 =!= 0),
        refDocs = docs.where(col("doc_id") % 3 === 0),
        col("doc_id"), col("text"), n = 3, threshold = 0.8,
        maxShingleDf = Some(64))
    }),

    // oracle-checked STORE-PATH increments: the FromIndex forms are
    // bit-identical to the from-docs queries above (spec-pinned), so
    // they run the q56/q108 oracles verbatim — here the reference
    // side enters as its (id, shingle, n_sh) shingleIndex (at scale
    // a bucketed stored artifact; BucketingSpec pins the
    // fewer-exchanges plan) and no reference text is re-read inside
    // the increment
    "q_dedup_incremental_fromindex" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      // persisted (r19): the query plays store-builder AND increment
      // in one plan — the computed reference index (at scale a
      // bucketed parquet scan, built once per corpus) feeds the df
      // cap aggregate and the capped-index join, so uncached the
      // reference text pass + its id-window ran per consumer. The
      // persist materializes the "store build" once, exactly as a
      // deployment would; (id, shingle, n_sh) longs, never text.
      Dedup.incrementalJaccardPairsFromIndex(
        docs.where(col("doc_id") % 3 =!= 0),
        CacheScope.persist(Dedup.shingleIndex(docs.where(col("doc_id") % 3 === 0),
          col("doc_id"), col("text"), n = 3)),
        col("doc_id"), col("text"), n = 3, threshold = 0.5,
        maxShingleDf = Some(64))
    }),

    "q_dedup_containment_fromindex" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      // persisted (r19): see q_dedup_incremental_fromindex
      Dedup.incrementalContainmentPairsFromIndex(
        docs.where(col("doc_id") % 3 =!= 0),
        CacheScope.persist(Dedup.shingleIndex(docs.where(col("doc_id") % 3 === 0),
          col("doc_id"), col("text"), n = 3)),
        col("doc_id"), col("text"), n = 3, threshold = 0.8,
        maxShingleDf = Some(64))
    }),

    // rows-only: the containment SCALE path — Broder's estimator
    // over the (id, sig, n_sh) signature store (xxhash64 signatures,
    // single-position banding so asymmetric pairs actually collide;
    // r>=2 jaccard bands see a J=0.125 doc-in-doc pair with P~0.01).
    // No shingle index touched: the same stored signatures q57 joins,
    // plus one long per doc. Exact q107 is the oracle-green twin; the
    // seeded entry below oracle-checks the ESTIMATOR itself.
    "q_dedup_containment_minhash" -> ((s, dir) =>
      Dedup.containmentFromSignatures(
        Dedup.minhashSignaturesWithSize(Tables(s, dir).documentsWide,
          col("doc_id"), col("text"), n = 3, numHashes = 32),
        numHashes = 32, threshold = 0.8)),

    // oracle-checked containment estimator: md5-seeded signatures +
    // the same single-position banding + the same Broder arithmetic,
    // every stage ANSI-SQL-replayable (the q43 pattern) — so the
    // estimator carries its own rows+schema+hash oracle instead of
    // leaning only on the exact twin
    "q_dedup_containment_minhash_seeded" -> ((s, dir) =>
      Dedup.containmentFromSignatures(
        Dedup.minhashSignaturesSeededWithSize(Tables(s, dir).documentsWide,
          col("doc_id"), col("text"), n = 3, numHashes = 16),
        numHashes = 16, threshold = 0.8,
        bandKey = (_, sl) => md5(concat_ws("|", sl)))),

    // rows-only: the signature-store form of the incremental pass —
    // the reference corpus enters as its (id, sig) MinHash signature
    // frame (at scale a stored artifact; no reference text re-read),
    // xxhash64 throughout so not SQL-replayable; the jaccard twin
    // above oracle-checks the increment semantics, and the spec pins
    // this path equal to full-corpus LSH restricted to new pairs
    "q_dedup_incremental_minhash" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val sigs = (d: org.apache.spark.sql.DataFrame) =>
        Dedup.minhashSignatures(d, col("doc_id"), col("text"),
          n = 3, numHashes = 32)
      Dedup.incrementalLshPairs(
        newSigs = sigs(docs.where(col("doc_id") % 3 =!= 0)),
        refSigs = sigs(docs.where(col("doc_id") % 3 === 0)),
        numHashes = 32, bands = 8, threshold = 0.5)
    }),

    // oracle-checked MinHash: md5-seeded signatures (portable hex-min)
    // and md5 band keys run the SAME band/bucket/verify machinery as
    // the xxhash64 entry above (Dedup.lshPairsFromSignatures), so the
    // LSH code path gets a rows+schema+hash oracle; the xxhash64
    // variant stays the scale path (fused codegen, 8-byte keys)
    "q_dedup_minhash_seeded" -> ((s, dir) =>
      Dedup.minhashLshPairsSeeded(Tables(s, dir).documentsWide,
        col("doc_id"), col("text"), n = 3, numHashes = 16, bands = 4,
        threshold = 0.5)),

    // rows-only: simhash bit votes use xxhash64
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Tables(s, dir).documents, col("doc_id"),
        col("text"), maxHamming = 3, bands = 4)),

    // oracle-checked SimHash: 60-bit md5 token hashes (Spark
    // conv(hex,16,10) == DuckDB CAST('0x'||hex AS BIGINT), verified
    // value-identical — an engine PAIR equivalence, re-verify when
    // porting the oracle) drive the SAME pigeonhole banding +
    // hamming-verify shape as the xxhash64 entry above, so the last
    // no-oracle operator family gets a rows+schema+hash row;
    // xxhash64 stays the scale path
    "q_dedup_simhash_seeded" -> ((s, dir) =>
      Dedup.simhashPairsSeeded(Tables(s, dir).documentsWide, col("doc_id"),
        col("text"), maxHamming = 3, bands = 4)),

    // Axis-plane LSH candidates (sign of the first 16 dims, 8 bands of
    // 2 bits) + exact-cosine verify — the oracle reproduces the exact
    // same bucketing, so the result is deterministic.
    "q_dedup_embedding" -> ((s, dir) =>
      Similarity.nearDupPairs(Tables(s, dir).embeddingsWide, threshold = 0.4,
        planes = Similarity.axisPlanes(64, 16), bitsPerBand = 2)),

    // oracle-checked: the daily-batch regime for embeddings (q56's
    // shape for vectors) — candidates only from the NEW side, id_b
    // is the new doc at risk. Inherits q25's documented caveat at its
    // 0.4 oracle threshold: output-bound at sf1+ (the pair SET is
    // quadratic by semantics — DuckDB confirms the same growth), so
    // scale deployments run threshold 0.9 with the autoPlanes ladder,
    // exactly as q50 is the scale path of q25.
    "q_dedup_embedding_incremental" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.incrementalNearDupPairs(
        newVecs = emb.where(col("vec_id") % 3 =!= 0),
        refVecs = emb.where(col("vec_id") % 3 === 0),
        threshold = 0.4,
        planes = Similarity.axisPlanes(64, 16), bitsPerBand = 2)
    }),

    // The SCALE-REGIME variant (r6): threshold 0.9 with size-laddered
    // sign-bit banding. q25's oracle-pinned 0.4 threshold is
    // output-quadratic by semantics (DuckDB confirms 107× pair growth
    // at sf1), so its bench row can never show the pruning working;
    // here a random pair is a candidate with p ≈ 8/256 while a
    // cosine≥0.9 pair still collides with ≥94% probability
    // (1-(1-p₁^8)^8, p₁ = 1-acos(0.9)/π ≈ 0.857) — the regime a real
    // near-dup pass runs in. The organic corpus has NO pairs above
    // cosine 0.52 at any SF, which would make the oracle vacuously
    // empty, so 5 scaled copies (×1.25f — float-exact to replay:
    // a 24-bit mantissa × 3 significant bits is ≤ 27 bits, exact in
    // double, so DuckDB's CAST(CAST(x AS DOUBLE)*1.25 AS FLOAT)
    // reproduces Spark's float multiply bit-for-bit) are planted
    // under shifted ids: the oracle hash-checks 5 real cosine values
    // while 99.99% of the corpus exercises the pruning.
    // Banding rides Similarity.autoBandConfig: the sf0.01 Verify run
    // (505 vectors < the 16k rung boundary) lands on the (8 bands ×
    // 8 bits) rung — exactly what the static oracle SQL replays —
    // while sf1's ~20k vectors (2000 × the 10× ScaleUp replica) cross
    // 16k and take (5 × 12), holding candidate growth sublinear
    // (n²·bands/2^bits) instead of the ~50× a fixed 8×8 would cost at
    // 10× the data. tools/check.py asserts the graded corpus still
    // lands on the oracle's rung before comparing, so testdata growth
    // past 16k vectors fails loudly instead of hash-mismatching. The
    // count() driving the rung is one column-pruned scan, trivial
    // beside the candidate join it right-sizes.
    "q_dedup_embedding_strict" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
      val planted = emb.where(col("vec_id") < 5)
        .select((col("vec_id") + lit(10000000L)).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.25f)).as("embedding"))
      val all = emb.unionByName(planted)
      // autoPlanes rides the FULL ladder (r7): axis planes while the
      // rung fits 64 bits (every graded scale), seeded Gaussian
      // 80-bit family past ~1.6M vectors
      val (planes, bits) = Similarity.autoPlanes(all.count(), dim = 64)
      Similarity.nearDupPairs(all, threshold = 0.9,
        planes = planes, bitsPerBand = bits)
    }),

    "q_ann_topk_cosine" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.annTopKCosine(emb, emb.where(col("vec_id") < 8), k = 10)
    }),

    // oracle-checked: the Gaussian hyperplane constants are embedded
    // verbatim in the generated DuckDB SQL (lshOracleSql)
    "q_ann_lsh_bucketed" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.annLshTopK(emb, emb.where(col("vec_id") < 8),
        Similarity.hyperplanes(64, 6), k = 5)
    }),

    // oracle-checked: same planes as q_ann_lsh_bucketed plus the two
    // lowest-margin bit-flip probes per query — the oracle replays
    // the probe ORDER, not just the buckets, because the margin dots
    // are the same strict left fold DuckDB computes bitwise
    "q_ann_multiprobe" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.annLshMultiProbe(emb, emb.where(col("vec_id") < 8),
        Similarity.hyperplanes(64, 6), k = 5, probes = 3)
    }),

    // rows-only: IVF scale path (hash-sampled centroid assignment)
    "q_ann_ivf_probe" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.annIvfTopK(emb, emb.where(col("vec_id") < 8),
        numCentroids = 16, nProbe = 4, k = 5)
    }),

    // oracle-checked IVF query path: md5-seeded centroids, no Lloyd
    // refinement (seeding + assignment + probe + rank are all
    // SQL-reproducible; the refinement stays spec-covered on the
    // rows-only entry above). Zero vectors pre-filtered — cosine
    // against them is NaN on any engine.
    "q_ann_ivf_seeded" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
        .where(graft.functions.VectorFns.l2Norm(col("embedding")) > 0)
      Similarity.annIvfTopK(emb, emb.where(col("vec_id") < 8),
        numCentroids = 16, nProbe = 4, k = 5, lloydIters = 0,
        seedKey = c => md5(c.cast("string")))
    }),

    // oracle-checked incremental IVF (q71's daily-ingest shape for
    // the IVF path): the layout is trained (md5 seed, no Lloyd) on
    // the REFERENCE slice and FROZEN; the batch's assignments union
    // in pointwise — assignment is per-vector, so ref ∪ batch ≡
    // assignments of the combined corpus (IvfStoreSpec pins the same
    // identity through a real partitionBy store with value-aligned
    // appends + partition-selective compaction, and asserts the probe
    // scan READS only probed partitions — measured file counts, via
    // the static isin pushdown of the probe set). DuckDB replays
    // seed → assign → probe → rank bit-for-bit.
    "q_ann_ivf_incremental" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
        .where(graft.functions.VectorFns.l2Norm(col("embedding")) > 0)
      val ref = emb.where(col("vec_id") % 3 === 0)
      val batch = emb.where(col("vec_id") % 3 =!= 0)
      val cents = Similarity.ivfCentroids(ref, numCentroids = 16,
        lloydIters = 0, seedKey = c => md5(c.cast("string")))
      val asg = Similarity.ivfAssignments(ref, cents)
        .unionByName(Similarity.ivfAssignments(batch, cents))
      Similarity.annIvfTopKFromIndex(cents, asg,
        emb.where(col("vec_id") < 8), nProbe = 4, k = 5)
    }),

    // oracle-checked PQ encode: md5-seeded codebooks (hash-sampled
    // codewords, no Lloyd — the q41 discipline), codes exploded to
    // (vec_id, sub, c) INTEGER rows so the hash compare never
    // touches a float. DuckDB replays sample → slice → argmin margin
    // (2·dot − |c|², ties to the larger code) bit-for-bit; the fused
    // planeDots fold and list_inner_product sum in the same order.
    "q_pq_encode_seeded" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val books = Pq.pqCodebooks(emb, numSub = 8, numCodewords = 16,
        lloydIters = 0, seedKey = c => md5(c.cast("string")))
      Pq.pqEncode(emb, books)
        .select(col("vec_id"), posexplode(col("code")).as(Seq("sub", "c")))
    }),

    // rows-only (Lloyd float means): brute ADC ranking over the
    // coded corpus — PqSpec ties the distance to the decoded
    // reconstruction exactly and prices the 14x store compression;
    // q_pq_encode_seeded is the oracle-green twin for the encode.
    "q_ann_pq_topk" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val books = Pq.pqCodebooks(emb, numSub = 8, numCodewords = 32,
        lloydIters = 1)
      Pq.pqAdcTopK(books, Pq.pqEncode(emb, books),
        emb.where(col("vec_id") < 8), k = 5)
    }),

    // rows-only: the IVF-PQ serving shape — cosine coarse routing
    // with static partition pruning (q73's probe) over a coded store
    // (~numSub small ints per vector instead of dim floats; the two
    // read-suppression rungs multiply). PqSpec pins nProbe=all ==
    // brute ADC through a real partitionBy store.
    "q_ann_ivfpq_probe" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
        .where(graft.functions.VectorFns.l2Norm(col("embedding")) > 0)
      val cents = Similarity.ivfCentroids(emb, numCentroids = 16,
        lloydIters = 0, seedKey = c => md5(c.cast("string")))
      val books = Pq.pqCodebooks(emb, numSub = 8, numCodewords = 32,
        lloydIters = 1)
      val store = Similarity.ivfAssignments(emb, cents)
        .select("c_id", "n_id")
        .join(Pq.pqEncode(emb, books).withColumnRenamed("vec_id", "n_id"),
          "n_id")
      Pq.annIvfPqTopKFromIndex(cents, store, books,
        emb.where(col("vec_id") < 8), nProbe = 4, k = 5,
        tabulated = true)
    }),

    // oracle-checked RESIDUAL PQ encode (IVFADC's encode layer,
    // Jégou et al. 2011 §IV): coarse assignment → residual
    // subtraction → per-subspace argmin, all md5-seeded and replayed
    // bit-for-bit in DuckDB over pure-integer output rows. The
    // codebook sample hashes id+1000000: hashing the bare id would
    // re-pick exactly the 16 coarse-seed vectors, whose residuals
    // are all-zero (each assigns to its own centroid — cosine 1), a
    // degenerate all-ties codebook (found by running the oracle).
    "q_pq_residual_seeded" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
        .where(graft.functions.VectorFns.l2Norm(col("embedding")) > 0)
      val cents = Similarity.ivfCentroids(emb, numCentroids = 16,
        lloydIters = 0, seedKey = c => md5(c.cast("string")))
      val asg = Similarity.ivfAssignments(emb, cents)
      val books = Pq.pqCodebooks(Pq.residualAssignments(asg, cents),
        numSub = 8, numCodewords = 16, lloydIters = 0,
        idCol = "n_id", vecCol = "rv",
        seedKey = c => md5((c + 1000000L).cast("string")))
      Pq.pqEncodeResiduals(asg, cents, books)
        .select(col("n_id").as("vec_id"), col("c_id").cast("long").as("c_id"),
          posexplode(col("code")).as(Seq("sub", "c")))
    }),

    // rows-only (Lloyd float means): the residual IVF-PQ probe —
    // IVFADC proper, the quality rung above raw-vector PQ (the
    // centroid explains the cluster mean, so the same codebook
    // budget quantizes a lower-energy field). PqSpec pins
    // nProbe=all == exact L2 to the centroid+codeword
    // reconstruction through a real partitionBy store, and measures
    // the reconstruction-error drop vs raw PQ at the same budget;
    // q_pq_residual_seeded is the oracle-green twin for the encode.
    "q_ann_ivfpq_residual" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
        .where(graft.functions.VectorFns.l2Norm(col("embedding")) > 0)
      val cents = Similarity.ivfCentroids(emb, numCentroids = 16,
        lloydIters = 0, seedKey = c => md5(c.cast("string")))
      val asg = Similarity.ivfAssignments(emb, cents)
      val books = Pq.pqCodebooks(Pq.residualAssignments(asg, cents),
        numSub = 8, numCodewords = 32, lloydIters = 1,
        idCol = "n_id", vecCol = "rv")
      Pq.annIvfPqResidualTopKFromIndex(cents,
        Pq.pqEncodeResiduals(asg, cents, books), books,
        emb.where(col("vec_id") < 8), nProbe = 4, k = 5,
        tabulated = true)
    }),

    // rows-only (Lloyd + SVD floats): OPQ — a learned orthogonal
    // rotation before PQ (Ge et al. CVPR 2013), parametric
    // eigenvalue-allocation init refined non-parametrically by the
    // Procrustes alternation. Trains on a 1-in-16 hash-gated sample
    // (the trainer contract), encodes the full corpus; PqSpec pins
    // orthogonality, norm preservation, determinism, and the
    // quality win over raw PQ on an anisotropic corpus;
    // q_pq_encode_seeded is the oracle-green twin for the encode
    // scan algebra itself.
    "q_pq_opq_encode" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val sample = emb.where(pmod(xxhash64(col("vec_id")), lit(16)) === 0)
      val (rot, books) = Pq.opqTrain(sample, numSub = 8,
        numCodewords = 16, opqIters = 2, lloydIters = 1,
        initRotation = Some(Pq.eigenAllocationInit(sample, numSub = 8)))
      Pq.opqEncode(emb, rot, books)
        .select(col("vec_id"), posexplode(col("code")).as(Seq("sub", "c")))
    }),

    // oracle-checked SemDeDup (Abbas et al. 2023): coarse seeded
    // clustering, then within each cluster drop every vector with a
    // smaller-id cosine-near-duplicate — keep-one-per-neighborhood,
    // candidate pairs bounded by Σ cluster², never corpus². The
    // md5-seeded centroids replay in DuckDB (the q73 machinery);
    // threshold 0.4 matches the q25 family's organic-pair regime.
    "q_semdedup" -> ((s, dir) =>
      Similarity.semDedup(Tables(s, dir).embeddings
          .where(graft.functions.VectorFns.l2Norm(col("embedding")) > 0),
        numCentroids = 16, threshold = 0.4, lloydIters = 0,
        seedKey = c => md5(c.cast("string")))),

    // rows-only: OPQ served end-to-end — rotate the corpus AND the
    // queries through the learned R (one PlaneDots projection each;
    // orthogonality keeps every metric), then the standard IVF-PQ
    // probe over codes trained in the rotated space. The PARAMETRIC
    // variant (eigen allocation, opqIters = 1 → no Procrustes pass —
    // Ge et al.'s closed form for Gaussian-like data) keeps the
    // serving surface light; q_pq_opq_encode carries the
    // non-parametric refinement. PqSpec pins nProbe=all == brute ADC
    // on the rotated corpus.
    "q_ann_opq_probe" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
        .where(graft.functions.VectorFns.l2Norm(col("embedding")) > 0)
      val sample = emb.where(pmod(xxhash64(col("vec_id")), lit(16)) === 0)
      val (rot, books) = Pq.opqTrain(sample, numSub = 8,
        numCodewords = 16, opqIters = 1, lloydIters = 1,
        initRotation = Some(Pq.eigenAllocationInit(sample, numSub = 8)))
      val rx = Pq.rotate(emb, rot)
      val cents = Similarity.ivfCentroids(rx, numCentroids = 16,
        lloydIters = 0, seedKey = c => md5(c.cast("string")))
      val store = Similarity.ivfAssignments(rx, cents)
        .select("c_id", "n_id")
        .join(Pq.pqEncode(rx, books).withColumnRenamed("vec_id", "n_id"),
          "n_id")
      Pq.annIvfPqTopKFromIndex(cents, store, books,
        Pq.rotate(emb.where(col("vec_id") < 8), rot),
        nProbe = 4, k = 5, tabulated = true)
    }),

    // rows-only: OPQ IVF-PQ served from a PERSISTED index — the
    // store-backed twin of q_ann_opq_probe (identical parameters,
    // bit-identical output, spec-pinned): rotation + codebooks +
    // centroids + partitioned codes land in a PqIndexStore artifact
    // on first call; every later call LOADS and probes, so serving
    // cost is KBs of artifact + the probed partitions, never the
    // trainer's corpus pass (the measured reason the in-surface
    // probes scale ~3x at sf1)
    "q_ann_opq_store" -> ((s, dir) => {
      val idx = opqServingIndex(s, dir)
      val emb = Tables(s, dir).embeddings
        .where(graft.functions.VectorFns.l2Norm(col("embedding")) > 0)
      Pq.annTopKFromStoredIndex(idx, emb.where(col("vec_id") < 8),
        nProbe = 4, k = 5, tabulated = true)
    }),

    // rows-only: residual IVF-PQ (IVFADC proper) served from the
    // PERSISTED index — the store-backed twin of q_ann_ivfpq_residual
    // (identical parameters, bit-identical output, spec-pinned). The
    // residual layout is the artifact's own marker, so the probe
    // residualizes queries per probed cluster by construction; the
    // in-surface twin retrains codebooks per call (the family's
    // worst sf1 scaler, ~15 s), this path loads KBs and reads the
    // probed partitions.
    "q_ann_residual_store" -> ((s, dir) => {
      val idx = residualServingIndex(s, dir)
      val emb = Tables(s, dir).embeddings
        .where(graft.functions.VectorFns.l2Norm(col("embedding")) > 0)
      Pq.annTopKFromStoredIndex(idx, emb.where(col("vec_id") < 8),
        nProbe = 4, k = 5, tabulated = true)
    }),

    // rows-only (Lloyd + SVD floats): OPQ rotation MAINTENANCE — the
    // ivfRefreshCentroids analog for the learned rotation: re-fit R
    // from the STORED index's decoded codes against the current
    // corpus (M = Σ y·xᵀ absorbs the old rotation entirely, so the
    // refit needs only the store + the vectors), retrain codebooks
    // in the refreshed space, re-encode. Output is pure integer code
    // rows; q_pq_encode_seeded is the oracle-green twin for the
    // encode algebra, PqSpec pins the warm-start identity (refit
    // from a store == one more opqTrain alternation, bitwise).
    "q_opq_refresh" -> ((s, dir) => {
      val idx = opqServingIndex(s, dir)
      val emb = Tables(s, dir).embeddingsWide
        .where(graft.functions.VectorFns.l2Norm(col("embedding")) > 0)
      val storedCodes = idx.codes.select(col("n_id").as("vec_id"),
        col("code"))
      val rot2 = Pq.opqRefreshRotation(emb, storedCodes, idx.codebooks)
      val sample = emb.where(pmod(xxhash64(col("vec_id")), lit(16)) === 0)
      val books2 = Pq.pqCodebooks(Pq.rotate(sample, rot2), numSub = 8,
        numCodewords = 16, lloydIters = 1)
      Pq.opqEncode(emb, rot2, books2)
        .select(col("vec_id"), posexplode(col("code")).as(Seq("sub", "c")))
    }),

    // rows-only (Lloyd float means): the scheduled-maintenance half
    // of the incremental IVF story — the day-1 layout above drifts as
    // batches accumulate, so refresh re-trains centroids FROM THE
    // STORE'S OWN ROWS (it carries every vector) and re-assigns.
    // IvfStoreSpec pins the warm-start identity EXACTLY (store(a
    // iters) + b more == straight-through a+b — decimal-sum M-step,
    // so means are order-independent) and the successor-directory
    // store roundtrip; q_ann_ivf_incremental is the oracle-green twin
    // for everything up to the refresh itself.
    "q_ann_ivf_refresh" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
        .where(graft.functions.VectorFns.l2Norm(col("embedding")) > 0)
      val ref = emb.where(col("vec_id") % 3 === 0)
      val batch = emb.where(col("vec_id") % 3 =!= 0)
      val cents = Similarity.ivfCentroids(ref, numCentroids = 16,
        lloydIters = 0, seedKey = c => md5(c.cast("string")))
      val store = Similarity.ivfAssignments(ref, cents)
        .unionByName(Similarity.ivfAssignments(batch, cents))
      val cents2 = Similarity.ivfRefreshCentroids(store, lloydIters = 1)
      val vecs = store.select(col("n_id").as("vec_id"),
        col("ec").as("embedding"))
      Similarity.annIvfTopKFromIndex(cents2,
        Similarity.ivfAssignments(vecs, cents2),
        emb.where(col("vec_id") < 8), nProbe = 4, k = 5)
    }),

    // rows-only: end-to-end corpus prep composing the verified stages
    "q_training_prep" -> ((s, dir) =>
      // documentsWide (r19): see q_training_prep_decontam
      TrainingPipeline.prepare(Tables(s, dir).documentsWide,
        col("doc_id"), col("text"))),

    // oracle-checked end-to-end prep: same gates/dedup but the
    // near-dup stage uses the SQL-reproducible jaccard pairs, so the
    // WHOLE pipeline (gates → exact dedup → near-dup drop) verifies
    // rows+schema+hash against one composed DuckDB query
    "q_training_prep_jaccard" -> ((s, dir) =>
      TrainingPipeline.prepareWith(Tables(s, dir).documentsWide,
        col("doc_id"), col("text"), TrainingPipeline.Config(),
        (d, i, t) => Dedup.jaccardPairs(d, i, t, n = 3, threshold = 0.8,
          maxShingleDf = Some(64)))),

    // deterministic data-mixture sampling: md5-gated per-source rates
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratified(Tables(s, dir).documents
          .select(col("doc_id"), col("source")),
        key = col("doc_id"), stratum = col("source"),
        rates = sampleRates, defaultRate = sampleDefaultRate)),

    // oracle-checked temperature mixing (α = 1/2, the multilingual
    // flattening rule): per-lang budgets ∝ ⌊√count⌋ normalized to
    // 250 target rows — the head lang (en, 44% of the corpus)
    // flattens to ~31% — realized as the first budget_d docs per
    // lang in md5 order with EXACT counts (q68's argument applied to
    // mixing, where q39's hash-gate only hits rates in expectation).
    // Integer-exact end to end: ⌊√c⌋ is IEEE-identical in both
    // engines below 2^50, the budget is a decimal-widened integral
    // div (the q54 ppm discipline), ranks replay the md5 idiom.
    "q_domain_temperature" -> ((s, dir) =>
      Sampling.temperatureMix(
        Tables(s, dir).documents.select(col("doc_id"), col("lang")),
        domain = col("lang"), id = col("doc_id"), nTarget = 250)),

    // concat-and-chunk packing: docs → ~2048-token packs, two-phase
    // partition-offset cumsum (no global-order funnel), integer-exact
    "q_pack_sequences" -> ((s, dir) =>
      Batching.packByWeight(
        Tables(s, dir).documents.select(col("doc_id"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tokens")),
        order = col("doc_id"), weight = col("n_tokens"),
        budget = 2048, partitions = 8)),

    // oracle-checked: the composed CURRICULUM export — quality-model
    // margins (md5 twin) order documents best-first (score DESC is
    // exactly positives-then-negatives: score and margin share sign),
    // then contiguous 2048-token packs in that order; one SQL oracle
    // replays the whole chain
    "q_curriculum_pack" -> ((s, dir) => {
      val docs = Tables(s, dir).documentsWide
      val scored = QualityModel.score(docs, col("doc_id"), col("text"),
          dim = 4096, QualityModel.seededKey)
        .select(col("id"), col("score"))
      // persisted: repartitionByRange computes its child TWICE (the
      // range-boundary sampling pass, then the shuffle itself), and
      // this child carries the md5-hashed feature scoring — the
      // priciest per-row chain in the query (measured: the scoring
      // stage ran twice, back to back, before the cache). Cheap-
      // lineage packing callers (q_pack_sequences etc.) deliberately
      // skip this: a persist there costs more storage than the
      // recompute it saves.
      val withTok = CacheScope.persist(scored.join(
        docs.select(col("doc_id").as("id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
        "id"))
      Batching.packByWeight(withTok,
          order = struct((-col("score")).as("s"), col("id").as("i")),
          weight = col("n_tokens"), budget = 2048, partitions = 8)
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", "n_tokens", "score", "pack_id")
    }),

    // sliding-window character chunks (context-window prep):
    // 200-char chunks, 40-char overlap — pure integer + substring
    // arithmetic, map-side explode
    "q_chunk_text" -> ((s, dir) =>
      Tables(s, dir).documents
        .where(col("text").isNotNull && length(col("text")) > 0)
        .select(col("doc_id"),
          posexplode(TextFns.chunks(col("text"), size = 200, overlap = 40))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk"))),

    // rows-only: near-dup pair list → dedup clusters (canonical = min id)
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.minhashLshPairs(Tables(s, dir).documents,
          col("doc_id"), col("text")))),

    // oracle-checked CC: same clustering over the SQL-reproducible
    // n-gram jaccard pairs (the minhash variant above is rows-only
    // solely because xxhash64 isn't expressible in DuckDB) — the
    // oracle propagates min labels with WITH RECURSIVE
    "q_dedup_clusters_jaccard" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.jaccardPairs(Tables(s, dir).documentsWide,
          col("doc_id"), col("text"), n = 3, threshold = 0.5,
          maxShingleDf = Some(64)))),

    "q_text_stats" -> ((s, dir) => {
      val toks = TextFns.tokens(col("text"))
      // stopword hits over LOWERCASED tokens, matching the oracle —
      // raw-case counting would miss sentence-initial 'The'/'A'
      val lowToks = TextFns.tokens(lower(col("text")))
      Tables(s, dir).documents.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_txt"),
        size(toks).cast("long").as("n_tokens"),
        TextFns.punctCount(col("text")).cast("long").as("n_punct"),
        (TextFns.stopwordHits(lowToks, TextFns.stopwordsEn).cast("double") /
          size(toks).cast("double")).as("stop_ratio"))
    }),

    "q_lang_id" -> ((s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        TextFns.langId(col("text")).as("lang_pred"))),

    // Gopher-style repetition quality signal (staged projections so
    // the token/gram arrays materialize once per row)
    "q_quality_repetition" -> ((s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), TextFns.tokens(col("text")).as("__w"))
        .where(size(col("__w")) >= 2)
        .select(col("doc_id"), TextFns.bigramArray(col("__w")).as("__g"))
        .select(col("doc_id"),
          TextFns.topRunFraction(col("__g")).as("top_bigram_frac"))),

    "q_token_count" -> ((s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("ws_tokens"),
        TextFns.bpeishCount(col("text")).cast("long").as("bpeish_tokens"))),

    "q_fingerprint" -> ((s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        TextFns.fingerprint(col("text")).as("fp_md5"),
        TextFns.headFingerprint(col("text"), 32).as("fp_head"),
        TextFns.rollingHash(col("text")).as("fp_roll"))),

    // PII scrub pass over the corpus (r6). The organic text runs
    // through the full redaction chain (engine-portable RE2-safe
    // patterns — see TextFns.redactPii), and a deterministic planted
    // tail (email + SSN + phone derived from doc_id) guarantees every
    // row exercises all three rules, so the oracle can't be vacuously
    // green on a PII-free corpus.
    "q_redact_pii" -> ((s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        TextFns.redactPii(concat(col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@example.com id 123-45-6789 tel +1 (555) 010-"),
          lpad(col("doc_id") % 10000, 4, "0"))).as("redacted"))),

    // Binary-column plumbing: payload is the text cast to bytes (the
    // testdata ships no real media bytes). operators.Multimodal's
    // decoders are REAL for image/audio/video container headers
    // (javax.imageio, javax.sound, ISO-BMFF box walk) and PNG/BMP
    // pixels; only audio-sample / video-frame decode stays stubbed
    // (no JDK codec). This query exercises the metadata plumbing.
    "q_multimodal_meta" -> ((s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
        upper(hex(substring(col("text"), 1, 8).cast("binary"))).as("header_hex"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_kind"))),

    // Media feature extraction through the query surface (r6; output
    // reshaped r7): payloads that ImageIO can decode embed from real
    // sRGB pixels, the rest take the deterministic byte-fold fallback
    // (here: text bytes, so every row exercises the fallback; the
    // pixel path is spec-tested with generated PNG/BMP rasters).
    // Rows-only by design — the pixel path is not SQL-expressible and
    // the final float32 rounding is engine-specific — but the output
    // is harness-digestible: the embedding rides as a deterministic
    // fixed-precision CSV string plus scalar summaries, never a raw
    // array<float> (which the driver's pandas sort cannot hash — the
    // r6 lesson). The integer core of the fallback IS oracle-verified
    // via the q_multimodal_bytefold twin below.
    "q_multimodal_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.extractFeatures(
        Tables(s, dir).documents.select(col("doc_id"),
          col("text").cast("binary").as("payload")), dim = 16)
        .toDF().select(col("doc_id"), col("source"),
          concat_ws(",", transform(col("embedding"),
            x => format_number(x, 5))).as("emb_csv"),
          size(col("embedding")).as("n_dim"))
    }),

    // Oracle-checked twin of the byte-fold fallback (r7): the
    // per-(doc, slot) centered byte sums extractFeatures normalizes —
    // pure Long arithmetic, so DuckDB replays it hash-exactly by
    // enumerating byte positions (the corpus is ASCII, so ord(char)
    // == utf-8 byte). The spec pins the fallback embedding equal to
    // these sums normalized, closing the chain: oracle verifies the
    // integer core, spec ties the float surface to it.
    "q_multimodal_bytefold" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.byteFoldSums(
        Tables(s, dir).documents.select(col("doc_id"),
          col("text").cast("binary").as("payload")), dim = 16)
        .toDF()
    }),

    // Passage-level exact dedup (r6): aligned 8-token windows, one
    // canonical occurrence of each duplicated full window survives
    // corpus-wide, documents rebuilt from their surviving passages —
    // the span-level dedup mode (license headers, navigation
    // boilerplate) that doc-level dedup can't see.
    "q_dedup_passage" -> ((s, dir) =>
      Dedup.passageDedup(Tables(s, dir).documents, col("doc_id"),
          col("text"), k = 8)
        .withColumnRenamed("id", "doc_id")),

    // oracle-checked: intra-doc repetition pruning — q53's window
    // dedup scoped to ONE doc, which collapses the whole operator
    // into the scan projection (zero shuffle at any corpus size)
    "q_dedup_intradoc" -> ((s, dir) =>
      Dedup.intraDocDedup(Tables(s, dir).documents, col("doc_id"),
          col("text"), k = 8)
        .withColumnRenamed("id", "doc_id")),

    // oracle-checked winnowing fingerprints (Schleimer et al. 2003,
    // the MOSS algorithm): every window of w=4 consecutive token
    // 5-gram hashes keeps its rightmost minimum — any shared run of
    // ≥ 8 tokens shares a fingerprint at ANY alignment, the
    // non-aligned complement to q53's aligned windows. In-row scan
    // algebra; the md5-prefix hash replays in DuckDB.
    "q_fingerprint_winnow" -> ((s, dir) =>
      Dedup.winnowFingerprints(Tables(s, dir).documentsWide,
          col("doc_id"), col("text"), k = 5, w = 4,
          hashKey = QualityModel.seededKey)
        .withColumnRenamed("id", "doc_id")),

    // oracle-checked winnowing candidate pairs: docs sharing a
    // fingerprint meet in an fp-keyed equi-join (the LSH candidate
    // shape — never a cartesian), hot boilerplate fingerprints
    // capped at df ≤ 64 like jaccardPairs' maxShingleDf.
    "q_dedup_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowCandidatePairs(Tables(s, dir).documents,
        col("doc_id"), col("text"), k = 5, w = 4,
        hashKey = QualityModel.seededKey, maxFpDf = Some(64))),

    // oracle-checked incremental winnowing: the daily-ingest shape
    // for the non-aligned detector — the reference corpus enters as
    // its stored (id, fp) fingerprint frame, only the batch winnows
    // fresh, candidates are new×ref ∪ new×new (ref×ref never
    // enumerates), id_b always the new doc at risk. Completes the
    // incremental family: jaccard q56, MinHash q57, embeddings q71,
    // winnow here.
    "q_dedup_winnow_incremental" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      // persisted (r19): the query builds the reference fingerprint
      // store from text inline, and the increment consumes it twice
      // (the combined df-cap aggregate + the cross-candidate join) —
      // uncached, the reference winnowing text pass ran per consumer;
      // at scale this frame is a stored parquet artifact read once.
      val refFps = CacheScope.persist(Dedup.winnowFingerprints(
          docs.where(col("doc_id") % 3 === 0), col("doc_id"), col("text"),
          k = 5, w = 4, hashKey = QualityModel.seededKey)
        .select(col("id"), col("fp")).distinct())
      Dedup.incrementalWinnowPairs(docs.where(col("doc_id") % 3 =!= 0),
        col("doc_id"), col("text"), refFps, k = 5, w = 4,
        hashKey = QualityModel.seededKey, maxFpDf = Some(64))
    }),

    // oracle-checked content-defined chunking dedup: boundaries
    // where the md5-prefix hash of the trailing 3-gram ≡ 0 (mod 16)
    // — a function of content, not position, so one inserted token
    // shifts nothing after the edit point (the aligned q53 windows'
    // blind spot). Same output shape and canonical-occurrence
    // aggregate as q_dedup_passage.
    "q_dedup_cdc" -> ((s, dir) =>
      Dedup.cdcDedup(Tables(s, dir).documents, col("doc_id"),
          col("text"), k = 3, divisor = 16,
          hashKey = QualityModel.seededKey)
        .withColumnRenamed("id", "doc_id")),

    // oracle-checked incremental CDC: the daily-ingest chunk-dedup
    // shape — ref enters as its stored distinct eligible chunk
    // texts (always canonical: ref was deduped when it landed),
    // only the batch chunks fresh; left-anti against the store ∪
    // first-occurrence within batch.
    "q_dedup_cdc_incremental" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val refChunks = Dedup.cdcChunks(docs.where(col("doc_id") % 3 === 0),
          col("doc_id"), col("text"), k = 3, divisor = 16,
          hashKey = QualityModel.seededKey)
        .where(col("eligible")).select("ctext").distinct()
      Dedup.incrementalCdcDedup(docs.where(col("doc_id") % 3 =!= 0),
          col("doc_id"), col("text"), refChunks, k = 3, divisor = 16,
          hashKey = QualityModel.seededKey)
        .withColumnRenamed("id", "doc_id")
    }),

    // oracle-checked winnow-VERIFIED pairs: candidates from shared
    // winnowing fingerprints, then each pair's actual longest shared
    // token run measured exactly via the diagonal/islands identity
    // (a run of L tokens = L-k+1 consecutive k-gram matches on one
    // i-j diagonal) — never an O(|a|*|b|) LCS per pair. Complete for
    // runs >= w + k - 1 = 8 by the winnowing guarantee. The explicit
    // maxHashPerDoc = 64 opt-in (mirrored in the hv CTE) bounds the
    // verify join on hyper-repetitive text: first 64 positions per
    // (doc, hash) kept, so spam pairs still verify, conservatively
    // (the operator default is None = exact run lengths).
    "q_dedup_winnow_verified" -> ((s, dir) =>
      Dedup.winnowVerifiedPairs(Tables(s, dir).documents,
        col("doc_id"), col("text"), k = 5, w = 4,
        hashKey = QualityModel.seededKey, maxFpDf = Some(64),
        maxHashPerDoc = Some(64))),

    // oracle-checked EXACT-SUBSTRING spans (Lee et al. 2021,
    // ExactSubstr): maximal token spans whose every 10-gram occurs
    // >= 2 times corpus-wide — the duplicated TEXT itself (incl.
    // within-doc repetition and many-way boilerplate), not pairs.
    // One frequency aggregate + a per-doc interval merge; no pair
    // enumeration, so no df cap or bucket valve exists or is needed.
    "q_dedup_repeated_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(Tables(s, dir).documents, col("doc_id"),
        col("text"), minRun = 10, hashKey = QualityModel.seededKey)
        .withColumnRenamed("id", "doc_id")),

    // rows-only: the xxhash64 scale path of the spans query (8-byte
    // fused-codegen hashes; the seeded twin above is hash-green)
    "q_dedup_repeated_spans_xx" -> ((s, dir) =>
      Dedup.repeatedSpans(Tables(s, dir).documents, col("doc_id"),
        col("text"), minRun = 10)),

    // oracle-checked span REMOVAL: each doc's normalized token
    // stream with covered spans stripped — the training-corpus
    // transform the spans feed; fully-duplicated docs come back
    // empty with n_kept = 0 (drop policy stays with the caller)
    "q_dedup_strip_spans" -> ((s, dir) =>
      Dedup.stripRepeatedSpans(Tables(s, dir).documents, col("doc_id"),
        col("text"), minRun = 10, hashKey = QualityModel.seededKey)
        .withColumnRenamed("id", "doc_id")),

    // oracle-checked incremental spans — the daily-ingest shape for
    // ExactSubstr: the reference corpus enters as its stored (h, c)
    // gram-count frame (the slimmest store in the family — counts
    // are all the criterion needs; no ref text, no ref positions);
    // a batch L-gram anchors when batch count + stored count >= 2,
    // which reconstructs the union frequency exactly
    "q_dedup_spans_incremental" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      Dedup.incrementalRepeatedSpans(
        docs.where(col("doc_id") % 3 =!= 0),
        Dedup.gramCounts(docs.where(col("doc_id") % 3 === 0),
          col("doc_id"), col("text"), minRun = 10,
          hashKey = QualityModel.seededKey),
        col("doc_id"), col("text"), minRun = 10,
        hashKey = QualityModel.seededKey)
        .withColumnRenamed("id", "doc_id")
    }),

    // oracle-checked PER-DOC span gate: each doc against its own
    // repetition + the stored counts only — batch-mates invisible,
    // so output is invariant under re-batching (the property the
    // streaming twin streamRepeatedSpans needs and is spec-pinned
    // equal to); the batch-wide q_dedup_spans_incremental is the
    // stricter same-job form
    "q_dedup_spans_perdoc" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      Dedup.perDocRepeatedSpans(
        docs.where(col("doc_id") % 3 =!= 0),
        Dedup.gramCounts(docs.where(col("doc_id") % 3 === 0),
          col("doc_id"), col("text"), minRun = 10,
          hashKey = QualityModel.seededKey),
        col("doc_id"), col("text"), minRun = 10,
        hashKey = QualityModel.seededKey)
        .withColumnRenamed("id", "doc_id")
    }),

    // oracle-checked SOFT dedup (r11): per-doc duplication
    // down-weighting instead of hard removal — the same L-gram
    // criterion as the spans family aggregated to doc granularity
    // (n_grams, n_dup, dup_mass) plus the derived dup_ratio and
    // 1/(1+4·ratio) weight; pure-long statistics + a deterministic
    // IEEE division chain, so the whole surface hash-replays
    "q_dedup_soft" -> ((s, dir) =>
      Dedup.softDedupWeights(Tables(s, dir).documents, col("doc_id"),
          col("text"), minRun = 10, lambda = 4.0,
          hashKey = QualityModel.seededKey)
        .withColumnRenamed("id", "doc_id")),

    // rows-only: the xxhash64 scale path (seeded twin above green;
    // spec pins seeded == xxhash64 statistics)
    "q_dedup_soft_xx" -> ((s, dir) =>
      Dedup.softDedupWeights(Tables(s, dir).documents, col("doc_id"),
        col("text"), minRun = 10, lambda = 4.0)),

    // oracle-checked PER-DOC soft dedup (r11): the daily-ingest form
    // — each batch doc weighted against its own repetition + the
    // stored gram counts only (batch-mates invisible, weights
    // re-batching-invariant; the q120 discipline applied to the
    // soft weights)
    "q_dedup_soft_perdoc" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      Dedup.perDocSoftDedupWeights(
        docs.where(col("doc_id") % 3 =!= 0),
        Dedup.gramCounts(docs.where(col("doc_id") % 3 === 0),
          col("doc_id"), col("text"), minRun = 10,
          hashKey = QualityModel.seededKey),
        col("doc_id"), col("text"), minRun = 10, lambda = 4.0,
        hashKey = QualityModel.seededKey)
        .withColumnRenamed("id", "doc_id")
    }),

    // oracle-checked priority sampling (r11; Duffield–Lund–Thorup
    // JACM 2007): weight-proportional k-per-stratum sample without
    // replacement over the deterministic hash gate — priorities,
    // ranks, tau, and the unbiased w_est = max(w, tau) estimator
    // all replay bit-identically (divisions only, no pow/ln)
    "q_sample_priority" -> ((s, dir) =>
      Sampling.priorityPerStratum(
          Tables(s, dir).documents
            .select(col("doc_id"), col("source"),
              greatest(col("n_chars"), lit(1L)).as("w")),
          key = col("doc_id"), stratum = col("source"),
          weight = col("w"), k = 10,
          hashKey = t => QualityModel.seededKey(t.cast("string")))
        .select("source", "doc_id", "w", "rnk", "u", "priority",
          "tau", "w_est")),

    // rows-only: the xxhash64 scale path of the sampler (the u draw
    // changes with the hash family, so the selected set differs by
    // design; the seeded twin above is hash-green and the spec pins
    // the DLT invariants on both families)
    "q_sample_priority_xx" -> ((s, dir) =>
      Sampling.priorityPerStratum(
          Tables(s, dir).documents
            .select(col("doc_id"), col("source"),
              greatest(col("n_chars"), lit(1L)).as("w")),
          key = col("doc_id"), stratum = col("source"),
          weight = col("w"), k = 10)
        .select("source", "doc_id", "w", "rnk", "u", "priority",
          "tau", "w_est")),

    // Domain-mixture report (r6): per-source doc/token contribution
    // with integer-exact ppm token shares and token-mass rank — the
    // observability half of data mixing (takeByBudgetPerKey is the
    // enforcement half).
    "q_domain_mix" -> ((s, dir) =>
      CorpusStats.domainMixture(Tables(s, dir).documents,
          col("source"), col("text"))
        .withColumnRenamed("domain", "source")),

    // Benchmark decontamination: held-out set = doc_id % 20 == 0
    // (stands in for an eval benchmark), 5-gram shingle overlap of
    // every remaining training doc against it, flag at >= 0.5
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      Decontaminate.overlapStats(
          train = docs.where(col("doc_id") % 20 =!= 0),
          bench = docs.where(col("doc_id") % 20 === 0),
          col("doc_id"), col("text"), n = 5, threshold = 0.5)
        .withColumnRenamed("id", "doc_id")
    }),

    // Corpus observability: per-source document-length quantiles —
    // the distribution that sizes chunk windows and packing budgets.
    // Exact percentile by design (memory bounds on DISTINCT lengths,
    // not corpus size — see CorpusStats.lengthQuantiles).
    "q_length_quantiles" -> ((s, dir) =>
      CorpusStats.lengthQuantiles(Tables(s, dir).documents,
        col("source"), col("text"))
        .withColumnRenamed("domain", "source")),

    // rows-only by design: the GK sketch's exact output isn't
    // replayable in DuckDB (t-digest there); q_length_quantiles is
    // the oracle-green shape twin, and the spec pins the GK rank
    // guarantee. Metric: mean token length — a double whose distinct
    // count grows with the corpus, the regime the exact percentile's
    // bounded-buffer rule excludes.
    "q_tokenlen_quantiles_approx" -> ((s, dir) =>
      CorpusStats.metricQuantilesApprox(
        Tables(s, dir).documents.where(col("text").isNotNull),
        col("source"),
        length(col("text")).cast("double") /
          size(split(col("text"), " ")))
        .withColumnRenamed("domain", "source")),

    // SEMANTIC decontamination: train docs whose EMBEDDING is
    // near-duplicate of any held-out bench vector (vec_id % 10 == 0)
    // — the paraphrase-level contamination the n-gram gates (q45/q55)
    // cannot see. Candidates from the same 8×2-bit sign-band equi-join
    // as q_dedup_embedding's oracle (bench side is benchmark-sized →
    // broadcasts), exact-cosine verify, one doc-keyed rollup.
    "q_decontaminate_semantic" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.semanticOverlap(
          docs = emb.where(col("vec_id") % 10 =!= 0),
          bench = emb.where(col("vec_id") % 10 === 0),
          threshold = 0.4,
          planes = Similarity.axisPlanes(64, 16), bitsPerBand = 2)
        .withColumnRenamed("id", "doc_id")
    }),

    // rows-only: the Bloom-sketch decontamination gate — same corpus
    // split and threshold as q_decontaminate, but membership is a
    // broadcast Bloom probe (no join in the plan) instead of the exact
    // broadcast shingle set: the scale path for bench corpora whose
    // exact key set outgrows a broadcast. A sketch false positive can
    // only 0->1 the contaminated flag (drops MORE, the safe side), so
    // the sketch is not SQL-replayable; the conservative-superset and
    // generous-sizing-equals-exact properties are spec-asserted
    // (CorpusOpsSpec), and q_decontaminate stays the oracle twin.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      Decontaminate.overlapStatsBloom(
          train = docs.where(col("doc_id") % 20 =!= 0),
          bench = docs.where(col("doc_id") % 20 === 0),
          col("doc_id"), col("text"), n = 5, threshold = 0.5,
          fpp = 0.01)
        .withColumnRenamed("id", "doc_id")
    }),

    // CCNet-style boilerplate pruning: tokens in >= 75% of documents
    // are stripped from every document, order preserved, via a 1-row
    // broadcast hot-token array (no doc-keyed reassembly shuffle)
    "q_boilerplate_prune" -> ((s, dir) =>
      CorpusStats.removeBoilerplate(Tables(s, dir).documents,
          col("doc_id"), col("text"), frac = 0.75)
        .withColumnRenamed("id", "doc_id")),

    // Document-frequency rarity score: integer-exact proxy for
    // unigram-LM surprisal quality scoring
    "q_quality_rarity" -> ((s, dir) =>
      CorpusStats.rarityStats(Tables(s, dir).documents,
          col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")),

    // oracle-checked: per-doc top-5 TF-IDF keywords; score = tf·N/df
    // (integer product, one double division — the rarityStats
    // portability rule applied to ranking)
    "q_tfidf_topk" -> ((s, dir) =>
      CorpusStats.tfidfTopTerms(Tables(s, dir).documents,
          col("doc_id"), col("text"), k = 5)
        .withColumnRenamed("id", "doc_id")),

    // rows-only by design: score = tf·ln(N/df), the classic log-idf
    // form — ln isn't hash-replayable across engines (last-ulp
    // drift), so q_tfidf_topk (the integer-exact surrogate over the
    // SAME tf/df/N pipeline) is the oracle-green twin; the spec pins
    // pairwise rank agreement between the two wherever tf and idf
    // don't trade off
    "q_tfidf_topk_ln" -> ((s, dir) =>
      CorpusStats.tfidfTopTermsLn(Tables(s, dir).documents,
          col("doc_id"), col("text"), k = 5)
        .withColumnRenamed("id", "doc_id")),

    // oracle-checked: exact per-domain vocabulary (count DISTINCT
    // token) — the engine-portable twin of the HLL scale path below
    "q_vocab_stats" -> ((s, dir) =>
      CorpusStats.vocabularyStats(Tables(s, dir).documents,
          col("source"), col("text"), exact = true)
        .withColumnRenamed("domain", "source")),

    // rows-only by design: HyperLogLog++ sketches aren't replayable
    // across engines; q_vocab_stats is the exact oracle-green twin
    // and the spec bounds the sketch error against it at 3×rsd
    "q_vocab_stats_approx" -> ((s, dir) =>
      CorpusStats.vocabularyStats(Tables(s, dir).documents,
          col("source"), col("text"), exact = false)
        .withColumnRenamed("domain", "source")),

    // oracle-checked: exact top-50 token frequencies with a
    // deterministic (count desc, token) rank — the ground truth the
    // Count-Min surfaces below are measured against (r11)
    "q_heavy_hitters_exact" -> ((s, dir) =>
      Sketch.heavyHittersExact(Tables(s, dir).documents,
        col("text"), k = 50)),

    // oracle-checked: the Count-Min sketch ARTIFACT itself — a 4×8192
    // grid of Long counters folded from the corpus token stream
    // (Cormode & Muthukrishnan 2005); under the md5-prefix key every
    // cell replays hash-identically in DuckDB. The shuffle carries at
    // most depth·width cells per task — never the token stream (r11)
    "q_cms_cells_seeded" -> ((s, dir) =>
      Sketch.countMinCells(Tables(s, dir).documents, col("text"),
        depth = 4, width = 8192, QualityModel.seededKey)),

    // oracle-checked: the same CMS artifact served THROUGH a
    // SketchStore round-trip — built + committed on first call
    // (marker-last successor discipline), read from the committed
    // single-file frame on every later call; identical oracle to
    // q_cms_cells_seeded, so the STORE itself is oracle-checked:
    // what parquet round-trips is cell-for-cell what the engine
    // computed (r12)
    "q_cms_cells_stored" -> ((s, dir) =>
      graft.io.SketchStore.getOrBuild(s, storePath("cms1", dir))(
        Sketch.countMinCells(Tables(s, dir).documents, col("text"),
          depth = 4, width = 8192, QualityModel.seededKey))),

    // oracle-checked: sketch-estimated top-50 heavy hitters — the
    // vocabulary probes the broadcast sketch, est = min over depth
    // rows, rank (est desc, tok); md5 path replays cells, joins, min
    // and ranking bit-for-bit in DuckDB (r11)
    "q_cms_heavy_hitters_seeded" -> ((s, dir) =>
      Sketch.cmsHeavyHitters(Tables(s, dir).documents, col("text"),
        k = 50, depth = 4, width = 8192, QualityModel.seededKey)),

    // rows-only by design: the xxhash64 scale path (same operator,
    // 8-byte hash family); q_cms_heavy_hitters_seeded is the
    // hash-green twin and SketchSpec pins the one-sided est >= exact
    // contract, merge == union identity, and planted-heavy-hitter
    // recall on BOTH families (r11)
    "q_cms_heavy_hitters" -> ((s, dir) =>
      Sketch.cmsHeavyHitters(Tables(s, dir).documents, col("text"),
        k = 50, depth = 4, width = 8192)),

    // oracle-checked: the HyperLogLog register grid itself (Flajolet
    // et al. 2007) — at most m=4096 (bucket, rho) rows folded from
    // the token stream; rho = trailing zeros + 1 computed as
    // bin()/rtrim string arithmetic that Spark and DuckDB print
    // identically, so the ARTIFACT replays hash-identically (r11)
    "q_hll_registers_seeded" -> ((s, dir) =>
      Hll.tokenRegisters(Tables(s, dir).documents, col("text"),
        m = 4096, QualityModel.seededKey)),

    // oracle-checked: the estimate surface — exact Long harmonic sum
    // s_scaled plus the raw alpha*m^2*2^50/s estimate (one double
    // multiply/divide chain, no pow/ln — the division-only exactness
    // discipline keeps est itself oracle-green) (r11)
    "q_hll_vocab_seeded" -> ((s, dir) =>
      Hll.distinctTokens(Tables(s, dir).documents, col("text"),
        m = 4096, QualityModel.seededKey)),

    // oracle-checked: group-keyed sketches — distinct-token estimate
    // PER SOURCE from per-group register grids (the per-domain
    // vocabulary question; group cardinality x m registers, never
    // value-sized) (r11)
    "q_hll_vocab_by_source_seeded" -> ((s, dir) =>
      Hll.distinctTokens(Tables(s, dir).documents, col("text"),
        m = 4096, QualityModel.seededKey, groupCols = Seq("source"))
        .orderBy("source")),

    // rows-only by design: the xxhash64 scale path (64-bit hash, so
    // rho can reach the RhoCap clamp the seeded twin provably never
    // touches); q_hll_vocab_seeded is the hash-green twin and
    // HllSpec pins merge == union, partition invariance, the
    // relative-error envelope against planted cardinalities, and the
    // register-grid determinism on BOTH families (r11)
    "q_hll_vocab" -> ((s, dir) =>
      Hll.distinctTokens(Tables(s, dir).documents, col("text"),
        m = 4096)),

    // oracle-checked: the Bloom filter ARTIFACT (Bloom, CACM 1970) —
    // the distinct set-bit positions of k=3 probes per benchmark
    // token (every 20th doc is the "benchmark"), <= mBits rows by
    // construction; the membership sketch suite's third member
    // (frequency = CMS, cardinality = HLL) (r11)
    "q_bloom_bits_seeded" -> ((s, dir) => {
      val d = Tables(s, dir).documents
      Bloom.bloomBits(
        d.where(col("text").isNotNull && col("doc_id") % 20 === 0)
          .select(explode(split(Cleanser.normalized(col("text")), " "))
            .as("v")),
        col("v"), mBits = 65536, k = 3, QualityModel.seededKey)
    }),

    // oracle-checked: the full membership read path — corpus
    // vocabulary probes the bit frame, might_contain = all-3-hit;
    // `actual` (exact membership) rides along so the surface itself
    // exhibits the one-sided contract: might_contain >= actual row
    // for row, false negatives never (r11)
    "q_bloom_membership_seeded" -> ((s, dir) => {
      val d = Tables(s, dir).documents
      Bloom.tokenMembership(d.where(col("doc_id") % 20 === 0), d,
        col("text"), mBits = 65536, k = 3, QualityModel.seededKey)
    }),

    // rows-only by design: the xxhash64 scale path; twin
    // q_bloom_membership_seeded green, BloomSpec pins no-false-
    // negatives at every size, merge == union on overlapping builds
    // (idempotent, replay-safe), FPR envelope, and partition
    // invariance on BOTH families (r11)
    "q_bloom_membership" -> ((s, dir) => {
      val d = Tables(s, dir).documents
      Bloom.tokenMembership(d.where(col("doc_id") % 20 === 0), d,
        col("text"), mBits = 65536, k = 3)
    }),

    // oracle-checked: q45's decontamination semantics through the
    // STORED Bloom bit frame — the first decontamination gate whose
    // filter artifact itself hash-replays in SQL (the broadcast-
    // BloomFilter forms q55 uses cannot); n_matched >= exact by the
    // one-sided contract, so contamination is never under-detected
    // (r11)
    "q_decontaminate_bloomframe_seeded" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      Decontaminate.overlapStatsBloomFrame(
          train = docs.where(col("doc_id") % 20 =!= 0),
          bench = docs.where(col("doc_id") % 20 === 0),
          col("doc_id"), col("text"), n = 5, threshold = 0.5,
          mBits = 262144, k = 3, QualityModel.seededKey)
        .withColumnRenamed("id", "doc_id")
    }),

    // rows-only by design: the xxhash64 scale path; seeded twin
    // green, BloomSpec pins frame-gate ⊇ exact overlapStats and
    // equality at collision-free mBits on BOTH families (r11)
    "q_decontaminate_bloomframe" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      Decontaminate.overlapStatsBloomFrame(
          train = docs.where(col("doc_id") % 20 =!= 0),
          bench = docs.where(col("doc_id") % 20 === 0),
          col("doc_id"), col("text"), n = 5, threshold = 0.5,
          mBits = 262144, k = 3)
        .withColumnRenamed("id", "doc_id")
    }),

    // oracle-checked: the log-linear quantile HISTOGRAM itself — the
    // sketch suite's fourth member (frequency = CMS, cardinality =
    // HLL, membership = Bloom, quantiles = this): per-doc whitespace
    // token counts folded into (idx, lo, hi) buckets, b = 5
    // sub-bucket bits. Pure integer arithmetic, NO hash — the one
    // sketch whose scale path itself replays bit-identically in SQL,
    // so there is no seeded/xx twin split (r11)
    "q_hdr_frame" -> ((s, dir) =>
      Hdr.tokenLengthFrame(Tables(s, dir).documents, col("text"))),

    // oracle-checked: quantiles read off the frame — est = lo of the
    // first bucket reaching rank max(ceil(q*n), 1), the
    // percentile_disc convention answered from a ~2k-bucket artifact
    // instead of a corpus sort; est <= true <= est + width - 1 with
    // relative error <= 2^-b (HdrSpec pins the envelope) (r11)
    "q_hdr_quantiles" -> ((s, dir) =>
      Hdr.tokenLengthQuantiles(Tables(s, dir).documents, col("text"),
        Seq(0.25, 0.5, 0.75, 0.9, 0.99))),

    // oracle-checked: group-keyed frames — per-source p50/p90
    // sequence length from per-group histograms (the per-domain
    // length-distribution question; group cardinality x ~2k buckets,
    // never corpus-sized) (r11)
    "q_hdr_by_source" -> ((s, dir) =>
      Hdr.tokenLengthQuantiles(Tables(s, dir).documents, col("text"),
        Seq(0.5, 0.9), groupCols = Seq("source"))
        .orderBy("source", "q")),

    // oracle-checked: token-MASS quantiles — the length histogram
    // weighted by the length itself, so est answers "the median
    // token sits in a doc of ~est tokens", the statistic sequence
    // packing plans against; same frame read path, rank arithmetic
    // over masses (r11)
    "q_hdr_mass_quantiles" -> ((s, dir) => {
      val docs = Tables(s, dir).documents.where(col("text").isNotNull)
        .select(size(TextFns.tokens(col("text"))).cast("long").as("v"))
      Hdr.quantiles(
        Hdr.frame(docs, col("v"), weight = col("v")),
        Seq(0.25, 0.5, 0.9))
    }),

    // oracle-checked: semi-structured extraction — the JSON props
    // column parsed in-scan (get_json_object), grouped stats on the
    // extracted integer; no UDF, stays inside codegen (r11)
    "q_json_extract" -> ((s, dir) =>
      Tables(s, dir).events
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_with_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          sum(col("k")).as("sum_k"))),

    // oracle-checked: quantile binning off the sketch — per-doc
    // decile of the sequence length via 9 broadcast thresholds read
    // from the histogram; the scale replacement for a global ntile
    // sort (corpus scanned once, never sorted) (r11)
    "q_length_deciles" -> ((s, dir) => {
      val docs = Tables(s, dir).documents.where(col("text").isNotNull)
        .select(col("doc_id"),
          size(TextFns.tokens(col("text"))).cast("long").as("ws_tokens"))
      Hdr.bucketByQuantiles(docs, col("ws_tokens"))
        .withColumnRenamed("bucket", "decile")
    }),

    // rows-only: hashed-linear quality model on the xxhash64 scale
    // path (q_quality_model_seeded is the hash-green md5 twin; the
    // two share every line but the hash key)
    "q_quality_model" -> ((s, dir) =>
      QualityModel.score(Tables(s, dir).documentsWide,
          col("doc_id"), col("text"), dim = 4096)
        .withColumnRenamed("id", "doc_id")),

    // oracle-checked: md5-prefix hashing replays bucket, weight,
    // margin and label bit-for-bit in DuckDB — margins are exact
    // integer sums, so no float accumulation can drift
    "q_quality_model_seeded" -> ((s, dir) =>
      QualityModel.score(Tables(s, dir).documentsWide,
          col("doc_id"), col("text"), dim = 4096, QualityModel.seededKey)
        .withColumnRenamed("id", "doc_id")),

    // oracle-checked Gopher rule battery (Rae et al. 2021 App. A):
    // word-count/word-length/symbol/bullet/ellipsis/alpha/stopword
    // checks as pure in-row scan algebra; every ratio evaluated by
    // integer cross-multiplication (the q54 ppm discipline), so the
    // whole battery replays hash-exactly in DuckDB.
    "q_quality_gopher" -> ((s, dir) =>
      QualityRules.gopherRules(Tables(s, dir).documents,
          col("doc_id"), col("text"), minWords = 30, minStopHits = 1)
        .withColumnRenamed("id", "doc_id")),

    // oracle-checked n-gram LM scoring core (CCNet's structure,
    // Wenzek et al. 2020): bigram/unigram counts trained on the
    // doc_id % 5 == 0 reference slice, the rest of the corpus
    // join-scored per document — integer count mass only, the
    // engine-portable core of the perplexity surface below.
    "q_lm_score_counts" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val ref = docs.where(col("doc_id") % 5 === 0)
      LanguageModel.scoreCounts(docs.where(col("doc_id") % 5 =!= 0),
          col("doc_id"), col("text"),
          LanguageModel.bigramCounts(ref, col("doc_id"), col("text")),
          LanguageModel.unigramCounts(ref, col("doc_id"), col("text")))
        .withColumnRenamed("id", "doc_id")
    }),

    // oracle-checked trigram-backoff integer core: each trigram
    // event of a scored doc resolved at its highest order known to
    // the reference slice (trigram > bigram > unigram > OOV),
    // mutually exclusive counts in pure longs.
    "q_lm_backoff_counts" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val ref = docs.where(col("doc_id") % 5 === 0)
      LanguageModel.backoffCounts(docs.where(col("doc_id") % 5 =!= 0),
          col("doc_id"), col("text"),
          LanguageModel.trigramCounts(ref, col("doc_id"), col("text")),
          LanguageModel.bigramCounts(ref, col("doc_id"), col("text")),
          LanguageModel.tokenCounts(ref, col("doc_id"), col("text")))
        .withColumnRenamed("id", "doc_id")
    }),

    // rows-only (ln): stupid-backoff scoring (Brants et al. 2007 —
    // the web-scale scheme that skips backoff normalization) over
    // the same resolution ladder; q_lm_backoff_counts is the
    // oracle-green integer twin.
    "q_lm_stupid_backoff" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val ref = docs.where(col("doc_id") % 5 === 0)
      LanguageModel.stupidBackoff(docs.where(col("doc_id") % 5 =!= 0),
          col("doc_id"), col("text"),
          LanguageModel.trigramCounts(ref, col("doc_id"), col("text")),
          LanguageModel.bigramCounts(ref, col("doc_id"), col("text")),
          LanguageModel.tokenCounts(ref, col("doc_id"), col("text")))
        .withColumnRenamed("id", "doc_id")
    }),

    // oracle-checked Kneser–Ney integer core: per-doc sums of every
    // quantity the interpolated score combines — bigram counts,
    // conditioning counts, left (continuation) and right
    // (discount-mass) diversities — in pure longs.
    "q_lm_kn_counts" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val ref = docs.where(col("doc_id") % 5 === 0)
      LanguageModel.knCounts(docs.where(col("doc_id") % 5 =!= 0),
          col("doc_id"), col("text"),
          LanguageModel.bigramCounts(ref, col("doc_id"), col("text")),
          LanguageModel.unigramCounts(ref, col("doc_id"), col("text")),
          LanguageModel.leftDiversity(ref, col("doc_id"), col("text")),
          LanguageModel.rightDiversity(ref, col("doc_id"), col("text")))
        .withColumnRenamed("id", "doc_id")
    }),

    // rows-only (ln): interpolated Kneser–Ney — the standard n-gram
    // smoothing (absolute discount + continuation-count backoff);
    // q_lm_kn_counts is the oracle-green integer twin.
    "q_lm_kneser_ney" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val ref = docs.where(col("doc_id") % 5 === 0)
      LanguageModel.kneserNey(docs.where(col("doc_id") % 5 =!= 0),
          col("doc_id"), col("text"),
          LanguageModel.bigramCounts(ref, col("doc_id"), col("text")),
          LanguageModel.unigramCounts(ref, col("doc_id"), col("text")),
          LanguageModel.leftDiversity(ref, col("doc_id"), col("text")),
          LanguageModel.rightDiversity(ref, col("doc_id"), col("text")))
        .withColumnRenamed("id", "doc_id")
    }),

    // rows-only (ln): add-α bigram perplexity over the exact same
    // joined frame as q_lm_score_counts (its oracle-green twin) —
    // CCNet's keep-the-low-perplexity-head quality filter.
    "q_lm_perplexity" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val ref = docs.where(col("doc_id") % 5 === 0)
      LanguageModel.perplexity(docs.where(col("doc_id") % 5 =!= 0),
          col("doc_id"), col("text"),
          LanguageModel.bigramCounts(ref, col("doc_id"), col("text")),
          LanguageModel.unigramCounts(ref, col("doc_id"), col("text")))
        .withColumnRenamed("id", "doc_id")
    }),

    // oracle-checked COMPOSED quality-filter ladder (the q72
    // curriculum pattern applied to filtering): Gopher rule battery
    // → strict LM gate (every bigram known to the reference slice —
    // 363/400 pass at sf0.01, genuinely discriminative) → per-source
    // token-budget take over the partition-offset cumsum. Three
    // operators, one DuckDB replay, all integer-exact.
    "q_filter_ladder" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val gopherKeep = QualityRules.gopherRules(docs, col("doc_id"),
          col("text"), minWords = 30, minStopHits = 1)
        .where(col("keep")).select(col("id").as("doc_id"))
      val ref = docs.where(col("doc_id") % 5 === 0)
      val lmKeep = LanguageModel.scoreCounts(
          docs.where(col("doc_id") % 5 =!= 0), col("doc_id"), col("text"),
          LanguageModel.bigramCounts(ref, col("doc_id"), col("text")),
          LanguageModel.unigramCounts(ref, col("doc_id"), col("text")))
        .where(col("hits") === col("n_bigrams"))
        .select(col("id").as("doc_id"))
      val survivors = docs.join(gopherKeep, "doc_id").join(lmKeep, "doc_id")
        .withColumn("n_tokens",
          size(split(Cleanser.normalized(col("text")), " ")).cast("long"))
      Batching.takeByBudgetPerKey(survivors, key = col("source"),
          order = col("doc_id"), weight = col("n_tokens"), budget = 500,
          partitions = 32)
        .select("doc_id", "source", "n_tokens", "cum_weight")
    }),

    // oracle-checked DSIR integer core (Xie et al., NeurIPS 2023):
    // per raw doc, hashed-feature count plus target/raw bucket count
    // mass — the sufficient statistics behind the importance weights,
    // in pure longs over the quality model's exact featurization
    // (unigrams + bigrams → md5-prefix buckets, replayed in DuckDB).
    // Target = the doc_id % 7 == 0 slice.
    "q_dsir_counts" -> ((s, dir) => {
      val docs = Tables(s, dir).documentsWide
      val target = docs.where(col("doc_id") % 7 === 0)
      val raw = docs.where(col("doc_id") % 7 =!= 0)
      Dsir.scoreCounts(raw, col("doc_id"), col("text"),
          Dsir.bucketCounts(target, col("doc_id"), col("text"), 4096,
            QualityModel.seededKey),
          Dsir.bucketCounts(raw, col("doc_id"), col("text"), 4096,
            QualityModel.seededKey),
          4096, QualityModel.seededKey)
        .withColumnRenamed("id", "doc_id")
    }),

    // rows-only (log-ratio floats + Gumbel keys): the DSIR resample
    // proper — importance weights from the same counts (q_dsir_counts
    // is the oracle-green twin of the statistic), zero-Exchange
    // log-importance scan, deterministic Gumbel-top-k draw of 100
    // docs without replacement.
    "q_dsir_resample" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val target = docs.where(col("doc_id") % 7 === 0)
      val raw = docs.where(col("doc_id") % 7 =!= 0)
      val w = Dsir.importanceWeights(target, raw, col("doc_id"),
        col("text"), dim = 4096)
      Dsir.resample(raw, col("doc_id"), col("text"), w, k = 100)
        .withColumnRenamed("id", "doc_id")
    }),

    // oracle-checked BPE round-0 pair counts (Sennrich et al. 2016):
    // adjacent symbol pairs over the character-split word vocabulary,
    // weighted by corpus word count — the E-step every merge round
    // repeats, replayed exactly in DuckDB. The ONE corpus-sized pass
    // is the word count; the pair table is vocabulary-sized.
    "q_bpe_pair_counts" -> ((s, dir) => {
      // documentsWide (r19): the word count's heavy map side
      // (normalize+split+explode) otherwise runs in the serial scan
      val vocab = Bpe.wordCounts(Tables(s, dir).documentsWide, col("text"))
      Bpe.pairCounts(vocab.select(col("w"), col("c"),
        concat(split(col("w"), ""), array(lit(Bpe.EndOfWord))).as("syms")))
    }),

    // rows-only (driver argmax loop): the learned merge list after 16
    // rounds — deterministic from the word counts (lexicographic
    // tie-break), spec-equal to a straight-line reference BPE;
    // q_bpe_pair_counts is the oracle-green twin of each round's
    // count step.
    "q_bpe_vocab" -> ((s, dir) => {
      import s.implicits._
      val model = Bpe.train(Tables(s, dir).documentsWide, col("text"),
        numMerges = 16)
      model.merges.zipWithIndex
        .map { case ((a, b), i) => (i + 1, a, b) }
        .toDF("rank", "a", "b")
    }),

    // rows-only: corpus encoded through the trained segmentation —
    // two vocabulary-keyed equi-joins, never a per-row merge replay;
    // OOV words fall back to the character split, flagged.
    "q_bpe_encode" -> ((s, dir) => {
      val docs = Tables(s, dir).documentsWide
      val model = Bpe.train(docs, col("text"), numMerges = 16)
      Bpe.encode(docs, col("doc_id"), col("text"), model)
        .withColumnRenamed("id", "doc_id")
    }),

    // oracle-checked unigram-LM candidate counts (Kudo 2018 §3.2,
    // SentencePiece's seed statistic): every substring occurrence up
    // to 4 chars over the word vocabulary, weighted by corpus word
    // count — the trainer's seed table replayed exactly in DuckDB.
    // The ONE corpus-sized pass is the word count; the substring
    // explode is vocabulary-sized.
    "q_unigram_counts" -> ((s, dir) =>
      Unigram.candidateCounts(Tables(s, dir).documents, col("text"),
        maxLen = 4)),

    // rows-only (driver EM loop over the word vocabulary): the
    // trained piece table after EM + likelihood pruning —
    // deterministic from the word counts (fixed iteration order,
    // lexicographic tie-breaks); q_unigram_counts is the oracle-green
    // twin of the seed statistic, and the spec pins the E-step
    // against exhaustive segmentation enumeration.
    "q_unigram_vocab" -> ((s, dir) =>
      Unigram.train(Tables(s, dir).documents, col("text"),
        vocabSize = 120, maxLen = 4, seedSize = 400, emIters = 2)
        .pieces),

    // rows-only: corpus encoded through the trained Viterbi
    // segmentation — a vocabulary-keyed equi-join (broadcast-able at
    // any corpus size), never a per-row lattice replay; OOV words
    // fall back to the character split (complete: chars are never
    // pruned), flagged.
    "q_unigram_encode" -> ((s, dir) => {
      val docs = Tables(s, dir).documentsWide
      val model = Unigram.train(docs, col("text"),
        vocabSize = 120, maxLen = 4, seedSize = 400, emIters = 2)
      Unigram.encode(docs, col("doc_id"), col("text"), model)
        .withColumnRenamed("id", "doc_id")
    }),

    // oracle-checked WordPiece round-0 pair statistics (Schuster &
    // Nakajima 2012, the BERT trainer): adjacent-pair counts PLUS
    // both symbols' occurrence counts over the ##-convention
    // character split — the integer sufficient statistics of the
    // likelihood score n_ab/(n_a·n_b) every merge round argmaxes,
    // replayed exactly in DuckDB. The ONE corpus-sized pass is the
    // word count; both aggregates are vocabulary-sized.
    "q_wordpiece_pair_scores" -> ((s, dir) => {
      // documentsWide (r19): see q_bpe_pair_counts
      val vocab = Bpe.wordCounts(Tables(s, dir).documentsWide, col("text"))
      Wordpiece.pairStats(vocab.select(col("w"), col("c"),
        Wordpiece.initialSymbols(col("w")).as("syms")))
    }),

    // rows-only (driver argmax loop): the learned merge list after 16
    // likelihood-scored rounds — deterministic from the word counts
    // (IEEE-identical score arithmetic both paths, lexicographic
    // tie-breaks), spec-equal to a straight-line reference WordPiece;
    // q_wordpiece_pair_scores is the oracle-green twin of each
    // round's count step.
    "q_wordpiece_vocab" -> ((s, dir) => {
      import s.implicits._
      val model = Wordpiece.train(Tables(s, dir).documentsWide, col("text"),
        numMerges = 16)
      model.merges.zipWithIndex
        .map { case ((a, b), i) =>
          (i + 1, a, b, Wordpiece.mergedSymbol(a, b)) }
        .toDF("rank", "a", "b", "merged")
    }),

    // rows-only: corpus encoded through the trained segmentation —
    // two vocabulary-keyed equi-joins, never a per-row merge replay;
    // OOV words fall back to the ##-convention character split,
    // flagged (the [UNK] policy stays with the caller).
    "q_wordpiece_encode" -> ((s, dir) => {
      val docs = Tables(s, dir).documentsWide
      val model = Wordpiece.train(docs, col("text"), numMerges = 16)
      Wordpiece.encode(docs, col("doc_id"), col("text"), model)
        .withColumnRenamed("id", "doc_id")
    }),

    // Full pipeline with the decontamination gate: gates → exact
    // dedup → jaccard near-dup removal → drop docs overlapping the
    // held-out benchmark slice (doc_id % 20 == 0, as q_decontaminate)
    "q_training_prep_decontam" -> ((s, dir) => {
      // documentsWide (r19): r18's A/B rejected Wide here because the
      // staged persist fanned every downstream stage to 32 tiny tasks;
      // with the work-sized width (Tables.parallelized) the fan-out
      // matches the data and the serial-scan cure wins again.
      val docs = Tables(s, dir).documentsWide
      TrainingPipeline.prepareDecontaminatedWith(
        docs.where(col("doc_id") % 20 =!= 0), col("doc_id"), col("text"),
        TrainingPipeline.Config(),
        bench = docs.where(col("doc_id") % 20 === 0),
        benchId = col("doc_id"), benchText = col("text"),
        benchN = 5, maxOverlap = 0.5,
        (d, i, t) => Dedup.jaccardPairs(d, i, t, n = 3, threshold = 0.8,
          maxShingleDf = Some(64)))
    }),

    // Data mixing: keep docs per language while the running token
    // count stays within a 2000-token budget (doc_id order)
    "q_token_budget_sample" -> ((s, dir) => {
      val docs = Tables(s, dir).documents.select(
        col("doc_id"), col("lang"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      Batching.takeByBudgetPerKey(docs, key = col("lang"),
          order = col("doc_id"), weight = col("n_tokens"),
          budget = 2000L, partitions = 8, cumOut = "cum_tokens")
        .select("lang", "doc_id", "n_tokens", "cum_tokens")
    })
  )

  /** The q_ann_opq_store / q_opq_refresh serving artifact: a
    * committed [[graft.io.PqIndexStore]] index (OPQ rotation,
    * codebooks, coarse centroids, c_id-partitioned codes) for the
    * given sf dir's embeddings — trained ONCE (same parameters as
    * q_ann_opq_probe: parametric eigen-allocation OPQ on a 1-in-16
    * hash sample, 16 md5-seeded coarse centroids over the rotated
    * corpus) and re-served from disk on every later call. */
  private def opqServingIndex(s: SparkSession, dir: String)
      : graft.io.PqIndexStore.PqIndex = {
    val emb = Tables(s, dir).embeddings
      .where(graft.functions.VectorFns.l2Norm(col("embedding")) > 0)
    graft.io.PqIndexStore.getOrBuild(s, storePath("opq1", dir)) {
      val sample = emb.where(pmod(xxhash64(col("vec_id")), lit(16)) === 0)
      val (rot, books) = Pq.opqTrain(sample, numSub = 8,
        numCodewords = 16, opqIters = 1, lloydIters = 1,
        initRotation = Some(Pq.eigenAllocationInit(sample, numSub = 8)))
      val rx = Pq.rotate(emb, rot)
      val cents = Similarity.ivfCentroids(rx, numCentroids = 16,
        lloydIters = 0, seedKey = c => md5(c.cast("string")))
      val codes = Similarity.ivfAssignments(rx, cents)
        .select("c_id", "n_id")
        .join(Pq.pqEncode(rx, books).withColumnRenamed("vec_id", "n_id"),
          "n_id")
      (books, codes, Some(rot), Some(cents))
    }
  }

  /** The q_ann_residual_store serving artifact: a committed
    * residual-coded (IVFADC) index for the sf dir's embeddings —
    * q_ann_ivfpq_residual's exact training (16 md5-seeded coarse
    * centroids, residual codebooks numSub 8 × 32, one Lloyd step),
    * persisted once and served from disk thereafter. */
  private def residualServingIndex(s: SparkSession, dir: String)
      : graft.io.PqIndexStore.PqIndex = {
    val emb = Tables(s, dir).embeddings
      .where(graft.functions.VectorFns.l2Norm(col("embedding")) > 0)
    graft.io.PqIndexStore.getOrBuild(s, storePath("res1", dir),
        residual = true) {
      val cents = Similarity.ivfCentroids(emb, numCentroids = 16,
        lloydIters = 0, seedKey = c => md5(c.cast("string")))
      val asg = Similarity.ivfAssignments(emb, cents)
      val books = Pq.pqCodebooks(Pq.residualAssignments(asg, cents),
        numSub = 8, numCodewords = 32, lloydIters = 1,
        idCol = "n_id", vecCol = "rv")
      (books, Pq.pqEncodeResiduals(asg, cents, books), None, Some(cents))
    }
  }

  /** DuckDB replay of [[mergeDemoTarget]] + [[mergeDemoChanges]] +
    * [[graft.etl.Merge.merge]] — shared verbatim by q_merge_upsert
    * and q_merge_versioned (two commit paths, one semantics). */
  private val mergeOracleSql: String =
    """WITH target AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS total,
      |         CAST(o_orderdate AS DATE) AS order_day
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |changes AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |         CAST(o_orderkey % 1000 AS DECIMAL(18,2)) AS total,
      |         CAST(o_orderdate AS DATE) AS order_day,
      |         CAST(o_orderdate AS DATE) AS change_ts, 1 AS gen,
      |         (o_orderkey % 21 = 0) AS is_delete
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |         CAST(o_custkey % 1000 AS DECIMAL(18,2)) AS total,
      |         CAST(o_orderdate AS DATE) AS order_day,
      |         CAST(o_orderdate AS DATE) + 1 AS change_ts, 2 AS gen,
      |         (o_orderkey % 18 = 0) AS is_delete
      |  FROM orders WHERE o_orderkey % 6 = 0),
      |latest AS (
      |  SELECT * FROM (
      |    SELECT c.*, row_number() OVER (PARTITION BY o_orderkey
      |             ORDER BY change_ts DESC, gen DESC) AS rn
      |    FROM changes c) WHERE rn = 1)
      |SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus,
      |       CAST(t.total AS DOUBLE) AS total, t.order_day
      |FROM target t ANTI JOIN latest l USING (o_orderkey)
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |       CAST(total AS DOUBLE) AS total, order_day
      |FROM latest WHERE NOT COALESCE(is_delete, FALSE)""".stripMargin

  /** [[mergeOracleSql]] with the partition column riding along —
    * q_merge_partitioned reads the table back WITH its layout
    * column, so the oracle derives p = key % 8 the same way. */
  private val mergePartitionedOracleSql: String =
    mergeOracleSql.replace(
      """SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus,
        |       CAST(t.total AS DOUBLE) AS total, t.order_day
        |FROM target t ANTI JOIN latest l USING (o_orderkey)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        |       CAST(total AS DOUBLE) AS total, order_day
        |FROM latest WHERE NOT COALESCE(is_delete, FALSE)""".stripMargin,
      """SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus,
        |       CAST(t.total AS DOUBLE) AS total, t.order_day,
        |       CAST(t.o_orderkey % 8 AS INT) AS p
        |FROM target t ANTI JOIN latest l USING (o_orderkey)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        |       CAST(total AS DOUBLE) AS total, order_day,
        |       CAST(o_orderkey % 8 AS INT) AS p
        |FROM latest WHERE NOT COALESCE(is_delete, FALSE)""".stripMargin)

  require(mergePartitionedOracleSql != mergeOracleSql,
    "mergePartitionedOracleSql rewrite did not match the base oracle")

  /** DuckDB replay of [[graft.etl.Merge.changeFeed]]: latest change
    * per key LEFT-joined to the target — deletes of present keys
    * emit the pre-image, upserts emit the new payload labeled by
    * presence, deletes of absent keys emit nothing. */
  private val mergeChangesOracleSql: String = {
    val prefix = mergeOracleSql.substring(0,
      mergeOracleSql.indexOf("SELECT t.o_orderkey"))
    prefix +
      // COALESCE(is_delete, FALSE) throughout — changeFeed coalesces
      // a null flag to false (emits 'insert' for an absent key) while
      // a bare NOT(NULL AND ...) here would filter the row (latent:
      // mergeDemoChanges never emits null flags; pinned anyway).
      // total casts to DOUBLE, matching the surface (r14)
      """SELECT CASE WHEN COALESCE(l.is_delete, FALSE) THEN t.o_orderkey
        |            ELSE l.o_orderkey END AS o_orderkey,
        |       CASE WHEN COALESCE(l.is_delete, FALSE) THEN t.o_custkey
        |            ELSE l.o_custkey END AS o_custkey,
        |       CASE WHEN COALESCE(l.is_delete, FALSE) THEN t.o_orderstatus
        |            ELSE l.o_orderstatus END AS o_orderstatus,
        |       CAST(CASE WHEN COALESCE(l.is_delete, FALSE) THEN t.total
        |            ELSE l.total END AS DOUBLE) AS total,
        |       CASE WHEN COALESCE(l.is_delete, FALSE) THEN t.order_day
        |            ELSE l.order_day END AS order_day,
        |       CASE WHEN COALESCE(l.is_delete, FALSE) THEN 'delete'
        |            WHEN t.o_orderkey IS NOT NULL THEN 'update'
        |            ELSE 'insert' END AS action
        |FROM latest l LEFT JOIN target t ON l.o_orderkey = t.o_orderkey
        |WHERE NOT (COALESCE(l.is_delete, FALSE)
        |           AND t.o_orderkey IS NULL)""".stripMargin
  }

  /** The data-skipping surfaces' table: orders with a DOUBLE total
    * and a DATE order_day — the sorted-layout store the file-level
    * min/max pruning reads. */
  private def skipDemoFrame(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).orders.select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("double").as("total"),
      to_date(col("o_orderdate")).as("order_day"))

  /** Where the serving store `kind` of sf dir `dir` lives: under the
    * running SparkContext's SparkFiles root, a driver temp directory
    * Spark deletes when the context stops (and at JVM exit). The key
    * is the kind and the `dir` string, never the data, so a store is
    * served only by the context that built it, with the code that
    * built it. Read on every call, so a restarted context gets a
    * fresh root. The root is driver-local: the harnesses that serve
    * these stores run in local mode. */
  private[graft] def storePath(kind: String, dir: String): String =
    s"${org.apache.spark.SparkFiles.getRootDirectory()}/graft_serving/" +
      f"$kind%s_${dir.hashCode}%08x"

  /** [[storePath]], built once: `build` writes the store at the path
    * it is given, and a `_BUILT` marker lands after it returns. The
    * marker is the one "already built" gate; a marker-less directory
    * is a build that died part-way, dropped and built again. */
  private def servingStore(kind: String, dir: String)(
      build: String => Unit): String = {
    import graft.io.MarkerCommit
    val path = storePath(kind, dir)
    if (!MarkerCommit.markerExists(path, "_BUILT")) {
      MarkerCommit.deleteRecursively(path)
      build(path)
      MarkerCommit.touch(s"$path/_BUILT", "built\n")
    }
    path
  }

  /** q_store_skip and q_store_skip_fileindex: the one-year read of
    * the sorted, stats-committed orders store. */
  private def skipDemo: (SparkSession, String) => DataFrame =
    (s, dir) => skipDemoRead(s, skipDemoStore(s, dir))

  /** The sorted, stats-committed orders store [[skipDemo]] reads. */
  private def skipDemoStore(s: SparkSession, dir: String): String =
    servingStore("skip", dir)(
      graft.io.DataSkipping.writeSortedWithStats(skipDemoFrame(s, dir), _,
        Seq("order_day"), numFiles = 32,
        statsCols = Seq("order_day", "o_orderkey")))

  /** The skipping read of the store at `path`. */
  private def skipRead(s: SparkSession, path: String): DataFrame =
    s.read.format("graft.io.SkipDataSource").load(path)

  /** The prune witness of `df`'s scan over the store at `path`
    * (SkipScan.prunesIn). Its plan-time counts need no action; its
    * runtime fields are set once `df`'s own execution ran. */
  private def scanPrune(df: DataFrame, path: String,
                        query: String): graft.io.SkipScan.Prune =
    graft.io.SkipScan.prunesIn(df).collectFirst {
      case (d, p) if d == path => p
    }.getOrElse(sys.error(s"$query: no SkipScan over $path in the plan"))

  /** The DFP surfaces' ingest-batch width: orders' key span cut into
    * 16 batches. The max key comes from the orders footers on the
    * driver, so sizing runs no job; the aggregate runs only when a
    * footer carries no max. */
  private def ingestBatchWidth(s: SparkSession, dir: String): Long = {
    val mx = graft.io.DataSkipping.footerMax(s, s"$dir/orders.parquet",
        "o_orderkey", org.apache.spark.sql.types.LongType)
      .map(_.asInstanceOf[Long])
      .getOrElse(Tables(s, dir).orders.agg(max("o_orderkey"))
        .head().getLong(0))
    math.max(1L, math.ceil((mx + 1) / 16.0).toLong)
  }

  /** The dynamic-pruning surfaces' gate: the prune that SkipScan saw
    * on the store at `path` when `build`'s frame ran once under the
    * DPP fallback ratio. The frame is built on a CLONED session so
    * the useStats flip is invisible to `s` (r17 advice #4 — an
    * in-place set/restore opens a window any concurrent query in the
    * shared session could plan under). The witness reads off THIS
    * dataset's own executed scan instance (SkipScan.prunesIn —
    * executing the gated frame's own QueryExecution; count() would
    * derive a new one and a fresh scan). Executed via toRdd.foreach,
    * NOT collect(): the gate only needs the scan to run — the
    * aggregate is one row per join key, which collect() would pull to
    * the driver, driver-sized at 100 TB (r18 verdict #5; guide §5). */
  private def dfpGate(s: SparkSession, path: String, query: String)(
      build: SparkSession => DataFrame): graft.io.SkipScan.Prune = {
    val gateS = org.apache.spark.sql.graft.SessionBridge.cloneSession(s)
    gateS.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    val gated = build(gateS)
    gated.queryExecution.toRdd.foreach(_ => ())
    scanPrune(gated, path, query)
  }

  /** The skip surfaces' one-year pruned read: the skipping read with
    * the real predicate pushed into its scan, and a require that the
    * planned scan REMOVED files (the q73 measured-suppression
    * discipline — the row is red if skipping silently stops
    * working). */
  private def skipDemoRead(s: SparkSession, path: String): DataFrame = {
    // 1996: inside the corpus's 1995..2001 span — kept must be BOTH
    // nonempty (a year that exists; guards the vacuous empty==empty
    // oracle pass) and smaller than the file count (pruning worked)
    val df = skipRead(s, path).where(col("order_day").between(
      lit("1996-01-01"), lit("1996-12-31")))
    val prune = scanPrune(df, path, "q_store_skip")
    require(prune.keptStatic > 0 && prune.keptStatic < prune.total,
      s"data skipping degenerate: kept ${prune.keptStatic} of " +
        s"${prune.total} files")
    df
  }

  /** The MERGE surface's target: the even-keyed half of orders, the
    * stored keyed table a change feed merges into. */
  private def mergeDemoTarget(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).orders
      .where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("total"),
        to_date(col("o_orderdate")).as("order_day"))

  /** The MERGE surface's change batch: two generations over
    * overlapping key sets so every merge edge is exercised —
    * gen 1 (%3 keys, ts = order day): inserts of odd multiples of 3,
    * updates of even ones, no-op deletes of absent keys (%21 odd
    * multiples) and deletes a later generation supersedes; gen 2
    * (%6 keys, ts = order day + 1): within-batch supersessions of
    * gen 1 and the EFFECTIVE deletes (%18 — even, so present in the
    * target). Values are integer-derived decimals, so the DuckDB
    * replay is exact. */
  private def mergeDemoChanges(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        to_date(col("o_orderdate")).as("order_day"))
    val gen1 = base.where(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_orderkey") % 1000).cast("decimal(18,2)").as("total"),
        col("order_day"),
        col("order_day").as("change_ts"), lit(1).as("gen"),
        (col("o_orderkey") % 21 === 0).as("is_delete"))
    val gen2 = base.where(col("o_orderkey") % 6 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_custkey") % 1000).cast("decimal(18,2)").as("total"),
        col("order_day"),
        date_add(col("order_day"), 1).as("change_ts"), lit(2).as("gen"),
        (col("o_orderkey") % 18 === 0).as("is_delete"))
    gen1.unionByName(gen2)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = baseOracleSql ++ Map(
    // the FromIndex increments are BIT-IDENTICAL to the from-docs
    // forms (spec-pinned), so they carry the SAME oracle — the
    // stored-index code path earns its own rows+schema+hash row
    // instead of leaning on the twin
    "q_dedup_incremental_fromindex" ->
      baseOracleSql("q_dedup_incremental"),
    "q_dedup_containment_fromindex" ->
      baseOracleSql("q_dedup_containment_incremental"))

  private def baseOracleSql: Map[String, String] = Map(
    "q_census_count" ->
      """WITH dep AS (
        |  SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE c_mktsegment IS NOT NULL AND c_acctbal > 0
        |), ptnt AS (
        |  SELECT o.o_orderkey, dep.c_mktsegment, CAST(o.o_orderdate AS DATE) AS o_day
        |  FROM orders o JOIN dep ON o.o_custkey = dep.c_custkey
        |  WHERE o.o_orderdate > (SELECT max(o_orderdate) - INTERVAL 90 DAY FROM orders)
        |)
        |SELECT c_mktsegment AS location, count(o_orderkey) AS census_cnt
        |FROM ptnt WHERE o_day = (SELECT max(o_day) FROM ptnt)
        |GROUP BY c_mktsegment""".stripMargin,

    // value is exactly 2-decimal in the data, so the DECIMAL(18,2)
    // cast is lossless and the sum is order-independent on both sides.
    "q_hourly_census" ->
      """SELECT event_type, date_trunc('hour', ts) AS hr,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_latest_run_snapshot" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) =
        |      (SELECT max(CAST(l_shipdate AS DATE)) FROM lineitem)""".stripMargin,

    "q_scd_watermark" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE l_shipdate > (SELECT max(o_orderdate) FROM orders)""".stripMargin,

    "q_unprocessed_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate > (SELECT max(o_orderdate) - INTERVAL 365 DAY FROM orders))""".stripMargin,

    "q_ingest_normalize" ->
      """SELECT o_orderkey, o_custkey,
        |       round(o_totalprice, 2) AS total_amt,
        |       upper(o_orderpriority) AS priority,
        |       CAST(o_orderdate AS DATE) AS order_day
        |FROM orders
        |WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL""".stripMargin,

    "q_audit_run_id" ->
      """SELECT event_type,
        |       CAST(strftime(max(ts), '%Y%m%d%H%M%S') AS BIGINT) * 100 AS run_id
        |FROM events GROUP BY event_type""".stripMargin,

    "q_rolling_window_explode" ->
      """WITH z AS (
        |  SELECT event_type, CAST(min(ts) AS DATE) AS eff_dt FROM events GROUP BY 1
        |)
        |SELECT event_type,
        |       CAST(unnest(generate_series(CAST(eff_dt AS TIMESTAMP),
        |            CAST(eff_dt AS TIMESTAMP) + INTERVAL 7 DAY,
        |            INTERVAL 1 DAY)) AS DATE) AS dt
        |FROM z""".stripMargin,

    "q_interval_join_plantype" ->
      """WITH d AS (SELECT CAST(max(ts) AS DATE) AS day FROM events),
        |hs AS (SELECT unnest(generate_series(0, 18, 6)) AS h),
        |zones AS (
        |  SELECT e.event_type,
        |         CAST(day AS TIMESTAMP) + h * INTERVAL 1 HOUR AS z_start,
        |         CAST(day AS TIMESTAMP) + (h + 6) * INTERVAL 1 HOUR AS z_end
        |  FROM (SELECT DISTINCT event_type FROM events) e CROSS JOIN hs CROSS JOIN d),
        |facts AS (
        |  SELECT event_id, event_type, ts FROM events, d WHERE CAST(ts AS DATE) = day)
        |SELECT f.event_id, hour(z.z_start) AS zone_h,
        |       CASE WHEN f.ts >= z.z_start AND f.ts <= z.z_end
        |            THEN 'ACTUAL' ELSE 'PLAN' END AS plan_type
        |FROM facts f
        |JOIN zones z ON f.event_type = z.event_type AND z.z_end >= f.ts""".stripMargin,

    // backward as-of: latest click with ts <= purchase ts, ties on
    // equal ts to the max click_id — replayed as a rank-1 window
    // over the range join (oracle-sized corpus only; the operator
    // itself is the single-shuffle sort-merge form)
    "q_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts, value AS click_value
        |      FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.event_id, p.user_id, c.click_id, c.click_value,
        |        row_number() OVER (PARTITION BY p.event_id
        |          ORDER BY c.ts DESC, c.click_id DESC) AS rn
        |      FROM p LEFT JOIN c
        |        ON c.user_id = p.user_id AND c.ts <= p.ts)
        |SELECT event_id, user_id, click_id AS asof_click_id,
        |       click_value AS asof_click_value
        |FROM j WHERE rn = 1""".stripMargin,

    // forward as-of: earliest click with ts >= purchase ts, ties on
    // equal ts to the max click_id
    "q_asof_join_forward" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts, value AS click_value
        |      FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.event_id, p.user_id, c.click_id, c.click_value,
        |        row_number() OVER (PARTITION BY p.event_id
        |          ORDER BY c.ts ASC, c.click_id DESC) AS rn
        |      FROM p LEFT JOIN c
        |        ON c.user_id = p.user_id AND c.ts >= p.ts)
        |SELECT event_id, user_id, click_id AS asof_click_id,
        |       click_value AS asof_click_value
        |FROM j WHERE rn = 1""".stripMargin,

    // nearest as-of: smallest |click ts - purchase ts|; an exact
    // distance tie resolves BACKWARD (c.ts <= p.ts ranks first),
    // equal-ts ties to the max click_id — full-precision micros
    // the clicks CTE pins ts IS NOT NULL: the operator drops null-ts
    // rights (no distance), but with no ts join predicate a null-ts
    // click would otherwise survive into the window and win rn=1
    // when it is a purchase's ONLY click (latent — the generator
    // emits no null ts; pinned so the semantics are the oracle's)
    "q_asof_join_nearest" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts, value AS click_value
        |      FROM events
        |      WHERE event_type = 'click' AND ts IS NOT NULL),
        |j AS (SELECT p.event_id, p.user_id, c.click_id, c.click_value,
        |        row_number() OVER (PARTITION BY p.event_id
        |          ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC,
        |                   (c.ts <= p.ts) DESC, c.click_id DESC) AS rn
        |      FROM p LEFT JOIN c ON c.user_id = p.user_id)
        |SELECT event_id, user_id, click_id AS asof_click_id,
        |       click_value AS asof_click_value
        |FROM j WHERE rn = 1""".stripMargin,

    // the salted form is the same semantics through a different
    // plan — the oracle is q_asof_join's, verbatim
    "q_asof_join_salted" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts, value AS click_value
        |      FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.event_id, p.user_id, c.click_id, c.click_value,
        |        row_number() OVER (PARTITION BY p.event_id
        |          ORDER BY c.ts DESC, c.click_id DESC) AS rn
        |      FROM p LEFT JOIN c
        |        ON c.user_id = p.user_id AND c.ts <= p.ts)
        |SELECT event_id, user_id, click_id AS asof_click_id,
        |       click_value AS asof_click_value
        |FROM j WHERE rn = 1""".stripMargin,

    // the same with a 1-hour lookback folded into the join window
    "q_asof_join_tolerance" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts, value AS click_value
        |      FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.event_id, p.user_id, c.click_id, c.click_value,
        |        row_number() OVER (PARTITION BY p.event_id
        |          ORDER BY c.ts DESC, c.click_id DESC) AS rn
        |      FROM p LEFT JOIN c
        |        ON c.user_id = p.user_id AND c.ts <= p.ts
        |           AND c.ts >= p.ts - INTERVAL 1 HOUR)
        |SELECT event_id, user_id, click_id AS asof_click_id,
        |       click_value AS asof_click_value
        |FROM j WHERE rn = 1""".stripMargin,

    // stage i+1 = earliest matching event at or after the user's
    // stage-i time (inclusive, as the operator)
    "q_funnel_counts" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON s1.user_id = e.user_id
        |       WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON s2.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS stage_name,
        |       count(*) AS n_users FROM s1
        |UNION ALL SELECT 2, 'click', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3""".stripMargin,

    "q_funnel_depth" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON s1.user_id = e.user_id
        |       WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON s2.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1)
        |SELECT s1.user_id,
        |       CAST(1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
        |              + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END
        |            AS BIGINT) AS stages_completed
        |FROM s1
        |LEFT JOIN s2 ON s2.user_id = s1.user_id
        |LEFT JOIN s3 ON s3.user_id = s1.user_id""".stripMargin,

    // the close series replay + exact DECIMAL window sums over the
    // previous 7 bars + the identical double z tree
    "q_anomaly_hours" ->
      """WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
        |             value,
        |             row_number() OVER (PARTITION BY event_type,
        |               date_trunc('hour', ts)
        |               ORDER BY ts DESC, event_id DESC) AS rn_d
        |           FROM events),
        |c AS (SELECT event_type, bucket,
        |        max(CASE WHEN rn_d = 1 THEN value END) AS close
        |      FROM b GROUP BY 1, 2),
        |wnd AS (SELECT event_type, bucket, close,
        |          count(CAST(close AS DECIMAL(18,2))) OVER w AS cnt,
        |          sum(CAST(close AS DECIMAL(18,2))) OVER w AS s,
        |          sum(CAST(close AS DECIMAL(18,2)) *
        |              CAST(close AS DECIMAL(18,2))) OVER w AS ss
        |        FROM c
        |        WINDOW w AS (PARTITION BY event_type ORDER BY bucket
        |          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |dd AS (SELECT event_type, bucket, close, cnt,
        |         CAST(CAST(s AS VARCHAR) AS DOUBLE) AS sd,
        |         CAST(CAST(ss AS VARCHAR) AS DOUBLE) AS ssd
        |       FROM wnd)
        |SELECT event_type, bucket, close,
        |       (CAST(close AS DOUBLE) - sd / 7.0)
        |       / sqrt((7.0 * ssd - sd * sd) / (7.0 * 7.0)) AS z,
        |       CAST(CASE WHEN abs((CAST(close AS DOUBLE) - sd / 7.0)
        |                 / sqrt((7.0 * ssd - sd * sd)
        |                        / (7.0 * 7.0))) > 3.0
        |                 THEN 1 ELSE 0 END AS INT) AS is_anomaly
        |FROM dd
        |WHERE cnt = 7 AND (7.0 * ssd - sd * sd) > 0""".stripMargin,

    // the identical double expression tree as the Column code: every
    // multiply/divide in the same order, sqrt IEEE-rounded. DECIMAL
    // -> DOUBLE goes through VARCHAR: DuckDB's direct cast divides
    // the scaled hugeint by 10^scale in doubles (TWO roundings — one
    // ulp off Java's correctly-rounded BigDecimal.doubleValue on
    // e.g. 7096786968835.8685, caught by the hostile-corpus gate);
    // the text round-trip forces the single correctly-rounded parse
    "q_lin_regression" ->
      """WITH a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |         sum(CAST(l_quantity AS DECIMAL(18,2)) *
        |             CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
        |         sum(CAST(l_quantity AS DECIMAL(18,2)) *
        |             CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1),
        |d AS (
        |  SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |         CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
        |         CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
        |         CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd,
        |         CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
        |         CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd
        |  FROM a)
        |SELECT l_returnflag, n,
        |       (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS slope,
        |       (syd - ((nd * sxyd - sxd * syd)
        |               / (nd * sxxd - sxd * sxd)) * sxd) / nd AS intercept,
        |       (nd * sxyd - sxd * syd)
        |       / sqrt((nd * sxxd - sxd * sxd)
        |              * (nd * syyd - syd * syd)) AS r
        |FROM d
        |WHERE (nd * sxxd - sxd * sxd) <> 0
        |  AND (nd * syyd - syd * syd) <> 0""".stripMargin,

    "q_star_revenue" ->
      """SELECT n_name,
        |       CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                     (CAST(1 AS DECIMAL(5,2)) -
        |                      CAST(l_discount AS DECIMAL(5,2))))
        |                 AS VARCHAR) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin,

    "q_pivot_status" ->
      """SELECT o_orderpriority,
        |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS F,
        |       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS O,
        |       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS P
        |FROM orders GROUP BY 1""".stripMargin,

    "q_profile_orders" ->
      """SELECT 'o_orderkey' AS column, count(*) AS n,
        |       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_null,
        |       count(DISTINCT o_orderkey) AS n_distinct,
        |       CAST(min(o_orderkey) AS VARCHAR) AS min_s,
        |       CAST(max(o_orderkey) AS VARCHAR) AS max_s
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*),
        |       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT),
        |       count(DISTINCT o_custkey),
        |       CAST(min(o_custkey) AS VARCHAR),
        |       CAST(max(o_custkey) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*),
        |       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT),
        |       count(DISTINCT o_orderstatus),
        |       CAST(min(o_orderstatus) AS VARCHAR),
        |       CAST(max(o_orderstatus) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*),
        |       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT),
        |       count(DISTINCT o_orderpriority),
        |       CAST(min(o_orderpriority) AS VARCHAR),
        |       CAST(max(o_orderpriority) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', count(*),
        |       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT),
        |       count(DISTINCT o_orderdate),
        |       CAST(min(o_orderdate) AS VARCHAR),
        |       CAST(max(o_orderdate) AS VARCHAR)
        |FROM orders""".stripMargin,

    // numeric column replay over the DECIMAL(18,2) view; DECIMAL
    // sums -> double via VARCHAR (DuckDB's direct DECIMAL->DOUBLE
    // cast two-rounds, one ulp off Java), then the identical fixed
    // double chain for mean/stddev
    "q_profile_orders_moments" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_null,
        |         CAST(sum(CASE WHEN o_totalprice IS NOT NULL AND
        |                  TRY_CAST(o_totalprice AS DECIMAL(18,2)) IS NULL
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS nf,
        |         count(DISTINCT TRY_CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS n_distinct,
        |         CAST(min(TRY_CAST(o_totalprice AS DECIMAL(18,2)))
        |              AS VARCHAR) AS min_s,
        |         CAST(max(TRY_CAST(o_totalprice AS DECIMAL(18,2)))
        |              AS VARCHAR) AS max_s,
        |         sum(TRY_CAST(o_totalprice AS DECIMAL(18,2))) AS sx,
        |         sum(TRY_CAST(o_totalprice AS DECIMAL(18,2)) *
        |             TRY_CAST(o_totalprice AS DECIMAL(18,2))) AS sxx
        |  FROM orders),
        |d AS (
        |  SELECT n, n_null, nf, n_distinct, min_s, max_s,
        |         CAST(n - n_null - nf AS DOUBLE) AS md,
        |         CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
        |         CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd
        |  FROM a)
        |SELECT 'o_orderstatus' AS column, count(*) AS n,
        |       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_null,
        |       count(DISTINCT o_orderstatus) AS n_distinct,
        |       CAST(min(o_orderstatus) AS VARCHAR) AS min_s,
        |       CAST(max(o_orderstatus) AS VARCHAR) AS max_s,
        |       CAST(NULL AS BIGINT) AS n_cast_fail,
        |       CAST(NULL AS DOUBLE) AS mean, CAST(NULL AS DOUBLE) AS stddev
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*),
        |       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT),
        |       count(DISTINCT o_orderpriority),
        |       CAST(min(o_orderpriority) AS VARCHAR),
        |       CAST(max(o_orderpriority) AS VARCHAR),
        |       CAST(NULL AS BIGINT),
        |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', n, n_null, n_distinct, min_s, max_s,
        |       nf AS n_cast_fail,
        |       CASE WHEN md > 0 THEN sxd / md END AS mean,
        |       CASE WHEN md > 1 THEN
        |         sqrt(greatest(0.0, (md * sxxd - sxd * sxd)
        |                            / (md * (md - 1.0)))) END AS stddev
        |FROM d""".stripMargin,

    // the moments profile plus the Hdr quantile read over integer
    // CENTS of the DECIMAL(18,2) view — the same log-linear bucket
    // arithmetic as the q_hdr_* oracles (b=5: s = len(bin(v))-1-5,
    // idx = s*64 + m), est = lo of the first bucket reaching rank
    // max(ceil(q*n), 1); all-BIGINT outputs, no decimal division
    "q_profile_orders_hdr" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_null,
        |         CAST(sum(CASE WHEN o_totalprice IS NOT NULL AND
        |                  TRY_CAST(o_totalprice AS DECIMAL(18,2)) IS NULL
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS nf,
        |         count(DISTINCT TRY_CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS n_distinct,
        |         CAST(min(TRY_CAST(o_totalprice AS DECIMAL(18,2)))
        |              AS VARCHAR) AS min_s,
        |         CAST(max(TRY_CAST(o_totalprice AS DECIMAL(18,2)))
        |              AS VARCHAR) AS max_s,
        |         sum(TRY_CAST(o_totalprice AS DECIMAL(18,2))) AS sx,
        |         sum(TRY_CAST(o_totalprice AS DECIMAL(18,2)) *
        |             TRY_CAST(o_totalprice AS DECIMAL(18,2))) AS sxx
        |  FROM orders),
        |d AS (
        |  SELECT n, n_null, nf, n_distinct, min_s, max_s,
        |         CAST(n - n_null - nf AS DOUBLE) AS md,
        |         CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
        |         CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd
        |  FROM a),
        |v AS (SELECT CAST(TRY_CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |             AS BIGINT) AS v
        |      FROM orders),
        |e AS (SELECT v, GREATEST(length(bin(v)) - 1 - 5, 0) AS s
        |      FROM v WHERE v IS NOT NULL AND v >= 0),
        |mb AS (SELECT s, (v >> s) AS m FROM e),
        |f AS (SELECT CAST(s AS BIGINT) * 64 + m AS idx, (m << s) AS lo,
        |             count(*) AS cnt
        |      FROM mb GROUP BY 1, 2),
        |c AS (SELECT idx, lo,
        |        CAST(SUM(cnt) OVER (ORDER BY idx ROWS BETWEEN UNBOUNDED
        |             PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(SUM(cnt) OVER () AS BIGINT) AS nn
        |      FROM f),
        |qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
        |qe AS (SELECT q, MIN(lo) AS est
        |       FROM c CROSS JOIN qs
        |       WHERE cum >= GREATEST(CEIL(q * CAST(nn AS DOUBLE)), 1)
        |       GROUP BY q),
        |pv AS (SELECT MAX(CASE WHEN q = 0.5 THEN est END) AS p50_c,
        |              MAX(CASE WHEN q = 0.9 THEN est END) AS p90_c,
        |              MAX(CASE WHEN q = 0.99 THEN est END) AS p99_c
        |       FROM qe)
        |SELECT 'o_orderstatus' AS column, count(*) AS n,
        |       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_null,
        |       count(DISTINCT o_orderstatus) AS n_distinct,
        |       CAST(min(o_orderstatus) AS VARCHAR) AS min_s,
        |       CAST(max(o_orderstatus) AS VARCHAR) AS max_s,
        |       CAST(NULL AS BIGINT) AS n_cast_fail,
        |       CAST(NULL AS DOUBLE) AS mean, CAST(NULL AS DOUBLE) AS stddev,
        |       CAST(NULL AS BIGINT) AS p50_c, CAST(NULL AS BIGINT) AS p90_c,
        |       CAST(NULL AS BIGINT) AS p99_c
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*),
        |       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT),
        |       count(DISTINCT o_orderpriority),
        |       CAST(min(o_orderpriority) AS VARCHAR),
        |       CAST(max(o_orderpriority) AS VARCHAR),
        |       CAST(NULL AS BIGINT),
        |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |       CAST(NULL AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', n, n_null, n_distinct, min_s, max_s,
        |       nf AS n_cast_fail,
        |       CASE WHEN md > 0 THEN sxd / md END AS mean,
        |       CASE WHEN md > 1 THEN
        |         sqrt(greatest(0.0, (md * sxxd - sxd * sxd)
        |                            / (md * (md - 1.0)))) END AS stddev,
        |       pv.p50_c, pv.p90_c, pv.p99_c
        |FROM d CROSS JOIN pv""".stripMargin,

    // long-form replay: priorities x the fixed status list, absent
    // combos coalesced to the pivot's filled 0
    "q_unpivot_status" ->
      """WITH c AS (SELECT o_orderpriority, o_orderstatus, count(*) AS n
        |           FROM orders GROUP BY 1, 2),
        |p AS (SELECT DISTINCT o_orderpriority FROM orders),
        |s AS (SELECT unnest(['F', 'O', 'P']) AS status)
        |SELECT p.o_orderpriority, s.status,
        |       CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |FROM p CROSS JOIN s
        |LEFT JOIN c ON c.o_orderpriority = p.o_orderpriority
        |           AND c.o_orderstatus = s.status""".stripMargin,

    "q_rollup_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |                 AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,

    // gap break on millisecond arithmetic exactly as the operator
    // (epoch_ms); session identity is order-free at equal ts
    "q_sessionize" ->
      """WITH o AS (SELECT user_id, ts,
        |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |               AS prev
        |           FROM events),
        |b AS (SELECT user_id, ts,
        |        CASE WHEN prev IS NULL
        |                  OR epoch_ms(ts) - epoch_ms(prev) > 1800000
        |             THEN 1 ELSE 0 END AS brk
        |      FROM o),
        |s AS (SELECT user_id, ts,
        |        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS sid
        |      FROM b)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,

    // the sessionize chain replayed, then the per-user rollup; exact
    // BIGINT duration sums, the identical left-assoc double chain
    "q_session_stats" ->
      """WITH o AS (SELECT user_id, ts,
        |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |               AS prev
        |           FROM events),
        |b AS (SELECT user_id, ts,
        |        CASE WHEN prev IS NULL
        |                  OR epoch_ms(ts) - epoch_ms(prev) > 1800000
        |             THEN 1 ELSE 0 END AS brk
        |      FROM o),
        |s AS (SELECT user_id, ts,
        |        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS sid
        |      FROM b),
        |g AS (SELECT user_id, sid, min(ts) AS st, max(ts) AS en,
        |             count(*) AS n
        |      FROM s GROUP BY user_id, sid)
        |SELECT user_id, count(*) AS n_sessions,
        |       CAST(sum(n) AS BIGINT) AS total_events,
        |       CAST(max(n) AS BIGINT) AS max_session_events,
        |       CAST(sum(epoch_ms(en) - epoch_ms(st)) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) / 1000.0
        |         AS mean_session_sec
        |FROM g GROUP BY user_id""".stripMargin,

    // change rows = first per user or event_type IS DISTINCT FROM
    // the previous (null-safe, as the operator's <=> compare)
    "q_scd2_intervals" ->
      """WITH o AS (SELECT user_id, event_type, ts, event_id,
        |             lag(event_type) OVER w AS prev_t,
        |             lag(event_id) OVER w AS prev_id
        |           FROM events
        |           WINDOW w AS (PARTITION BY user_id
        |                        ORDER BY ts, event_id)),
        |ch AS (SELECT user_id, event_type, ts, event_id FROM o
        |       WHERE prev_id IS NULL
        |          OR event_type IS DISTINCT FROM prev_t)
        |SELECT user_id, event_type, ts AS valid_from,
        |       lead(ts) OVER w2 AS valid_to,
        |       CAST(CASE WHEN lead(ts) OVER w2 IS NULL
        |                 THEN 1 ELSE 0 END AS INT) AS is_current
        |FROM ch
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    // MERGE replay: latest change per key (ts desc, gen desc), then
    // target ANTI JOIN changed-keys UNION ALL surviving upserts —
    // the full-outer-join-free formulation both engines plan as a
    // batch-sized build side against a streamed target
    "q_merge_upsert" -> mergeOracleSql,

    // the versioned-store round-trip serves the identical merged
    // table: same oracle, verbatim (the q168 pattern)
    "q_merge_versioned" -> mergeOracleSql,
    "q_merge_partitioned" -> mergePartitionedOracleSql,
    "q_merge_changes" -> mergeChangesOracleSql,

    // file-skipping surfaces: a plain one-year filter — the skipping
    // is a pure read-path optimization, so the oracle is the
    // unpruned query (and the surface's files-kept < files-present
    // require is what gates the pruning itself). The versioned twin
    // serves the identical table through VersionStore: same oracle,
    // verbatim (the fromindex pattern)
    "q_store_skip" ->
      """SELECT o_orderkey, o_custkey,
        |       CAST(o_totalprice AS DOUBLE) AS total,
        |       CAST(o_orderdate AS DATE) AS order_day
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE)
        |      BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'""".stripMargin,
    "q_store_skip_versioned" ->
      """SELECT o_orderkey, o_custkey,
        |       CAST(o_totalprice AS DOUBLE) AS total,
        |       CAST(o_orderdate AS DATE) AS order_day
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE)
        |      BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'""".stripMargin,
    // the Catalyst-FileIndex twin serves the identical table through
    // spark.read-shaped planning: same oracle, verbatim
    "q_store_skip_fileindex" ->
      """SELECT o_orderkey, o_custkey,
        |       CAST(o_totalprice AS DOUBLE) AS total,
        |       CAST(o_orderdate AS DATE) AS order_day
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE)
        |      BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'""".stripMargin,
    // the two-level (partition dir + file stats) prune serves a
    // partition slice x key range; the layout is Spark-side
    // machinery, the oracle is the plain filter
    "q_store_skip_partitioned" ->
      """SELECT o_orderkey, o_custkey,
        |       CAST(o_totalprice AS DOUBLE) AS total,
        |       CAST(o_orderdate AS DATE) AS order_day,
        |       CAST(o_custkey % 4 AS INT) AS p
        |FROM orders
        |WHERE o_custkey % 4 = 1
        |  AND o_orderkey BETWEEN 1000 AND 50000""".stripMargin,

    // dynamic file pruning: the pruning (runtime join-driven file
    // skipping) is Spark-side machinery — the oracle is the plain
    // star join with the same derived ingest-batch manifest; sums
    // ride DECIMAL(18,2) and surface as DOUBLE on both sides
    "q_store_skip_dynamic" ->
      """WITH w AS (SELECT CAST(ceil((max(o_orderkey) + 1) / 16.0)
        |                       AS BIGINT) AS w FROM orders),
        |     dim AS (SELECT o_orderkey FROM orders, w
        |             WHERE CAST(floor(o_orderkey / w.w) AS BIGINT) = 7)
        |SELECT l.l_orderkey,
        |       CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2)))
        |                 AS VARCHAR) AS DOUBLE) AS sum_qty,
        |       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
        |                 AS VARCHAR) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem l JOIN dim ON l.l_orderkey = dim.o_orderkey
        |GROUP BY 1""".stripMargin,

    // the partitioned three-level prune (directories + file stats +
    // runtime keys) is read-path machinery — the oracle is the plain
    // star join with the p and key-range predicates stated literally;
    // the partition column p is PART OF THE HASHED OUTPUT, so the V2
    // partition-value reconstitution is oracle-gated per run
    "q_store_skip_dynamic_part" ->
      """WITH w AS (SELECT CAST(ceil((max(o_orderkey) + 1) / 16.0)
        |                       AS BIGINT) AS w FROM orders),
        |     dim AS (SELECT o_orderkey FROM orders, w
        |             WHERE CAST(floor(o_orderkey / w.w) AS BIGINT) = 7)
        |SELECT l.l_orderkey,
        |       CAST(l.l_orderkey % 4 AS INT) AS p,
        |       CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2)))
        |                 AS VARCHAR) AS DOUBLE) AS sum_qty,
        |       count(*) AS n_items
        |FROM lineitem l, dim, w
        |WHERE l.l_orderkey = dim.o_orderkey
        |  AND l.l_orderkey % 4 = 1
        |  AND l.l_orderkey < 12 * w.w
        |GROUP BY 1, 2""".stripMargin,

    // the z-ordered store serves a 2-D slice; the layout (and the
    // in-query files-kept < files-present require) is Spark-side
    // machinery — the oracle is the plain 2-D filter
    "q_store_skip_zorder" ->
      """SELECT o_orderkey, o_custkey,
        |       CAST(o_totalprice AS DOUBLE) AS total,
        |       CAST(o_orderdate AS DATE) AS order_day
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE)
        |      BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |  AND o_custkey BETWEEN 1 AND 100""".stripMargin,

    // open/close = the value at rank 1 of the asc/desc (ts, id)
    // orderings; position decides, not null-skipping
    "q_ohlc_hourly" ->
      """WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
        |             value,
        |             row_number() OVER (PARTITION BY event_type,
        |               date_trunc('hour', ts)
        |               ORDER BY ts, event_id) AS rn_a,
        |             row_number() OVER (PARTITION BY event_type,
        |               date_trunc('hour', ts)
        |               ORDER BY ts DESC, event_id DESC) AS rn_d
        |           FROM events)
        |SELECT event_type, bucket,
        |       max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |       max(value) AS high, min(value) AS low,
        |       max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |       count(*) AS n_events,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR)
        |            AS DOUBLE) AS sum_value
        |FROM b GROUP BY 1, 2""".stripMargin,

    // generate_series is inclusive on both engines; last_value
    // IGNORE NULLS carries the close forward
    "q_gapfill_hourly" ->
      """WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
        |             value,
        |             row_number() OVER (PARTITION BY event_type,
        |               date_trunc('hour', ts)
        |               ORDER BY ts DESC, event_id DESC) AS rn_d
        |           FROM events),
        |c AS (SELECT event_type, bucket,
        |        max(CASE WHEN rn_d = 1 THEN value END) AS close
        |      FROM b GROUP BY 1, 2),
        |span AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
        |         FROM c GROUP BY 1),
        |grid AS (SELECT event_type,
        |           unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
        |             AS bucket
        |         FROM span)
        |SELECT g.event_type, g.bucket,
        |       last_value(c.close IGNORE NULLS) OVER (
        |         PARTITION BY g.event_type ORDER BY g.bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS close_filled,
        |       CAST(CASE WHEN c.close IS NULL THEN 1 ELSE 0 END AS INT)
        |         AS filled
        |FROM grid g LEFT JOIN c
        |  ON c.event_type = g.event_type AND c.bucket = g.bucket""".stripMargin,

    // weeks are date_trunc Mondays on both engines; the offset is an
    // exact integer day-diff division (multiples of 7 only)
    "q_retention_cohorts" ->
      """WITH w AS (SELECT DISTINCT user_id,
        |             CAST(date_trunc('week', ts) AS DATE) AS week
        |           FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1)
        |SELECT c.cohort_week,
        |       CAST(date_diff('day', c.cohort_week, w.week) // 7
        |            AS BIGINT) AS week_offset,
        |       count(*) AS n_users
        |FROM w JOIN c ON c.user_id = w.user_id
        |GROUP BY 1, 2""".stripMargin,

    "q_cost_center" ->
      """SELECT array_to_string(string_split(p_name, ' ')[1:3], ' ') AS cost_center,
        |       count(*) AS n
        |FROM part GROUP BY 1""".stripMargin,

    "q_multi_precision_join" ->
      """WITH data AS (
        |  SELECT p_partkey,
        |         array_to_string(string_split(p_name, ' ')[1:3], ' ') AS loc
        |  FROM part),
        |z3 AS (SELECT DISTINCT loc AS z FROM data),
        |z2 AS (SELECT DISTINCT array_to_string(string_split(p_name, ' ')[1:2], ' ') AS z FROM part)
        |SELECT DISTINCT p_partkey, z FROM (
        |  SELECT d.p_partkey, z3.z FROM data d JOIN z3 ON d.loc = z3.z
        |  UNION ALL
        |  SELECT d.p_partkey, z2.z FROM data d
        |  JOIN z2 ON array_to_string(string_split(d.loc, ' ')[1:2], ' ') = z2.z
        |)""".stripMargin,

    "q_latest_file_parse" ->
      """SELECT lang,
        |       max(CAST(nullif(regexp_extract(source, '([0-9]+)', 1), '') AS BIGINT)) AS max_src
        |FROM documents GROUP BY lang""".stripMargin,

    "q_master_table" ->
      """SELECT DISTINCT o.o_orderkey, o.o_custkey,
        |       CAST(o.o_orderdate AS DATE) AS order_day, o.o_orderstatus
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey""".stripMargin,

    "q_child_table" ->
      """SELECT l_orderkey AS o_orderkey, l_linenumber, l_partkey, l_quantity,
        |       l_extendedprice * (1.0 - l_discount) AS net_price
        |FROM lineitem""".stripMargin,

    "q_range_lookup" ->
      """WITH ranges AS (
        |  SELECT DISTINCT CAST(floor(p_size / 10) * 10 AS BIGINT) AS low,
        |         CAST(floor(p_size / 10) * 10 + 9 AS BIGINT) AS high,
        |         CAST(floor(p_size / 10) + 1 AS BIGINT) AS stf_cnt
        |  FROM part)
        |SELECT r.stf_cnt, count(*) AS n
        |FROM lineitem l JOIN ranges r
        |  ON l.l_quantity >= r.low AND l.l_quantity <= r.high
        |GROUP BY 1""".stripMargin,

    "q_batch_assign" ->
      """SELECT c_custkey,
        |       CAST(floor((row_number() OVER (ORDER BY c_custkey) - 1) / 50.0) AS BIGINT) AS batch_id
        |FROM customer""".stripMargin,

    "q_shuffle_export" ->
      """SELECT doc_id, source,
        |       CAST(row_number() OVER (
        |         ORDER BY md5('epoch0|' || CAST(doc_id AS VARCHAR))) - 1
        |         AS BIGINT) AS shuffle_rank
        |FROM documents""".stripMargin,

    // identical double boundary math: ceil(n·c) over IEEE doubles
    "q_split_exact" ->
      """WITH r AS (
        |  SELECT doc_id,
        |         row_number() OVER (
        |           ORDER BY md5('fold0|' || CAST(doc_id AS VARCHAR))) - 1
        |           AS rk,
        |         (SELECT count(*) FROM documents) AS n
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN rk < ceil(n * 0.8) THEN 'train'
        |            WHEN rk < ceil(n * 0.9) THEN 'val'
        |            ELSE 'test' END AS split
        |FROM r""".stripMargin,

    "q_retention_filter" ->
      """SELECT event_id, ts FROM events
        |WHERE ts >= (SELECT max(ts) - INTERVAL 14 DAY FROM events)""".stripMargin,

    "q_backfill_range" ->
      """SELECT o_orderkey, o_orderdate FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'""".stripMargin,
    // the skipped-read twin serves the identical range through the
    // sorted store + Catalyst FileIndex: same oracle, verbatim
    "q_backfill_range_store" ->
      """SELECT o_orderkey, o_orderdate FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'""".stripMargin,

    "q_cleanse_text" ->
      s"""SELECT doc_id, md5($normSql) AS clean_hash
        |FROM documents""".stripMargin,

    "q_topn_per_group" ->
      """SELECT o_orderpriority, CAST(rn AS BIGINT) AS rnk, o_orderkey, o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_orderpriority
        |                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3""".stripMargin,

    // ---- LLM-training-data pipeline oracles ----
    // Shared normalization (mirrors Cleanser.normalized; the corpus has
    // no \r so plain-newline replace equals the lookbehind repair).
    "q_dedup_exact" ->
      s"""SELECT md5($normSql) AS fp, min(doc_id) AS canonical_id,
        |       count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,

    // Containment replay: the q22 candidate CTEs, scored per
    // direction — n_common / |own shingle set| — and kept when
    // either direction clears 0.8. Distinct string 3-gram sets have
    // the same cardinalities as the hashed sets (collisions
    // vanishing), exactly the q22 equivalence.
    "q_dedup_containment" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') s
        |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) i)),
        |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_common
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
        |       CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
        |       CAST(n_common AS DOUBLE) / ca.n AS cont_a,
        |       CAST(n_common AS DOUBLE) / cb.n AS cont_b
        |FROM pairs JOIN cnt ca ON ca.doc_id = id_a
        |           JOIN cnt cb ON cb.doc_id = id_b
        |WHERE greatest(CAST(n_common AS DOUBLE) / ca.n,
        |               CAST(n_common AS DOUBLE) / cb.n) >= 0.8""".stripMargin,

    "q_dedup_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') s
        |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) i)),
        |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_common
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |       CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jaccard
        |FROM pairs JOIN cnt ca ON ca.doc_id = id_a
        |           JOIN cnt cb ON cb.doc_id = id_b
        |WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5""".stripMargin,

    // The incremental pass replayed in SQL: same shingle inverted
    // index, but the candidate join's right side is restricted to NEW
    // docs (is_ref = 0) and a pair qualifies when the left is a
    // reference doc (any id) or a smaller-id new doc — id_b is always
    // the new doc at risk, mirroring Dedup.incrementalJaccardPairs.
    "q_dedup_incremental" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') s
        |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) i)),
        |m AS (SELECT doc_id, s,
        |             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS is_ref
        |      FROM sh),
        |cnt AS (SELECT doc_id, count(*) n FROM m GROUP BY 1),
        |pairs AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_common
        |          FROM m a JOIN m b ON a.s = b.s AND b.is_ref = 0
        |           AND (a.is_ref = 1 OR a.doc_id < b.doc_id)
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |       CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jaccard
        |FROM pairs JOIN cnt ca ON ca.doc_id = id_a
        |           JOIN cnt cb ON cb.doc_id = id_b
        |WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5""".stripMargin,

    // Incremental containment replay: the q56 candidate orientation
    // (id_b new; ref×new ∪ new×new), the q107 per-direction scoring.
    "q_dedup_containment_incremental" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') s
        |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) i)),
        |m AS (SELECT doc_id, s,
        |             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS is_ref
        |      FROM sh),
        |cnt AS (SELECT doc_id, count(*) n FROM m GROUP BY 1),
        |pairs AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_common
        |          FROM m a JOIN m b ON a.s = b.s AND b.is_ref = 0
        |           AND (a.is_ref = 1 OR a.doc_id < b.doc_id)
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
        |       CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
        |       CAST(n_common AS DOUBLE) / ca.n AS cont_a,
        |       CAST(n_common AS DOUBLE) / cb.n AS cont_b
        |FROM pairs JOIN cnt ca ON ca.doc_id = id_a
        |           JOIN cnt cb ON cb.doc_id = id_b
        |WHERE greatest(CAST(n_common AS DOUBLE) / ca.n,
        |               CAST(n_common AS DOUBLE) / cb.n) >= 0.8""".stripMargin,

    // The seeded containment ESTIMATOR replayed in SQL end-to-end:
    // md5 signatures + distinct-shingle sizes → single-position band
    // keys (md5 of the one-element slice, matching Spark's
    // concat_ws on a 1-slice) → bucket equi-join → agreement
    // fraction → Broder arithmetic in the SAME operation order as
    // the Spark column graph (ej/(1+ej)*(na+nb) then /n, least,
    // greatest), so doubles match bit-for-bit.
    "q_dedup_containment_minhash_seeded" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |sh AS (SELECT doc_id,
        |         list_transform(generate_series(0, len(w)-3),
        |           i -> array_to_string(w[i+1:i+3], ' ')) shl
        |       FROM t WHERE len(w) >= 3),
        |sig AS (SELECT doc_id,
        |          list_transform(generate_series(0, 15), k ->
        |            list_min(list_transform(shl,
        |              s -> md5(CAST(k AS VARCHAR) || '|' || s)))) sig,
        |          CAST(len(list_distinct(shl)) AS BIGINT) n_sh
        |        FROM sh),
        |banded AS (SELECT doc_id, sig, n_sh, b,
        |             md5(array_to_string(sig[b+1:b+1], '|')) bh
        |           FROM sig, LATERAL (SELECT unnest(generate_series(0, 15)) b)),
        |cand AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b,
        |                a.sig sa, b.sig sb, a.n_sh na, b.n_sh nb
        |         FROM banded a JOIN banded b
        |           ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |est AS (SELECT id_a, id_b, na, nb,
        |          CAST(len(list_filter(generate_series(1, 16),
        |            i -> sa[i] = sb[i])) AS DOUBLE) / 16 AS est_jaccard
        |        FROM cand),
        |sc AS (SELECT id_a, id_b, est_jaccard,
        |         least(CAST(1.0 AS DOUBLE),
        |           est_jaccard / (1.0 + est_jaccard) * (na + nb) / na)
        |           AS cont_a,
        |         least(CAST(1.0 AS DOUBLE),
        |           est_jaccard / (1.0 + est_jaccard) * (na + nb) / nb)
        |           AS cont_b
        |       FROM est)
        |SELECT id_a, id_b, est_jaccard, cont_a, cont_b
        |FROM sc WHERE greatest(cont_a, cont_b) >= 0.8""".stripMargin,

    // The seeded-MinHash LSH pipeline replayed in SQL: shingles →
    // per-seed md5 min (lexicographic min of equal-width hex ==
    // numeric min, portable) → band keys (md5 of '|'-joined slice,
    // matching Spark's concat_ws) → bucket equi-join → agreement
    // fraction ≥ threshold. est_jaccard is k/16 — exact in binary FP.
    "q_dedup_minhash_seeded" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |sh AS (SELECT doc_id,
        |         list_transform(generate_series(0, len(w)-3),
        |           i -> array_to_string(w[i+1:i+3], ' ')) shl
        |       FROM t WHERE len(w) >= 3),
        |sig AS (SELECT doc_id,
        |          list_transform(generate_series(0, 15), k ->
        |            list_min(list_transform(shl,
        |              s -> md5(CAST(k AS VARCHAR) || '|' || s)))) sig
        |        FROM sh),
        |banded AS (SELECT doc_id, sig, b,
        |             md5(array_to_string(sig[b*4+1:b*4+4], '|')) bh
        |           FROM sig, LATERAL (SELECT unnest(generate_series(0, 3)) b)),
        |cand AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b,
        |                a.sig sa, b.sig sb
        |         FROM banded a JOIN banded b
        |           ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |       CAST(len(list_filter(generate_series(1, 16),
        |         i -> sa[i] = sb[i])) AS DOUBLE) / 16 AS est_jaccard
        |FROM cand
        |WHERE CAST(len(list_filter(generate_series(1, 16),
        |  i -> sa[i] = sb[i])) AS DOUBLE) / 16 >= 0.5""".stripMargin,

    // The seeded-SimHash pipeline replayed in SQL: distinct tokens
    // (list_distinct == Spark array_distinct for this input) → 60-bit
    // md5-prefix hash per token → 60 majority-vote bits ((v >> j) & 1
    // integer votes, GENERATED for j = 0..59) → 4 band slices →
    // bucket equi-join → hamming ≤ 3 verify (char compares). The one
    // engine-specific link is hex→int (conv vs CAST '0x'), verified
    // value-identical for 15-char lowercase hex.
    "q_dedup_simhash_seeded" -> simhashSeededOracleSql,

    // The full pipeline composed from the per-stage oracles: quality
    // gates (token/stopword/lang) → exact dedup (min id per md5 of
    // normalized text) → jaccard near-dup drop (higher id of each
    // pair ≥ 0.8). All stage arithmetic is integer counts and one
    // double division — bit-identical across engines.
    "q_training_prep_jaccard" ->
      s"""WITH base AS (
        |  SELECT doc_id, text,
        |    string_split(text, ' ') w,
        |    string_split(lower(text), ' ') lw,
        |    $normSql AS norm
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, text, norm,
        |    CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(lw, x -> x IN ('the','of','and','a','to','is'))) AS DOUBLE)
        |      / CAST(len(w) AS DOUBLE) AS stop_ratio,
        |    len(list_filter(lw, x -> x IN ('the','of','and','a','to','is'))) en,
        |    len(list_filter(lw, x -> x IN ('el','la','de','los','y','es'))) es,
        |    len(list_filter(lw, x -> x IN ('der','die','das','und','ein'))) de,
        |    len(list_filter(lw, x -> x IN ('le','la','les','de','et'))) fr
        |  FROM base),
        |staged AS (
        |  SELECT doc_id AS id, text, norm, n_tokens, stop_ratio,
        |    CASE WHEN text IS NULL THEN 'und'
        |         WHEN greatest(en, es, de, fr) = 0 THEN 'und'
        |         WHEN en >= es AND en >= de AND en >= fr THEN 'en'
        |         WHEN es >= de AND es >= fr THEN 'es'
        |         WHEN de >= fr THEN 'de'
        |         ELSE 'fr' END AS lang_pred
        |  FROM scored),
        |gated AS (SELECT * FROM staged
        |          WHERE n_tokens >= 20 AND stop_ratio <= 0.9
        |            AND lang_pred IN ('en','es','de','fr')),
        |exact AS (SELECT g.* FROM gated g
        |          JOIN (SELECT min(id) AS cid FROM gated
        |                GROUP BY md5(norm)) c ON g.id = c.cid),
        |sh AS (SELECT DISTINCT id, array_to_string(nw[i:i+2], ' ') s
        |       FROM (SELECT id, string_split(norm, ' ') nw FROM exact),
        |            LATERAL (SELECT unnest(generate_series(1, len(nw)-2)) i)),
        |cnt AS (SELECT id, count(*) n FROM sh GROUP BY 1),
        |p AS (SELECT a.id id_a, b.id id_b, count(*) n_common
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        |      GROUP BY 1, 2),
        |dl AS (SELECT DISTINCT id_b
        |       FROM p JOIN cnt ca ON ca.id = id_a
        |              JOIN cnt cb ON cb.id = id_b
        |       WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.8)
        |SELECT id, text, n_tokens, lang_pred FROM exact
        |WHERE id NOT IN (SELECT id_b FROM dl)""".stripMargin,

    // md5 hex is identical across engines; lexicographic compare of
    // equal-width lowercase hex == numeric compare. The CASE is
    // GENERATED from the same rates map + Sampling.hexThreshold the
    // query uses (constant-interpolation oracle pattern) — one source
    // of truth for the thresholds.
    "q_sample_stratified" -> sampleOracleSql,

    // Temperature mixing replay: ⌊√count⌋ weights (IEEE sqrt of an
    // integer floors identically in both engines below 2^50),
    // integral-div budgets (DuckDB `//` == Spark `div`), md5-ordered
    // per-lang ranks gated at the budget.
    "q_domain_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |w AS (SELECT lang, CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) wt
        |      FROM c),
        |t AS (SELECT sum(wt) tot FROM w),
        |b AS (SELECT lang, wt * 250 // tot AS budget FROM w, t),
        |r AS (SELECT doc_id, lang,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) rn
        |      FROM documents)
        |SELECT r.doc_id, r.lang, CAST(rn AS BIGINT) AS rnk
        |FROM r JOIN b ON r.lang = b.lang
        |WHERE budget >= 1 AND rn <= budget""".stripMargin,

    // stride = 200 - 40 = 160; chunk i = chars [i*160+1, i*160+200];
    // last index = max(0, floor((len-41)/160.0)) — a chunk exists only
    // if it adds characters past the previous chunk's overlap
    "q_chunk_text" ->
      """SELECT doc_id, i AS chunk_idx, substr(text, CAST(i*160+1 AS INT), 200) AS chunk
        |FROM documents,
        |     LATERAL (SELECT unnest(generate_series(0,
        |                greatest(0, CAST(floor((length(text)-41)/160.0) AS BIGINT)))) i)
        |WHERE text IS NOT NULL AND length(text) > 0""".stripMargin,

    // pack = integer bucket of the cumulative token count BEFORE the
    // row (doc order) — pure integer window arithmetic, exact
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) n_tokens
        |           FROM documents)
        |SELECT doc_id, n_tokens,
        |       CAST(coalesce(sum(coalesce(n_tokens, 0))
        |                  OVER (ORDER BY doc_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING
        |                                 AND 1 PRECEDING), 0)
        |         // 2048 AS BIGINT) AS pack_id
        |FROM t""".stripMargin,

    // q64's margin chain feeding the q40-style cumulative pack, in
    // (score DESC, doc_id) order — ORDER BY -score mirrors the Spark
    // side's struct(-score, id) range sort on identical doubles
    "q_curriculum_pack" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, list_concat(w, CASE WHEN len(w) >= 2
        |         THEN list_transform(generate_series(1, len(w) - 1),
        |                             i -> w[i] || ' ' || w[i + 1])
        |         ELSE [] END) f
        |      FROM t WHERE len(w) >= 1),
        |feats AS (SELECT doc_id, unnest(f) tok FROM g),
        |wts AS (SELECT doc_id,
        |          (CAST(concat('0x', substr(md5(CAST(
        |             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
        |               % 4096 AS VARCHAR)), 1, 15)) AS BIGINT) % 2001)
        |            - 1000 AS w
        |        FROM feats),
        |s AS (SELECT doc_id, CAST(sum(w) AS DOUBLE) / count(*) AS score
        |      FROM wts GROUP BY doc_id),
        |j AS (SELECT s.doc_id,
        |             CAST(len(string_split(d.text, ' ')) AS BIGINT) n_tokens,
        |             s.score
        |      FROM s JOIN documents d ON d.doc_id = s.doc_id)
        |SELECT doc_id, n_tokens, score,
        |       CAST(coalesce(sum(coalesce(n_tokens, 0))
        |                  OVER (ORDER BY -score, doc_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING
        |                                 AND 1 PRECEDING), 0)
        |         // 2048 AS BIGINT) AS pack_id
        |FROM j""".stripMargin,

    // Connected components = min reachable id: enumerate reachability
    // with a recursive CTE (UNION dedups, so it terminates), then
    // MIN per node. Output matches Dedup.connectedComponents: only
    // nodes appearing in a pair, labeled by component-minimum id.
    "q_dedup_clusters_jaccard" ->
      s"""WITH RECURSIVE
        |t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') s
        |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) i)),
        |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_common
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |pr AS (SELECT id_a, id_b
        |       FROM p JOIN cnt ca ON ca.doc_id = id_a
        |              JOIN cnt cb ON cb.doc_id = id_b
        |       WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5),
        |e AS (SELECT id_a src, id_b dst FROM pr UNION SELECT id_b, id_a FROM pr),
        |reach(id, r) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src
        |)
        |SELECT CAST(id AS BIGINT) AS id, CAST(MIN(r) AS BIGINT) AS comp
        |FROM reach GROUP BY id""".stripMargin,

    "q_dedup_embedding" ->
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) e FROM embeddings
        |           WHERE list_inner_product(embedding, embedding) > 0),
        |b AS ($embBandSql)
        |, cand AS (SELECT DISTINCT a.id id_a, b2.id id_b
        |           FROM b a JOIN b b2 ON a.band = b2.band AND a.bits = b2.bits
        |                               AND a.id < b2.id)
        |SELECT c.id_a, c.id_b, list_cosine_similarity(va.e, vb.e) AS cosine
        |FROM cand c JOIN v va ON va.id = c.id_a JOIN v vb ON vb.id = c.id_b
        |WHERE list_cosine_similarity(va.e, vb.e) >= 0.4""".stripMargin,

    // q25's oracle with the incremental orientation: id_b always the
    // new doc (vec_id % 3 <> 0); ref→new pairs carry the ref on id_a
    // regardless of id order, new×new pairs keep a < b
    "q_dedup_embedding_incremental" ->
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) e FROM embeddings
        |           WHERE list_inner_product(embedding, embedding) > 0),
        |b AS ($embBandSql)
        |, cand AS (SELECT DISTINCT a.id id_a, b2.id id_b
        |           FROM b a JOIN b b2 ON a.band = b2.band AND a.bits = b2.bits
        |           WHERE a.id % 3 = 0 AND b2.id % 3 <> 0
        |           UNION
        |           SELECT DISTINCT a.id, b2.id
        |           FROM b a JOIN b b2 ON a.band = b2.band AND a.bits = b2.bits
        |                               AND a.id < b2.id
        |           WHERE a.id % 3 <> 0 AND b2.id % 3 <> 0)
        |SELECT c.id_a, c.id_b, list_cosine_similarity(va.e, vb.e) AS cosine
        |FROM cand c JOIN v va ON va.id = c.id_a JOIN v vb ON vb.id = c.id_b
        |WHERE list_cosine_similarity(va.e, vb.e) >= 0.4""".stripMargin,

    // Linear-interpolation quantiles: Spark `percentile` and DuckDB
    // `quantile_cont` share the (n-1)·p convention; ROUND(…, 2) on
    // both sides absorbs last-ulp interpolation noise.
    "q_length_quantiles" ->
      """WITH t AS (SELECT source,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) n
        |           FROM documents WHERE text IS NOT NULL)
        |SELECT source, count(*) AS n_docs,
        |       ROUND(quantile_cont(n, 0.25), 2) AS p25,
        |       ROUND(quantile_cont(n, 0.50), 2) AS p50,
        |       ROUND(quantile_cont(n, 0.75), 2) AS p75,
        |       ROUND(quantile_cont(n, 0.90), 2) AS p90
        |FROM t GROUP BY source""".stripMargin,

    // Semantic decontamination replayed in SQL: identical band CTE to
    // q_dedup_embedding, but the candidate join crosses the bench
    // slice (id % 10 = 0) against the train slice, then rolls up per
    // train doc (count + max over IDENTICAL doubles — order-free, so
    // hash-exact without rounding).
    "q_decontaminate_semantic" ->
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) e FROM embeddings
        |           WHERE list_inner_product(embedding, embedding) > 0),
        |b AS ($embBandSql)
        |, cand AS (SELECT DISTINCT a.id bench_id, t.id doc_id
        |           FROM b a JOIN b t ON a.band = t.band AND a.bits = t.bits
        |           WHERE a.id % 10 = 0 AND t.id % 10 <> 0),
        |m AS (SELECT c.doc_id, list_cosine_similarity(va.e, vt.e) AS cosine
        |      FROM cand c JOIN v va ON va.id = c.bench_id
        |                  JOIN v vt ON vt.id = c.doc_id
        |      WHERE list_cosine_similarity(va.e, vt.e) >= 0.4)
        |SELECT doc_id, count(*) AS n_matched, max(cosine) AS max_cosine
        |FROM m GROUP BY 1""".stripMargin,

    "q_dedup_embedding_strict" ->
      s"""WITH u AS (SELECT vec_id AS id, embedding AS e0 FROM embeddings
        |           UNION ALL
        |           SELECT vec_id + 10000000,
        |                  list_transform(embedding,
        |                    x -> CAST(CAST(x AS DOUBLE) * 1.25 AS FLOAT))
        |           FROM embeddings WHERE vec_id < 5),
        |v AS (SELECT id, CAST(e0 AS DOUBLE[]) e FROM u
        |      WHERE list_inner_product(e0, e0) > 0),
        |b AS ($embBandStrictSql)
        |, cand AS (SELECT DISTINCT a.id id_a, b2.id id_b
        |           FROM b a JOIN b b2 ON a.band = b2.band AND a.bits = b2.bits
        |                               AND a.id < b2.id)
        |SELECT c.id_a, c.id_b,
        |       list_inner_product(va.e, vb.e) /
        |         (sqrt(list_inner_product(va.e, va.e)) *
        |          sqrt(list_inner_product(vb.e, vb.e))) AS cosine
        |FROM cand c JOIN v va ON va.id = c.id_a JOIN v vb ON vb.id = c.id_b
        |WHERE list_inner_product(va.e, vb.e) /
        |        (sqrt(list_inner_product(va.e, va.e)) *
        |         sqrt(list_inner_product(vb.e, vb.e))) >= 0.9""".stripMargin,

    "q_ann_lsh_bucketed" -> lshOracleSql,
    "q_ann_multiprobe" -> multiProbeOracleSql,

    // IVF with md5 seeding and lloydIters=0: centroids = 16 corpus
    // vectors with smallest md5(id) (id tie-break); corpus assignment
    // mirrors max_by(struct(score, c_id)) = score DESC, c_id DESC;
    // query probes mirror TopK.perGroup = score DESC, c_id ASC; final
    // ranking mirrors rankTopK = score DESC, n_id ASC. All scores are
    // dot/(norm·norm) in doubles — bit-identical across engines.
    "q_ann_ivf_seeded" ->
      """WITH v AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) e,
        |         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                                 CAST(embedding AS DOUBLE[]))) n
        |  FROM embeddings
        |  WHERE list_inner_product(embedding, embedding) > 0),
        |seed AS (SELECT id AS c_id, e AS cv, n AS cn FROM v
        |         ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 16),
        |ca AS (SELECT id, c_id FROM (
        |         SELECT v.id, s.c_id,
        |                row_number() OVER (PARTITION BY v.id
        |                  ORDER BY list_inner_product(v.e, s.cv)/(v.n*s.cn) DESC,
        |                           s.c_id DESC) rn
        |         FROM v CROSS JOIN seed s)
        |       WHERE rn = 1),
        |qp AS (SELECT id, c_id FROM (
        |         SELECT v.id, s.c_id,
        |                row_number() OVER (PARTITION BY v.id
        |                  ORDER BY list_inner_product(v.e, s.cv)/(v.n*s.cn) DESC,
        |                           s.c_id ASC) rn
        |         FROM v CROSS JOIN seed s WHERE v.id < 8)
        |       WHERE rn <= 4),
        |sc AS (SELECT q.id q_id, c.id n_id,
        |              list_inner_product(qv.e, cv2.e)/(qv.n*cv2.n) score
        |       FROM qp q JOIN ca c ON q.c_id = c.c_id
        |            JOIN v qv ON qv.id = q.id
        |            JOIN v cv2 ON cv2.id = c.id
        |       WHERE c.id <> q.id)
        |SELECT q_id, CAST(rn AS BIGINT) AS rnk, n_id, score
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |                                   ORDER BY score DESC, n_id) rn
        |      FROM sc)
        |WHERE rn <= 5""".stripMargin,

    // Incremental IVF: identical replay to q_ann_ivf_seeded except
    // the seed set draws from the REFERENCE slice only (id % 3 = 0) —
    // assignment being pointwise, the union of ref and batch
    // assignments over the frozen centroids needs no special form in
    // SQL; it IS the assignment of every vector.
    // SemDeDup replay: seeded centroids over ALL vectors, hard
    // assignment (ties to larger c_id, as max_by), within-cluster
    // smaller-id cosine test.
    "q_semdedup" ->
      """WITH v AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) e,
        |         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                                 CAST(embedding AS DOUBLE[]))) n
        |  FROM embeddings
        |  WHERE list_inner_product(embedding, embedding) > 0),
        |seed AS (SELECT id AS c_id, e AS cv, n AS cn FROM v
        |         ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 16),
        |ca AS (SELECT id, c_id FROM (
        |         SELECT v.id, s.c_id,
        |                row_number() OVER (PARTITION BY v.id
        |                  ORDER BY list_inner_product(v.e, s.cv)/(v.n*s.cn) DESC,
        |                           s.c_id DESC) rn
        |         FROM v CROSS JOIN seed s)
        |       WHERE rn = 1),
        |dr AS (SELECT DISTINCT a.id FROM ca a
        |       JOIN ca b ON a.c_id = b.c_id AND a.id > b.id
        |       JOIN v va ON va.id = a.id
        |       JOIN v vb ON vb.id = b.id
        |       WHERE list_inner_product(va.e, vb.e)/(va.n*vb.n) >= 0.4)
        |SELECT ca.id AS vec_id, ca.c_id, (dr.id IS NULL) AS keep
        |FROM ca LEFT JOIN dr ON ca.id = dr.id""".stripMargin,

    "q_ann_ivf_incremental" ->
      """WITH v AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) e,
        |         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                                 CAST(embedding AS DOUBLE[]))) n
        |  FROM embeddings
        |  WHERE list_inner_product(embedding, embedding) > 0),
        |seed AS (SELECT id AS c_id, e AS cv, n AS cn FROM v
        |         WHERE id % 3 = 0
        |         ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 16),
        |ca AS (SELECT id, c_id FROM (
        |         SELECT v.id, s.c_id,
        |                row_number() OVER (PARTITION BY v.id
        |                  ORDER BY list_inner_product(v.e, s.cv)/(v.n*s.cn) DESC,
        |                           s.c_id DESC) rn
        |         FROM v CROSS JOIN seed s)
        |       WHERE rn = 1),
        |qp AS (SELECT id, c_id FROM (
        |         SELECT v.id, s.c_id,
        |                row_number() OVER (PARTITION BY v.id
        |                  ORDER BY list_inner_product(v.e, s.cv)/(v.n*s.cn) DESC,
        |                           s.c_id ASC) rn
        |         FROM v CROSS JOIN seed s WHERE v.id < 8)
        |       WHERE rn <= 4),
        |sc AS (SELECT q.id q_id, c.id n_id,
        |              list_inner_product(qv.e, cv2.e)/(qv.n*cv2.n) score
        |       FROM qp q JOIN ca c ON q.c_id = c.c_id
        |            JOIN v qv ON qv.id = q.id
        |            JOIN v cv2 ON cv2.id = c.id
        |       WHERE c.id <> q.id)
        |SELECT q_id, CAST(rn AS BIGINT) AS rnk, n_id, score
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |                                   ORDER BY score DESC, n_id) rn
        |      FROM sc)
        |WHERE rn <= 5""".stripMargin,

    // PQ encode replay: the same md5-ordered 16-vector sample
    // supplies every subspace's codewords; argmin-L2 as the margin
    // 2·dot − |c|² (|v_m|² cancels within a subspace), ties to the
    // larger code on both engines. Output is pure integers.
    "q_pq_encode_seeded" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev
        |           FROM embeddings),
        |cw AS (SELECT rn - 1 AS c, ev FROM (
        |         SELECT ev, row_number() OVER (
        |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) rn
        |         FROM v)
        |       WHERE rn <= 16),
        |subs AS (SELECT vec_id, sub, ev[sub*8+1 : sub*8+8] AS sv
        |         FROM v, LATERAL (SELECT unnest(generate_series(0, 7)) sub)),
        |cws AS (SELECT c, sub, ev[sub*8+1 : sub*8+8] AS cv
        |        FROM cw, LATERAL (SELECT unnest(generate_series(0, 7)) sub)),
        |sc AS (SELECT s.vec_id, s.sub, w.c,
        |              2*list_inner_product(s.sv, w.cv) -
        |                list_inner_product(w.cv, w.cv) AS margin
        |       FROM subs s JOIN cws w ON s.sub = w.sub)
        |SELECT vec_id, CAST(sub AS INT) AS sub, CAST(c AS INT) AS c
        |FROM (SELECT vec_id, sub, c,
        |             row_number() OVER (PARTITION BY vec_id, sub
        |                                ORDER BY margin DESC, c DESC) rn
        |      FROM sc)
        |WHERE rn = 1""".stripMargin,

    // Residual-PQ encode replay: q73's coarse assignment (seed →
    // cosine argmax, ties c_id DESC) → residual subtraction (double
    // arithmetic, identical operand order) → q76's argmin-margin
    // encode over residual slices. The codebook sample orders by
    // md5(id + 1000000) — see the query comment for why the bare id
    // is degenerate. Output is pure integers.
    "q_pq_residual_seeded" ->
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) e,
        |                  sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                                          CAST(embedding AS DOUBLE[]))) n
        |           FROM embeddings
        |           WHERE list_inner_product(embedding, embedding) > 0),
        |seed AS (SELECT id AS c_id, e AS cv, n AS cn FROM v
        |         ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 16),
        |ca AS (SELECT id, c_id FROM (
        |         SELECT v.id, s.c_id,
        |                row_number() OVER (PARTITION BY v.id
        |                  ORDER BY list_inner_product(v.e, s.cv)/(v.n*s.cn) DESC,
        |                           s.c_id DESC) rn
        |         FROM v CROSS JOIN seed s)
        |       WHERE rn = 1),
        |resid AS (SELECT ca.id, ca.c_id,
        |                 list_transform(generate_series(1, 64),
        |                   i -> v.e[i] - s.cv[i]) AS rv
        |          FROM ca JOIN v ON v.id = ca.id JOIN seed s ON s.c_id = ca.c_id),
        |cw AS (SELECT rn - 1 AS c, rv FROM (
        |         SELECT rv, row_number() OVER (
        |           ORDER BY md5(CAST(id + 1000000 AS VARCHAR)), id) rn
        |         FROM resid)
        |       WHERE rn <= 16),
        |subs AS (SELECT id, c_id, sub, rv[sub*8+1 : sub*8+8] AS sv
        |         FROM resid, LATERAL (SELECT unnest(generate_series(0, 7)) sub)),
        |cws AS (SELECT c, sub, rv[sub*8+1 : sub*8+8] AS cv
        |        FROM cw, LATERAL (SELECT unnest(generate_series(0, 7)) sub)),
        |sc AS (SELECT s.id, s.c_id, s.sub, w.c,
        |              2*list_inner_product(s.sv, w.cv) -
        |                list_inner_product(w.cv, w.cv) AS margin
        |       FROM subs s JOIN cws w ON s.sub = w.sub)
        |SELECT id AS vec_id, CAST(c_id AS BIGINT) AS c_id,
        |       CAST(sub AS INT) AS sub, CAST(c AS INT) AS c
        |FROM (SELECT id, c_id, sub, c,
        |             row_number() OVER (PARTITION BY id, sub
        |                                ORDER BY margin DESC, c DESC) rn
        |      FROM sc)
        |WHERE rn = 1""".stripMargin,

    "q_ann_topk_cosine" ->
      """WITH q AS (SELECT vec_id q_id, CAST(embedding AS DOUBLE[]) eq
        |           FROM embeddings WHERE vec_id < 8
        |             AND list_inner_product(embedding, embedding) > 0),
        |c AS (SELECT vec_id n_id, CAST(embedding AS DOUBLE[]) ec FROM embeddings
        |      WHERE list_inner_product(embedding, embedding) > 0),
        |s AS (SELECT q_id, n_id, list_cosine_similarity(eq, ec) score
        |      FROM q CROSS JOIN c WHERE n_id <> q_id)
        |SELECT q_id, CAST(rn AS BIGINT) AS rnk, n_id, score
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |                                   ORDER BY score DESC, n_id) rn
        |      FROM s)
        |WHERE rn <= 10""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id,
        |       CAST(length(text) AS BIGINT) AS n_chars_txt,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT) AS n_punct,
        |       CAST(len(list_filter(string_split(lower(text), ' '),
        |              x -> x IN ('the','of','and','a','to','is'))) AS DOUBLE)
        |         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
        |FROM documents""".stripMargin,

    "q_lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split(lower(text),' '), x -> x IN ('the','of','and','a','to','is'))) en,
        |    len(list_filter(string_split(lower(text),' '), x -> x IN ('el','la','de','los','y','es'))) es,
        |    len(list_filter(string_split(lower(text),' '), x -> x IN ('der','die','das','und','ein'))) de,
        |    len(list_filter(string_split(lower(text),' '), x -> x IN ('le','la','les','de','et'))) fr
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN text IS NULL THEN 'und'
        |            WHEN greatest(en, es, de, fr) = 0 THEN 'und'
        |            WHEN en >= es AND en >= de AND en >= fr THEN 'en'
        |            WHEN es >= de AND es >= fr THEN 'es'
        |            WHEN de >= fr THEN 'de'
        |            ELSE 'fr' END AS lang_pred
        |FROM s""".stripMargin,

    // max-count/total as exact integers on both sides; the Spark side
    // computes the max via a sorted-run fold, same result
    "q_quality_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |f AS (SELECT doc_id, w FROM t WHERE len(w) >= 2),
        |g AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') gram
        |      FROM f, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) i)),
        |c AS (SELECT doc_id, gram, count(*) n FROM g GROUP BY 1, 2)
        |SELECT doc_id,
        |       CAST(max(n) AS DOUBLE) / sum(n) AS top_bigram_frac
        |FROM c GROUP BY doc_id""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpeish_tokens
        |FROM documents""".stripMargin,

    // fp_roll: NULL text must stay NULL (list_prepend(0, NULL) would
    // otherwise conjure the hash of an empty doc)
    "q_fingerprint" ->
      s"""SELECT doc_id,
        |       md5($normSql) AS fp_md5,
        |       md5(substring($normSql, 1, 32)) AS fp_head,
        |       CASE WHEN text IS NULL THEN NULL ELSE list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split($normSql, ' '),
        |                          t -> CAST(length(t) AS BIGINT))),
        |         (h, x) -> (h * 31 + x) % 1000000007) END AS fp_roll
        |FROM documents""".stripMargin,

    // Same three redaction regexes, same order, same single-pass
    // global-replace semantics (DuckDB needs the explicit 'g' flag;
    // RE2 rewrites use \1 where Java uses $1). NULL text: concat in
    // both engines treats NULL as absorbing... DuckDB's || with NULL
    // yields NULL, Spark's concat too — identical.
    "q_redact_pii" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact user' || doc_id ||
        |          '@example.com id 123-45-6789 tel +1 (555) 010-' ||
        |          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |      '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<ID>', 'g'),
        |    '(^|[^0-9])(\+?[0-9][0-9()\-. ]{7,}[0-9])($|[^0-9])',
        |    '\1<PHONE>\3', 'g') AS redacted
        |FROM documents""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       upper(hex(encode(substring(text, 1, 8)))) AS header_hex,
        |       CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio'
        |            ELSE 'video' END AS media_kind
        |FROM documents""".stripMargin,

    // Byte-position enumeration replay of Multimodal.foldBytes: slot
    // j accumulates ord(char at i) - 128 over i ≡ j (mod 16). ord ==
    // utf-8 byte on the ASCII corpus; all 16 slots emitted (zero-fill
    // via the slots cross join) exactly like the Spark side; DuckDB's
    // SUM(int) is HUGEINT → cast back to BIGINT for schema parity.
    "q_multimodal_bytefold" ->
      """WITH pos AS (
        |  SELECT doc_id, text, unnest(range(1, length(text)+1)) AS i
        |  FROM documents
        |),
        |sums AS (
        |  SELECT doc_id, CAST((i-1) % 16 AS INT) AS slot,
        |         SUM(ord(substr(text, CAST(i AS INT), 1)) - 128) AS s
        |  FROM pos GROUP BY 1, 2
        |),
        |slots AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS slot)
        |SELECT d.doc_id, sl.slot,
        |       CAST(COALESCE(m.s, 0) AS BIGINT) AS fold_sum,
        |       CAST(COALESCE(length(d.text), 0) AS INT) AS n_bytes
        |FROM documents d
        |CROSS JOIN slots sl
        |LEFT JOIN sums m ON m.doc_id = d.doc_id AND m.slot = sl.slot""".stripMargin,

    // Aligned 8-token windows over RAW space-split tokens (no
    // normalization — reassembly must reproduce original bytes).
    // row_number==1 in the oracle == min(struct(id, seg)) in the
    // operator; DuckDB count(*)/sum need BIGINT casts (HUGEINT
    // otherwise) to match Spark's long schema.
    // q53's oracle with doc_id joined into the dedup partition key —
    // first occurrence WITHIN the doc survives, cross-doc repeats
    // are untouched
    "q_dedup_intradoc" ->
      """WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') w
        |           FROM documents),
        |b AS (SELECT doc_id, w, CAST(ceil(len(w) / 8.0) AS BIGINT) n_passages
        |      FROM t),
        |seg AS (SELECT doc_id, i AS seg_id,
        |               array_to_string(list_slice(w, i*8+1, i*8+8), ' ') ptext,
        |               len(list_slice(w, i*8+1, i*8+8)) = 8 AS eligible
        |        FROM b, LATERAL (SELECT unnest(range(n_passages)) i)),
        |keep AS (
        |  SELECT doc_id, seg_id, ptext FROM (
        |    SELECT doc_id, seg_id, ptext,
        |           row_number() OVER (PARTITION BY doc_id, ptext
        |                              ORDER BY seg_id) rn
        |    FROM seg WHERE eligible) WHERE rn = 1
        |  UNION ALL
        |  SELECT doc_id, seg_id, ptext FROM seg WHERE NOT eligible),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_kept,
        |               string_agg(ptext, ' ' ORDER BY seg_id) text_clean
        |        FROM keep GROUP BY doc_id)
        |SELECT b.doc_id, coalesce(agg.text_clean, '') AS text_clean,
        |       b.n_passages,
        |       b.n_passages - coalesce(agg.n_kept, 0) AS n_dropped
        |FROM b LEFT JOIN agg ON b.doc_id = agg.doc_id""".stripMargin,

    // CDC replay: boundary = md5-prefix of the trailing 3-gram mod
    // 16 == 0; chunks between boundaries; first-occurrence keep on
    // eligible (>= 3 token) chunks; reassembly by chunk order.
    "q_dedup_cdc" ->
      """WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') w
        |           FROM documents),
        |b AS (SELECT doc_id, w, len(w) n FROM t),
        |bd AS (SELECT doc_id, w, n,
        |         CASE WHEN n - 1 >= 3 THEN list_filter(
        |           generate_series(3, n - 1),
        |           i -> CAST(concat('0x', substr(md5(
        |             array_to_string(w[i-2:i], ' ')), 1, 15)) AS BIGINT)
        |             % 16 = 0)
        |         ELSE [] END bnds FROM b),
        |st AS (SELECT doc_id, w, n,
        |         list_concat([1], list_transform(bnds, x -> x + 1)) starts,
        |         list_concat(bnds, [n]) ends FROM bd),
        |seg AS (SELECT doc_id, CAST(j - 1 AS BIGINT) chunk_id,
        |          array_to_string(w[starts[j]:ends[j]], ' ') ctext,
        |          ends[j] - starts[j] + 1 AS n_tok
        |        FROM st, LATERAL (
        |          SELECT unnest(generate_series(1, len(starts))) j)),
        |keep AS (
        |  SELECT doc_id, chunk_id, ctext FROM (
        |    SELECT doc_id, chunk_id, ctext,
        |           row_number() OVER (PARTITION BY ctext
        |                              ORDER BY doc_id, chunk_id) rn
        |    FROM seg WHERE n_tok >= 3) WHERE rn = 1
        |  UNION ALL
        |  SELECT doc_id, chunk_id, ctext FROM seg WHERE n_tok < 3),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_kept,
        |               string_agg(ctext, ' ' ORDER BY chunk_id) text_clean
        |        FROM keep GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(len(starts) AS BIGINT) n_chunks FROM st)
        |SELECT tot.doc_id, coalesce(agg.text_clean, '') AS text_clean,
        |       tot.n_chunks,
        |       tot.n_chunks - coalesce(agg.n_kept, 0) AS n_dropped
        |FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id""".stripMargin,

    // Incremental CDC replay: chunk the batch docs, drop eligible
    // chunks present in the ref slice's chunk-text set or repeated
    // earlier within the batch.
    "q_dedup_cdc_incremental" ->
      """WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') w
        |           FROM documents),
        |b AS (SELECT doc_id, w, len(w) n FROM t),
        |bd AS (SELECT doc_id, w, n,
        |         CASE WHEN n - 1 >= 3 THEN list_filter(
        |           generate_series(3, n - 1),
        |           i -> CAST(concat('0x', substr(md5(
        |             array_to_string(w[i-2:i], ' ')), 1, 15)) AS BIGINT)
        |             % 16 = 0)
        |         ELSE [] END bnds FROM b),
        |st AS (SELECT doc_id, w, n,
        |         list_concat([1], list_transform(bnds, x -> x + 1)) starts,
        |         list_concat(bnds, [n]) ends FROM bd),
        |seg AS (SELECT doc_id, CAST(j - 1 AS BIGINT) chunk_id,
        |          array_to_string(w[starts[j]:ends[j]], ' ') ctext,
        |          ends[j] - starts[j] + 1 AS n_tok
        |        FROM st, LATERAL (
        |          SELECT unnest(generate_series(1, len(starts))) j)),
        |refc AS (SELECT DISTINCT ctext FROM seg
        |         WHERE doc_id % 3 = 0 AND n_tok >= 3),
        |bseg AS (SELECT * FROM seg WHERE doc_id % 3 <> 0),
        |keep AS (
        |  SELECT doc_id, chunk_id, ctext FROM (
        |    SELECT s.doc_id, s.chunk_id, s.ctext,
        |           row_number() OVER (PARTITION BY s.ctext
        |                              ORDER BY s.doc_id, s.chunk_id) rn
        |    FROM bseg s LEFT JOIN refc ON s.ctext = refc.ctext
        |    WHERE s.n_tok >= 3 AND refc.ctext IS NULL) WHERE rn = 1
        |  UNION ALL
        |  SELECT doc_id, chunk_id, ctext FROM bseg WHERE n_tok < 3),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_kept,
        |               string_agg(ctext, ' ' ORDER BY chunk_id) text_clean
        |        FROM keep GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(len(starts) AS BIGINT) n_chunks
        |        FROM st WHERE doc_id % 3 <> 0)
        |SELECT tot.doc_id, coalesce(agg.text_clean, '') AS text_clean,
        |       tot.n_chunks,
        |       tot.n_chunks - coalesce(agg.n_kept, 0) AS n_dropped
        |FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id""".stripMargin,

    // Winnowing replay: k-gram hashes via the md5-prefix identity,
    // per-window rightmost-min via (h ASC, pos DESC) ranking; the
    // DISTINCT mirrors array_distinct over the selected structs.
    "q_fingerprint_winnow" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, w, len(w) n FROM t WHERE len(w) >= 8),
        |hs AS (SELECT doc_id, i,
        |         CAST(concat('0x', substr(md5(
        |           array_to_string(w[i+1:i+5], ' ')), 1, 15)) AS BIGINT) h
        |       FROM g, LATERAL (SELECT unnest(generate_series(0, n - 5)) i)),
        |wins AS (SELECT doc_id, i
        |         FROM g, LATERAL (SELECT unnest(generate_series(0, n - 8)) i)),
        |sel AS (SELECT DISTINCT doc_id, pos, fp FROM (
        |          SELECT s.doc_id, s.i wi, hh.h fp, hh.i pos,
        |                 row_number() OVER (PARTITION BY s.doc_id, s.i
        |                   ORDER BY hh.h ASC, hh.i DESC) rn
        |          FROM wins s JOIN hs hh
        |            ON hh.doc_id = s.doc_id
        |           AND hh.i >= s.i AND hh.i < s.i + 4)
        |        WHERE rn = 1)
        |SELECT doc_id, CAST(pos AS INT) AS pos, fp FROM sel""".stripMargin,

    // ExactSubstr replay: 10-gram hashes (the winnow families' 15-hex
    // md5 long), corpus-frequency >= 2 anchors, lag-based interval
    // merge — ends are monotone in pos, so a gap opens exactly when
    // pos > lag(pos) + L.
    "q_dedup_repeated_spans" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, w, len(w) n FROM t WHERE len(w) >= 10),
        |hs AS (SELECT doc_id, i AS pos,
        |         CAST(concat('0x', substr(md5(
        |           array_to_string(w[i+1:i+10], ' ')), 1, 15)) AS BIGINT) h
        |       FROM g, LATERAL (SELECT unnest(generate_series(0, n - 10)) i)),
        |dup AS (SELECT h FROM hs GROUP BY h HAVING count(*) >= 2),
        |a AS (SELECT doc_id, pos FROM hs JOIN dup USING (h)),
        |m AS (SELECT doc_id, pos,
        |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |               IS NULL
        |             OR pos > lag(pos) OVER (PARTITION BY doc_id
        |               ORDER BY pos) + 10
        |             THEN 1 ELSE 0 END brk
        |      FROM a),
        |grp AS (SELECT doc_id, pos,
        |          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) gi
        |        FROM m)
        |SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
        |       CAST(max(pos) + 9 AS INT) AS span_end,
        |       CAST(max(pos) + 9 - min(pos) + 1 AS INT) AS span_tokens
        |FROM grp GROUP BY doc_id, gi""".stripMargin,

    // incremental spans replay: duplicate counts over the FULL
    // union (what batch + stored counts reconstruct), anchors
    // restricted to new docs — the one-shot query's algebra with one
    // WHERE clause
    "q_dedup_spans_incremental" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, w, len(w) n FROM t WHERE len(w) >= 10),
        |hs AS (SELECT doc_id, i AS pos,
        |         CAST(concat('0x', substr(md5(
        |           array_to_string(w[i+1:i+10], ' ')), 1, 15)) AS BIGINT) h
        |       FROM g, LATERAL (SELECT unnest(generate_series(0, n - 10)) i)),
        |dup AS (SELECT h FROM hs GROUP BY h HAVING count(*) >= 2),
        |a AS (SELECT doc_id, pos FROM hs JOIN dup USING (h)
        |      WHERE doc_id % 3 <> 0),
        |m AS (SELECT doc_id, pos,
        |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |               IS NULL
        |             OR pos > lag(pos) OVER (PARTITION BY doc_id
        |               ORDER BY pos) + 10
        |             THEN 1 ELSE 0 END brk
        |      FROM a),
        |grp AS (SELECT doc_id, pos,
        |          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) gi
        |        FROM m)
        |SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
        |       CAST(max(pos) + 9 AS INT) AS span_end,
        |       CAST(max(pos) + 9 - min(pos) + 1 AS INT) AS span_tokens
        |FROM grp GROUP BY doc_id, gi""".stripMargin,

    // per-doc gate replay: within-doc counts + the ref slice's
    // counts, anchors where the sum reaches 2 — batch-mates never
    // meet (no cross-doc term outside the ref slice)
    "q_dedup_spans_perdoc" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, w, len(w) n FROM t WHERE len(w) >= 10),
        |hs AS (SELECT doc_id, i AS pos,
        |         CAST(concat('0x', substr(md5(
        |           array_to_string(w[i+1:i+10], ' ')), 1, 15)) AS BIGINT) h
        |       FROM g, LATERAL (SELECT unnest(generate_series(0, n - 10)) i)),
        |rc AS (SELECT h, count(*) c FROM hs WHERE doc_id % 3 = 0
        |       GROUP BY 1),
        |bs AS (SELECT doc_id, pos, h FROM hs WHERE doc_id % 3 <> 0),
        |wc AS (SELECT doc_id, h, count(*) n FROM bs GROUP BY 1, 2),
        |a AS (SELECT bs.doc_id, bs.pos FROM bs
        |      JOIN wc ON wc.doc_id = bs.doc_id AND wc.h = bs.h
        |      LEFT JOIN rc ON rc.h = bs.h
        |      WHERE wc.n + coalesce(rc.c, 0) >= 2),
        |m AS (SELECT doc_id, pos,
        |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |               IS NULL
        |             OR pos > lag(pos) OVER (PARTITION BY doc_id
        |               ORDER BY pos) + 10
        |             THEN 1 ELSE 0 END brk
        |      FROM a),
        |grp AS (SELECT doc_id, pos,
        |          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) gi
        |        FROM m)
        |SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
        |       CAST(max(pos) + 9 AS INT) AS span_end,
        |       CAST(max(pos) + 9 - min(pos) + 1 AS INT) AS span_tokens
        |FROM grp GROUP BY doc_id, gi""".stripMargin,

    // the removal half over the same spans: covered positions
    // exploded, tokens anti-joined, string_agg ordered by position;
    // fully-covered and null-text docs handled by the left join +
    // coalesce exactly as the operator's guards
    "q_dedup_strip_spans" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, w, len(w) n FROM t WHERE len(w) >= 10),
        |hs AS (SELECT doc_id, i AS pos,
        |         CAST(concat('0x', substr(md5(
        |           array_to_string(w[i+1:i+10], ' ')), 1, 15)) AS BIGINT) h
        |       FROM g, LATERAL (SELECT unnest(generate_series(0, n - 10)) i)),
        |dup AS (SELECT h FROM hs GROUP BY h HAVING count(*) >= 2),
        |a AS (SELECT doc_id, pos FROM hs JOIN dup USING (h)),
        |m AS (SELECT doc_id, pos,
        |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |               IS NULL
        |             OR pos > lag(pos) OVER (PARTITION BY doc_id
        |               ORDER BY pos) + 10
        |             THEN 1 ELSE 0 END brk
        |      FROM a),
        |grp AS (SELECT doc_id, pos,
        |          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) gi
        |        FROM m),
        |spans AS (SELECT doc_id, min(pos) s, max(pos) + 9 e
        |          FROM grp GROUP BY doc_id, gi),
        |cov AS (SELECT DISTINCT doc_id, CAST(unnest(generate_series(s, e))
        |          AS INT) tpos FROM spans),
        |toks AS (SELECT doc_id, i - 1 AS tpos, w[i] tok
        |         FROM t, LATERAL (SELECT unnest(generate_series(1, len(w))) i)),
        |kept AS (SELECT tk.doc_id, tk.tpos, tk.tok FROM toks tk
        |         ANTI JOIN cov c ON c.doc_id = tk.doc_id
        |           AND c.tpos = tk.tpos)
        |SELECT t.doc_id,
        |       coalesce(string_agg(k.tok, ' ' ORDER BY k.tpos), '')
        |         AS kept_text,
        |       CAST(count(k.tok) AS BIGINT) AS n_kept,
        |       CAST(coalesce(len(t.w), 0) - count(k.tok) AS BIGINT)
        |         AS n_dropped
        |FROM t LEFT JOIN kept k ON k.doc_id = t.doc_id
        |GROUP BY t.doc_id, len(t.w)""".stripMargin,

    "q_dedup_winnow_pairs" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, w, len(w) n FROM t WHERE len(w) >= 8),
        |hs AS (SELECT doc_id, i,
        |         CAST(concat('0x', substr(md5(
        |           array_to_string(w[i+1:i+5], ' ')), 1, 15)) AS BIGINT) h
        |       FROM g, LATERAL (SELECT unnest(generate_series(0, n - 5)) i)),
        |wins AS (SELECT doc_id, i
        |         FROM g, LATERAL (SELECT unnest(generate_series(0, n - 8)) i)),
        |sel AS (SELECT DISTINCT doc_id, fp FROM (
        |          SELECT s.doc_id, hh.h fp,
        |                 row_number() OVER (PARTITION BY s.doc_id, s.i
        |                   ORDER BY hh.h ASC, hh.i DESC) rn
        |          FROM wins s JOIN hs hh
        |            ON hh.doc_id = s.doc_id
        |           AND hh.i >= s.i AND hh.i < s.i + 4)
        |        WHERE rn = 1),
        |kept AS (SELECT doc_id, fp FROM sel
        |         QUALIFY count(*) OVER (PARTITION BY fp) <= 64)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(count(*) AS BIGINT) AS n_shared
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin,

    // Winnow-verified replay: the candidate CTEs above, then every
    // candidate pair's k-gram hash matches grouped by diagonal
    // (i - j) and islanded (i - row_number) — longest_run =
    // max island + k - 1. Hash collisions affect both engines
    // identically (same md5-prefix family). hv mirrors the Spark
    // side's maxHashPerDoc = 64 verify-side cap (hashes repeating
    // within one doc past the cap are dropped before the match
    // join — the repetitive-text guard).
    "q_dedup_winnow_verified" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, w, len(w) n FROM t WHERE len(w) >= 8),
        |hs AS (SELECT doc_id, i,
        |         CAST(concat('0x', substr(md5(
        |           array_to_string(w[i+1:i+5], ' ')), 1, 15)) AS BIGINT) h
        |       FROM g, LATERAL (SELECT unnest(generate_series(0, n - 5)) i)),
        |wins AS (SELECT doc_id, i
        |         FROM g, LATERAL (SELECT unnest(generate_series(0, n - 8)) i)),
        |sel AS (SELECT DISTINCT doc_id, fp FROM (
        |          SELECT s.doc_id, hh.h fp,
        |                 row_number() OVER (PARTITION BY s.doc_id, s.i
        |                   ORDER BY hh.h ASC, hh.i DESC) rn
        |          FROM wins s JOIN hs hh
        |            ON hh.doc_id = s.doc_id
        |           AND hh.i >= s.i AND hh.i < s.i + 4)
        |        WHERE rn = 1),
        |kept AS (SELECT doc_id, fp FROM sel
        |         QUALIFY count(*) OVER (PARTITION BY fp) <= 64),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |                CAST(count(*) AS BIGINT) AS n_shared
        |         FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2),
        |hv AS (SELECT doc_id, i, h FROM hs
        |       QUALIFY row_number() OVER (
        |         PARTITION BY doc_id, h ORDER BY i) <= 64),
        |m AS (SELECT c.id_a, c.id_b, c.n_shared, ha.i AS i,
        |             ha.i - hb.i AS d
        |      FROM cand c
        |      JOIN hv ha ON ha.doc_id = c.id_a
        |      JOIN hv hb ON hb.doc_id = c.id_b AND hb.h = ha.h),
        |runs AS (SELECT id_a, id_b, n_shared, d,
        |                i - row_number() OVER (
        |                  PARTITION BY id_a, id_b, d ORDER BY i) grp
        |         FROM m),
        |best AS (SELECT id_a, id_b, n_shared,
        |                CAST(max(cnt) + 4 AS INT) AS longest_run
        |         FROM (SELECT id_a, id_b, n_shared, d, grp,
        |                      count(*) cnt
        |               FROM runs GROUP BY 1, 2, 3, 4, 5)
        |         GROUP BY 1, 2, 3)
        |SELECT id_a, id_b, n_shared, longest_run
        |FROM best WHERE longest_run >= 8""".stripMargin,

    // Incremental winnow replay: winnowing a doc is independent of
    // every other doc, so the combined ref ∪ new fingerprint set IS
    // the full-corpus set; the pair filter encodes the orientation
    // (id_b new; ref×new in ref-first order, new×new in id order).
    "q_dedup_winnow_incremental" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, w, len(w) n FROM t WHERE len(w) >= 8),
        |hs AS (SELECT doc_id, i,
        |         CAST(concat('0x', substr(md5(
        |           array_to_string(w[i+1:i+5], ' ')), 1, 15)) AS BIGINT) h
        |       FROM g, LATERAL (SELECT unnest(generate_series(0, n - 5)) i)),
        |wins AS (SELECT doc_id, i
        |         FROM g, LATERAL (SELECT unnest(generate_series(0, n - 8)) i)),
        |sel AS (SELECT DISTINCT doc_id, fp FROM (
        |          SELECT s.doc_id, hh.h fp,
        |                 row_number() OVER (PARTITION BY s.doc_id, s.i
        |                   ORDER BY hh.h ASC, hh.i DESC) rn
        |          FROM wins s JOIN hs hh
        |            ON hh.doc_id = s.doc_id
        |           AND hh.i >= s.i AND hh.i < s.i + 4)
        |        WHERE rn = 1),
        |kept AS (SELECT doc_id, fp FROM sel
        |         QUALIFY count(*) OVER (PARTITION BY fp) <= 64)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(count(*) AS BIGINT) AS n_shared
        |FROM kept a JOIN kept b ON a.fp = b.fp
        |WHERE b.doc_id % 3 <> 0
        |  AND (a.doc_id % 3 = 0 OR a.doc_id < b.doc_id)
        |GROUP BY 1, 2""".stripMargin,

    "q_dedup_passage" ->
      """WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') w
        |           FROM documents),
        |b AS (SELECT doc_id, w, CAST(ceil(len(w) / 8.0) AS BIGINT) n_passages
        |      FROM t),
        |seg AS (SELECT doc_id, i AS seg_id,
        |               array_to_string(list_slice(w, i*8+1, i*8+8), ' ') ptext,
        |               len(list_slice(w, i*8+1, i*8+8)) = 8 AS eligible
        |        FROM b, LATERAL (SELECT unnest(range(n_passages)) i)),
        |keep AS (
        |  SELECT doc_id, seg_id, ptext FROM (
        |    SELECT doc_id, seg_id, ptext,
        |           row_number() OVER (PARTITION BY ptext
        |                              ORDER BY doc_id, seg_id) rn
        |    FROM seg WHERE eligible) WHERE rn = 1
        |  UNION ALL
        |  SELECT doc_id, seg_id, ptext FROM seg WHERE NOT eligible),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_kept,
        |               string_agg(ptext, ' ' ORDER BY seg_id) text_clean
        |        FROM keep GROUP BY doc_id)
        |SELECT b.doc_id, coalesce(agg.text_clean, '') AS text_clean,
        |       b.n_passages,
        |       b.n_passages - coalesce(agg.n_kept, 0) AS n_dropped
        |FROM b LEFT JOIN agg ON b.doc_id = agg.doc_id""".stripMargin,

    // Soft dedup: the spans family's seeded L-gram machinery with a
    // per-doc aggregate instead of an interval merge; sums cast to
    // BIGINT; the dup_ratio/weight arithmetic is the exact IEEE
    // sequence the Spark side computes (long casts, one multiply/add,
    // divisions — no order-dependent float accumulation)
    "q_dedup_soft" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, w, len(w) n FROM t WHERE len(w) >= 10),
        |hs AS (SELECT doc_id,
        |         CAST(concat('0x', substr(md5(
        |           array_to_string(w[i+1:i+10], ' ')), 1, 15)) AS BIGINT) h
        |       FROM g, LATERAL (SELECT unnest(generate_series(0, n - 10)) i)),
        |pd AS (SELECT doc_id, h, CAST(count(*) AS BIGINT) k
        |       FROM hs GROUP BY doc_id, h),
        |f AS (SELECT h, CAST(sum(k) AS BIGINT) c FROM pd GROUP BY h),
        |st AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_grams,
        |         CAST(sum(CASE WHEN c >= 2 THEN k ELSE 0 END) AS BIGINT)
        |           AS n_dup,
        |         CAST(sum(CASE WHEN c >= 2 THEN k * c ELSE 0 END) AS BIGINT)
        |           AS dup_mass
        |       FROM pd JOIN f USING (h) GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_dup, dup_mass,
        |       CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_ratio,
        |       1.0 / (1.0 + 4.0 *
        |         (CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE))) AS weight
        |FROM st""".stripMargin,

    // Per-doc soft dedup: batch window counts join the REF-side
    // counts (doc_id % 3 == 0, what the stored frame holds); the
    // criterion is own-doc + stored >= 2 and dup_mass sums those
    // union counts — batch-mates never meet
    "q_dedup_soft_perdoc" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, w, len(w) n FROM t WHERE len(w) >= 10),
        |hs AS (SELECT doc_id,
        |         CAST(concat('0x', substr(md5(
        |           array_to_string(w[i+1:i+10], ' ')), 1, 15)) AS BIGINT) h
        |       FROM g, LATERAL (SELECT unnest(generate_series(0, n - 10)) i)),
        |pd AS (SELECT doc_id, h, CAST(count(*) AS BIGINT) k
        |       FROM hs WHERE doc_id % 3 <> 0 GROUP BY doc_id, h),
        |rf AS (SELECT h, CAST(count(*) AS BIGINT) c
        |       FROM hs WHERE doc_id % 3 = 0 GROUP BY h),
        |j AS (SELECT pd.doc_id, pd.k,
        |        pd.k + coalesce(rf.c, 0) AS tot
        |      FROM pd LEFT JOIN rf USING (h)),
        |st AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_grams,
        |         CAST(sum(CASE WHEN tot >= 2 THEN k ELSE 0 END) AS BIGINT)
        |           AS n_dup,
        |         CAST(sum(CASE WHEN tot >= 2 THEN k * tot ELSE 0 END)
        |           AS BIGINT) AS dup_mass
        |       FROM j GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_dup, dup_mass,
        |       CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_ratio,
        |       1.0 / (1.0 + 4.0 *
        |         (CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE))) AS weight
        |FROM st""".stripMargin,

    // Priority sampling: u from the md5 60-bit prefix (non-negative,
    // so % == pmod), priorities/tau/w_est division-only — replays
    // bit-identically; ranks tie-break by doc_id ascending
    "q_sample_priority" ->
      """WITH pr AS (
        |  SELECT source, doc_id,
        |         CAST(greatest(n_chars, 1) AS BIGINT) w,
        |         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
        |             1, 15)) AS BIGINT) % 2147483648 + 1 AS DOUBLE)
        |           / 2147483648.0 AS u
        |  FROM documents),
        |p2 AS (SELECT *, CAST(w AS DOUBLE) / u AS priority FROM pr),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
        |         ORDER BY priority DESC, doc_id) AS BIGINT) AS rnk
        |      FROM p2),
        |tau AS (SELECT source, priority AS tau FROM r WHERE rnk = 11)
        |SELECT r.source, r.doc_id, r.w, r.rnk, r.u, r.priority,
        |       tau.tau,
        |       CASE WHEN tau.tau IS NULL THEN CAST(r.w AS DOUBLE)
        |            ELSE greatest(CAST(r.w AS DOUBLE), tau.tau) END AS w_est
        |FROM r LEFT JOIN tau ON r.source = tau.source
        |WHERE r.rnk <= 10""".stripMargin,

    // Integer `//` division == Spark's `div`; sums cast to BIGINT
    // (DuckDB sum(BIGINT) is HUGEINT). NULL text counts 0 tokens.
    "q_domain_mix" ->
      """WITH g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(CASE WHEN text IS NULL THEN 0
        |                       ELSE len(string_split(text, ' ')) END)
        |              AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, n_tokens,
        |       CAST(CAST(n_tokens AS HUGEINT) * 1000000 //
        |            (SELECT sum(n_tokens) FROM g) AS BIGINT) AS tok_share_ppm,
        |       CAST(row_number() OVER (ORDER BY n_tokens DESC, source ASC)
        |            AS BIGINT) AS tok_rank
        |FROM g""".stripMargin,

    "q_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') s
        |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-4)) i)),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0)
        |SELECT sh.doc_id,
        |       count(*) AS n_shingles,
        |       count(bench.s) AS n_matched,
        |       CAST(count(bench.s) AS DOUBLE) / count(*) AS overlap_frac,
        |       CAST(CASE WHEN CAST(count(bench.s) AS DOUBLE) / count(*) >= 0.5
        |                 THEN 1 ELSE 0 END AS INT) AS contaminated
        |FROM sh LEFT JOIN bench ON sh.s = bench.s
        |WHERE sh.doc_id % 20 <> 0
        |GROUP BY sh.doc_id""".stripMargin,

    "q_boilerplate_prune" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |n AS (SELECT count(*) c FROM t),
        |dfreq AS (SELECT tok, count(*) df FROM
        |            (SELECT DISTINCT doc_id, unnest(w) tok FROM t) GROUP BY 1),
        |hot AS (SELECT coalesce(list(tok ORDER BY tok), []) arr
        |        FROM dfreq, n WHERE df >= ceil(0.75 * c))
        |SELECT doc_id,
        |       coalesce(array_to_string(kept, ' '), '') AS text_clean,
        |       CAST(len(kept) AS BIGINT) AS n_kept,
        |       CAST(len(w) - len(kept) AS BIGINT) AS n_removed
        |FROM (SELECT doc_id, w,
        |        list_filter(w, x -> NOT list_contains(hot.arr, x)) kept
        |      FROM t, hot)""".stripMargin,

    "q_tfidf_topk" ->
      s"""WITH occ AS (SELECT doc_id, unnest(string_split($normSql, ' ')) term
        |             FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) tf
        |       FROM occ GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) n FROM tf)
        |SELECT doc_id, CAST(rn AS BIGINT) AS rnk, term, tf, df, score
        |FROM (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |             CAST(tf.tf * n.n AS DOUBLE) / dfreq.df AS score,
        |             row_number() OVER (PARTITION BY tf.doc_id
        |               ORDER BY CAST(tf.tf * n.n AS DOUBLE) / dfreq.df DESC,
        |                        tf.term) rn
        |      FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |WHERE rn <= 5""".stripMargin,

    "q_vocab_stats" ->
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(count(DISTINCT tok) AS BIGINT) AS vocab
        |FROM (SELECT source, unnest(string_split($normSql, ' ')) tok
        |      FROM documents WHERE text IS NOT NULL)
        |GROUP BY source""".stripMargin,

    // exact token top-50 with the (count desc, token) rank
    "q_heavy_hitters_exact" ->
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) tok
        |              FROM documents WHERE text IS NOT NULL)
        |SELECT CAST(rn AS BIGINT) AS rnk, tok, cnt
        |FROM (SELECT tok, CAST(count(*) AS BIGINT) cnt,
        |             row_number() OVER (ORDER BY count(*) DESC, tok) rn
        |      FROM toks GROUP BY tok)
        |WHERE rn <= 50""".stripMargin,

    // the CMS grid: depth row j hashes 'j:token' through the 60-bit
    // md5 prefix, bucket = prefix % 8192 (nonnegative, so DuckDB's
    // plain % matches Spark's pmod)
    "q_cms_cells_seeded" ->
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) tok
        |              FROM documents WHERE text IS NOT NULL),
        |js AS (SELECT unnest(generate_series(0, 3)) j)
        |SELECT CAST(js.j AS INT) AS j,
        |       CAST(concat('0x', substr(md5(CAST(js.j AS VARCHAR) || ':' || tok),
        |                   1, 15)) AS BIGINT) % 8192 AS bucket,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM toks CROSS JOIN js
        |GROUP BY 1, 2""".stripMargin,

    // the store round-trip serves the identical artifact: same
    // oracle as q_cms_cells_seeded, verbatim
    "q_cms_cells_stored" ->
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) tok
        |              FROM documents WHERE text IS NOT NULL),
        |js AS (SELECT unnest(generate_series(0, 3)) j)
        |SELECT CAST(js.j AS INT) AS j,
        |       CAST(concat('0x', substr(md5(CAST(js.j AS VARCHAR) || ':' || tok),
        |                   1, 15)) AS BIGINT) % 8192 AS bucket,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM toks CROSS JOIN js
        |GROUP BY 1, 2""".stripMargin,

    // sketch-estimated top-50: vocabulary probes the grid, est = min
    // over the 4 depth rows, rank (est desc, tok) — the full CMS
    // read path replayed
    "q_cms_heavy_hitters_seeded" ->
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) tok
        |              FROM documents WHERE text IS NOT NULL),
        |js AS (SELECT unnest(generate_series(0, 3)) j),
        |cells AS (SELECT js.j j,
        |            CAST(concat('0x', substr(md5(CAST(js.j AS VARCHAR) || ':' || tok),
        |                        1, 15)) AS BIGINT) % 8192 bucket,
        |            count(*) cnt
        |          FROM toks CROSS JOIN js GROUP BY 1, 2),
        |pc AS (SELECT p.tok, js.j j,
        |         CAST(concat('0x', substr(md5(CAST(js.j AS VARCHAR) || ':' || p.tok),
        |                     1, 15)) AS BIGINT) % 8192 bucket
        |       FROM (SELECT DISTINCT tok FROM toks) p CROSS JOIN js),
        |est AS (SELECT pc.tok, min(coalesce(c.cnt, 0)) est
        |        FROM pc LEFT JOIN cells c ON c.j = pc.j AND c.bucket = pc.bucket
        |        GROUP BY 1)
        |SELECT CAST(rn AS BIGINT) AS rnk, tok, CAST(est AS BIGINT) AS est
        |FROM (SELECT tok, est,
        |             row_number() OVER (ORDER BY est DESC, tok) rn FROM est)
        |WHERE rn <= 50""".stripMargin,

    // the HLL register grid: bucket = low 12 bits of the 60-bit md5
    // prefix, w = the high bits (>> 12), rho = trailing zeros of w
    // + 1 via the bin()/rtrim form both engines print identically;
    // w = 0 clamps to 50 (unreachable here: w has 48 bits)
    "q_hll_registers_seeded" ->
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) tok
        |              FROM documents WHERE text IS NOT NULL),
        |hs AS (SELECT CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) h
        |       FROM toks)
        |SELECT h & 4095 AS bucket,
        |       CAST(max(CASE WHEN (h >> 12) = 0 THEN 50
        |                ELSE least(length(bin(h >> 12))
        |                           - length(rtrim(bin(h >> 12), '0')) + 1,
        |                           50) END) AS INT) AS rho
        |FROM hs GROUP BY 1""".stripMargin,

    // the estimate: v_empty = untouched registers, s_scaled the
    // exact BIGINT harmonic sum sum(2^(50-rho)) + v_empty*2^50, est
    // the raw HLL chain (multiply/divide only — replays bit-for-bit)
    "q_hll_vocab_seeded" ->
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) tok
        |              FROM documents WHERE text IS NOT NULL),
        |regs AS (SELECT h & 4095 AS bucket,
        |           max(CASE WHEN (h >> 12) = 0 THEN 50
        |               ELSE least(length(bin(h >> 12))
        |                          - length(rtrim(bin(h >> 12), '0')) + 1,
        |                          50) END) AS rho
        |         FROM (SELECT CAST(concat('0x', substr(md5(tok), 1, 15))
        |                      AS BIGINT) h FROM toks) GROUP BY 1),
        |agg AS (SELECT count(*) touched,
        |          CAST(sum(1::BIGINT << (50 - rho)) AS BIGINT) s_touched
        |        FROM regs)
        |SELECT CAST(4096 AS BIGINT) AS m,
        |       CAST(4096 - touched AS BIGINT) AS v_empty,
        |       CAST(s_touched + (4096 - touched) * (1::BIGINT << 50)
        |            AS BIGINT) AS s_scaled,
        |       (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 4096.0::DOUBLE))
        |         * 4096.0::DOUBLE * 4096.0::DOUBLE
        |         * 1125899906842624.0::DOUBLE
        |         / CAST(s_touched + (4096 - touched) * (1::BIGINT << 50)
        |                AS DOUBLE) AS est
        |FROM agg""".stripMargin,

    // group-keyed sketches: the same fold per source
    "q_hll_vocab_by_source_seeded" ->
      s"""WITH toks AS (SELECT source,
        |                      unnest(string_split($normSql, ' ')) tok
        |               FROM documents WHERE text IS NOT NULL),
        |regs AS (SELECT source, h & 4095 AS bucket,
        |           max(CASE WHEN (h >> 12) = 0 THEN 50
        |               ELSE least(length(bin(h >> 12))
        |                          - length(rtrim(bin(h >> 12), '0')) + 1,
        |                          50) END) AS rho
        |         FROM (SELECT source,
        |                 CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) h
        |               FROM toks) GROUP BY 1, 2),
        |agg AS (SELECT source, count(*) touched,
        |          CAST(sum(1::BIGINT << (50 - rho)) AS BIGINT) s_touched
        |        FROM regs GROUP BY 1)
        |SELECT source, CAST(4096 AS BIGINT) AS m,
        |       CAST(4096 - touched AS BIGINT) AS v_empty,
        |       CAST(s_touched + (4096 - touched) * (1::BIGINT << 50)
        |            AS BIGINT) AS s_scaled,
        |       (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 4096.0::DOUBLE))
        |         * 4096.0::DOUBLE * 4096.0::DOUBLE
        |         * 1125899906842624.0::DOUBLE
        |         / CAST(s_touched + (4096 - touched) * (1::BIGINT << 50)
        |                AS DOUBLE) AS est
        |FROM agg ORDER BY source""".stripMargin,

    // the Bloom bit frame: probe j hashes 'j:token' through the
    // 60-bit md5 prefix, bit = prefix % 65536, distinct positions
    "q_bloom_bits_seeded" ->
      s"""WITH bt AS (SELECT unnest(string_split($normSql, ' ')) tok
        |            FROM documents
        |            WHERE text IS NOT NULL AND doc_id % 20 = 0),
        |js AS (SELECT unnest(generate_series(0, 2)) j)
        |SELECT DISTINCT
        |  CAST(concat('0x', substr(md5(CAST(js.j AS VARCHAR) || ':' || tok),
        |              1, 15)) AS BIGINT) % 65536 AS bit
        |FROM bt CROSS JOIN js""".stripMargin,

    // the membership read path: corpus vocabulary x 3 probes LEFT
    // JOIN the bit frame, might_contain = all 3 hit; actual = exact
    // membership in the benchmark vocabulary
    "q_bloom_membership_seeded" ->
      s"""WITH bt AS (SELECT DISTINCT unnest(string_split($normSql, ' ')) tok
        |            FROM documents
        |            WHERE text IS NOT NULL AND doc_id % 20 = 0),
        |at AS (SELECT DISTINCT unnest(string_split($normSql, ' ')) tok
        |       FROM documents WHERE text IS NOT NULL),
        |js AS (SELECT unnest(generate_series(0, 2)) j),
        |bits AS (SELECT DISTINCT
        |           CAST(concat('0x', substr(md5(CAST(js.j AS VARCHAR)
        |                       || ':' || tok), 1, 15)) AS BIGINT) % 65536 AS bit
        |         FROM bt CROSS JOIN js),
        |pr AS (SELECT at.tok,
        |         CAST(concat('0x', substr(md5(CAST(js.j AS VARCHAR)
        |                     || ':' || at.tok), 1, 15)) AS BIGINT) % 65536 AS bit
        |       FROM at CROSS JOIN js),
        |hit AS (SELECT pr.tok, count(b.bit) c
        |        FROM pr LEFT JOIN bits b ON b.bit = pr.bit GROUP BY 1)
        |SELECT hit.tok, CAST(c = 3 AS INT) AS might_contain,
        |       CASE WHEN bt.tok IS NOT NULL THEN 1 ELSE 0 END AS actual
        |FROM hit LEFT JOIN bt ON bt.tok = hit.tok""".stripMargin,

    // q45's string-shingle replay + the bloom bit CTEs: bench
    // 5-gram shingles -> 3 bits each into a 2^18-bit frame; each
    // distinct train shingle probes the frame, per-doc rollup sums
    // the all-3-hit flags
    "q_decontaminate_bloomframe_seeded" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') s
        |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-4)) i)),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
        |js AS (SELECT unnest(generate_series(0, 2)) j),
        |bits AS (SELECT DISTINCT
        |           CAST(concat('0x', substr(md5(CAST(js.j AS VARCHAR)
        |                       || ':' || s), 1, 15)) AS BIGINT) % 262144 AS bit
        |         FROM bench CROSS JOIN js),
        |vocab AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 <> 0),
        |pr AS (SELECT vocab.s,
        |         CAST(concat('0x', substr(md5(CAST(js.j AS VARCHAR)
        |                     || ':' || vocab.s), 1, 15)) AS BIGINT) % 262144 AS bit
        |       FROM vocab CROSS JOIN js),
        |mc AS (SELECT pr.s, CAST(count(b.bit) = 3 AS INT) m
        |       FROM pr LEFT JOIN bits b ON b.bit = pr.bit GROUP BY 1)
        |SELECT sh.doc_id,
        |       count(*) AS n_shingles,
        |       CAST(sum(mc.m) AS BIGINT) AS n_matched,
        |       CAST(sum(mc.m) AS DOUBLE) / count(*) AS overlap_frac,
        |       CAST(CASE WHEN CAST(sum(mc.m) AS DOUBLE) / count(*) >= 0.5
        |                 THEN 1 ELSE 0 END AS INT) AS contaminated
        |FROM sh JOIN mc ON mc.s = sh.s
        |WHERE sh.doc_id % 20 <> 0
        |GROUP BY sh.doc_id""".stripMargin,

    // the weighted frame: cnt = SUM(v) per bucket instead of
    // count(*); the quantile read is unchanged rank arithmetic
    "q_hdr_mass_quantiles" ->
      """WITH v AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        |           FROM documents WHERE text IS NOT NULL),
        |e AS (SELECT v, GREATEST(length(bin(v)) - 1 - 5, 0) AS s FROM v),
        |mb AS (SELECT v, s, (v >> s) AS m FROM e),
        |f AS (SELECT CAST(s AS BIGINT) * 64 + m AS idx, (m << s) AS lo,
        |             CAST(sum(v) AS BIGINT) AS cnt
        |      FROM mb GROUP BY 1, 2),
        |c AS (SELECT idx, lo,
        |        CAST(SUM(cnt) OVER (ORDER BY idx ROWS BETWEEN UNBOUNDED
        |             PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(SUM(cnt) OVER () AS BIGINT) AS n
        |      FROM f),
        |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.9]) AS DOUBLE) AS q)
        |SELECT q, MIN(n) AS n, MIN(lo) AS est
        |FROM c CROSS JOIN qs
        |WHERE cum >= GREATEST(CEIL(q * CAST(n AS DOUBLE)), 1)
        |GROUP BY q""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type,
        |       count(CAST(props ->> '$.k' AS BIGINT)) AS n_with_k,
        |       min(CAST(props ->> '$.k' AS BIGINT)) AS min_k,
        |       max(CAST(props ->> '$.k' AS BIGINT)) AS max_k,
        |       CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT)
        |         AS sum_k
        |FROM events GROUP BY event_type""".stripMargin,

    // the full threshold chain (frame -> cumulative -> 9 deciles)
    // then a sorted-list lambda count per doc; pure integer bucket
    // arithmetic end-to-end
    "q_length_deciles" ->
      """WITH v AS (SELECT doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        |           FROM documents WHERE text IS NOT NULL),
        |e AS (SELECT v, GREATEST(length(bin(v)) - 1 - 5, 0) AS s FROM v),
        |mb AS (SELECT s, (v >> s) AS m FROM e),
        |f AS (SELECT CAST(s AS BIGINT) * 64 + m AS idx, (m << s) AS lo,
        |             count(*) AS cnt
        |      FROM mb GROUP BY 1, 2),
        |c AS (SELECT idx, lo,
        |        CAST(SUM(cnt) OVER (ORDER BY idx ROWS BETWEEN UNBOUNDED
        |             PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(SUM(cnt) OVER () AS BIGINT) AS n
        |      FROM f),
        |qs AS (SELECT CAST(unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7,
        |                           0.8, 0.9]) AS DOUBLE) AS q),
        |th AS (SELECT q, MIN(lo) AS est
        |       FROM c CROSS JOIN qs
        |       WHERE cum >= GREATEST(CEIL(q * CAST(n AS DOUBLE)), 1)
        |       GROUP BY q),
        |ta AS (SELECT list_sort(list(est)) AS ths FROM th)
        |SELECT v.doc_id, v.v AS ws_tokens,
        |       CAST(1 + len(list_filter(ta.ths, t -> t <= v.v))
        |            AS BIGINT) AS decile
        |FROM v CROSS JOIN ta""".stripMargin,

    // the log-linear histogram: e = printed-binary length - 1
    // (floor log2), s = max(e - 5, 0), m = v >> s — pure integer
    // shift arithmetic, identical in both engines
    "q_hdr_frame" ->
      """WITH v AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        |           FROM documents WHERE text IS NOT NULL),
        |e AS (SELECT v, GREATEST(length(bin(v)) - 1 - 5, 0) AS s FROM v),
        |mb AS (SELECT s, (v >> s) AS m FROM e)
        |SELECT CAST(s AS BIGINT) * 64 + m AS idx, (m << s) AS lo,
        |       (m << s) + ((CAST(1 AS BIGINT) << s) - 1) AS hi,
        |       count(*) AS cnt
        |FROM mb GROUP BY 1, 2, 3""".stripMargin,

    // quantiles off the histogram: cumulative bucket counts, est =
    // lo of the first bucket reaching rank max(ceil(q*n), 1); the
    // ceil(q*n) multiply is IEEE-identical across engines
    "q_hdr_quantiles" ->
      """WITH v AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        |           FROM documents WHERE text IS NOT NULL),
        |e AS (SELECT v, GREATEST(length(bin(v)) - 1 - 5, 0) AS s FROM v),
        |mb AS (SELECT s, (v >> s) AS m FROM e),
        |f AS (SELECT CAST(s AS BIGINT) * 64 + m AS idx, (m << s) AS lo,
        |             count(*) AS cnt
        |      FROM mb GROUP BY 1, 2),
        |c AS (SELECT idx, lo,
        |        CAST(SUM(cnt) OVER (ORDER BY idx ROWS BETWEEN UNBOUNDED
        |             PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(SUM(cnt) OVER () AS BIGINT) AS n
        |      FROM f),
        |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99])
        |              AS DOUBLE) AS q)
        |SELECT q, MIN(n) AS n, MIN(lo) AS est
        |FROM c CROSS JOIN qs
        |WHERE cum >= GREATEST(CEIL(q * CAST(n AS DOUBLE)), 1)
        |GROUP BY q""".stripMargin,

    // group-keyed histograms: the same read path with the windows
    // partitioned per source
    "q_hdr_by_source" ->
      """WITH v AS (SELECT source,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        |           FROM documents WHERE text IS NOT NULL),
        |e AS (SELECT source, v,
        |        GREATEST(length(bin(v)) - 1 - 5, 0) AS s FROM v),
        |mb AS (SELECT source, s, (v >> s) AS m FROM e),
        |f AS (SELECT source, CAST(s AS BIGINT) * 64 + m AS idx,
        |             (m << s) AS lo, count(*) AS cnt
        |      FROM mb GROUP BY 1, 2, 3),
        |c AS (SELECT source, idx, lo,
        |        CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY idx
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS BIGINT) AS cum,
        |        CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
        |      FROM f),
        |qs AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS q)
        |SELECT source, q, MIN(n) AS n, MIN(lo) AS est
        |FROM c CROSS JOIN qs
        |WHERE cum >= GREATEST(CEIL(q * CAST(n AS DOUBLE)), 1)
        |GROUP BY source, q""".stripMargin,

    // unigrams + adjacent bigrams, bucket = 60-bit md5 prefix mod
    // 4096, weight = re-hash of the bucket id mod 2001 - 1000; the
    // margin is an exact integer sum on both engines, score its one
    // final double division (sum(w) is HUGEINT in DuckDB — cast)
    "q_quality_model_seeded" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, list_concat(w, CASE WHEN len(w) >= 2
        |         THEN list_transform(generate_series(1, len(w) - 1),
        |                             i -> w[i] || ' ' || w[i + 1])
        |         ELSE [] END) f
        |      FROM t WHERE len(w) >= 1),
        |feats AS (SELECT doc_id, unnest(f) tok FROM g),
        |wts AS (SELECT doc_id,
        |          (CAST(concat('0x', substr(md5(CAST(
        |             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
        |               % 4096 AS VARCHAR)), 1, 15)) AS BIGINT) % 2001)
        |            - 1000 AS w
        |        FROM feats)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |       CAST(sum(w) AS BIGINT) AS margin,
        |       CAST(sum(w) AS DOUBLE) / count(*) AS score,
        |       CAST(CASE WHEN sum(w) >= 0 THEN 1 ELSE 0 END AS INT) AS label
        |FROM wts GROUP BY doc_id""".stripMargin,

    // Gopher battery replay: integer counters + cross-multiplied
    // rule flags — no float ratio anywhere, so the hash compare is
    // exact by construction. Line rules look at the RAW text
    // (normalization flattens line breaks).
    "q_quality_gopher" ->
      s"""WITH d AS (SELECT doc_id, coalesce(text, '') raw FROM documents),
        |c AS (SELECT doc_id, raw,
        |        list_filter(string_split(${normSql.replace("text", "raw")},
        |          ' '), w -> len(w) > 0) ws,
        |        list_filter(string_split(raw, chr(10)),
        |          l -> len(trim(l)) > 0) ls
        |      FROM d),
        |m AS (SELECT doc_id,
        |        CAST(len(ws) AS BIGINT) n_words,
        |        CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0)
        |          AS BIGINT) sum_word_len,
        |        CAST(len(list_filter(ws, w -> regexp_matches(w, '\\p{L}')))
        |          AS BIGINT) n_alpha_words,
        |        CAST((length(raw) - length(replace(raw, '...', ''))) // 3
        |           + (length(raw) - length(replace(raw, '…', '')))
        |          AS BIGINT) n_ellipsis,
        |        CAST(length(raw) - length(replace(raw, '#', ''))
        |          AS BIGINT) n_hash,
        |        CAST(len(ls) AS BIGINT) n_lines,
        |        CAST(len(list_filter(ls,
        |            l -> regexp_matches(trim(l), '^[-*•]')))
        |          AS BIGINT) n_bullet,
        |        CAST(len(list_filter(ls,
        |            l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$')))
        |          AS BIGINT) n_ell_lines,
        |        CAST(${QualityRules.stopwords.map(sw =>
                  s"(CASE WHEN list_contains(ws, '$sw') THEN 1 ELSE 0 END)")
                  .mkString(" + ")} AS BIGINT) stop_hits
        |      FROM c)
        |SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_ellipsis,
        |       n_lines, n_bullet, n_ell_lines, stop_hits,
        |       n_hash + n_ellipsis AS n_symbols,
        |       (n_words >= 30 AND n_words <= 100000) AS ok_words,
        |       (3 * n_words <= sum_word_len AND
        |        sum_word_len <= 10 * n_words) AS ok_word_len,
        |       (10 * (n_hash + n_ellipsis) < n_words) AS ok_symbol,
        |       (10 * n_bullet <= n_lines) AS ok_bullet,
        |       (10 * n_ell_lines <= 3 * n_lines) AS ok_ellipsis,
        |       (5 * n_alpha_words >= 4 * n_words) AS ok_alpha,
        |       (stop_hits >= 1) AS ok_stop,
        |       ((n_words >= 30 AND n_words <= 100000) AND
        |        (3 * n_words <= sum_word_len AND
        |         sum_word_len <= 10 * n_words) AND
        |        (10 * (n_hash + n_ellipsis) < n_words) AND
        |        (10 * n_bullet <= n_lines) AND
        |        (10 * n_ell_lines <= 3 * n_lines) AND
        |        (5 * n_alpha_words >= 4 * n_words) AND
        |        (stop_hits >= 1)) AS keep
        |FROM m""".stripMargin,

    // Kneser–Ney core replay: bigram/conditioning counts plus
    // left/right diversities of the reference's bigram TYPE set.
    "q_lm_kn_counts" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, w, len(w) n FROM t WHERE len(w) >= 2),
        |b AS (SELECT doc_id, w[i+1] w1, w[i+2] w2
        |      FROM g, LATERAL (SELECT unnest(generate_series(0, n - 2)) i)),
        |rb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) c FROM b
        |       WHERE doc_id % 5 = 0 GROUP BY 1, 2),
        |ru AS (SELECT w1, CAST(count(*) AS BIGINT) c FROM b
        |       WHERE doc_id % 5 = 0 GROUP BY 1),
        |ld AS (SELECT w2, CAST(count(*) AS BIGINT) l FROM rb GROUP BY 1),
        |rd AS (SELECT w1, CAST(count(*) AS BIGINT) r FROM rb GROUP BY 1),
        |db AS (SELECT doc_id, w1, w2 FROM b WHERE doc_id % 5 <> 0)
        |SELECT db.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(coalesce(rb.c, 0)) AS BIGINT) AS sum_c12,
        |       CAST(sum(coalesce(ru.c, 0)) AS BIGINT) AS sum_c1,
        |       CAST(sum(coalesce(ld.l, 0)) AS BIGINT) AS sum_l,
        |       CAST(sum(coalesce(rd.r, 0)) AS BIGINT) AS sum_r
        |FROM db LEFT JOIN rb ON db.w1 = rb.w1 AND db.w2 = rb.w2
        |        LEFT JOIN ru ON db.w1 = ru.w1
        |        LEFT JOIN ld ON db.w2 = ld.w2
        |        LEFT JOIN rd ON db.w1 = rd.w1
        |GROUP BY db.doc_id""".stripMargin,

    // Trigram-backoff core replay: trigram/bigram/token count tables
    // from the reference slice; each scored trigram event classified
    // at its highest known order.
    "q_lm_backoff_counts" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g3 AS (SELECT doc_id, w, len(w) n FROM t WHERE len(w) >= 3),
        |tri AS (SELECT doc_id, w[i+1] w1, w[i+2] w2, w[i+3] w3
        |        FROM g3, LATERAL (SELECT unnest(generate_series(0, n - 3)) i)),
        |g2 AS (SELECT doc_id, w, len(w) n FROM t WHERE len(w) >= 2),
        |bi AS (SELECT doc_id, w[i+1] w1, w[i+2] w2
        |       FROM g2, LATERAL (SELECT unnest(generate_series(0, n - 2)) i)),
        |tok AS (SELECT doc_id, unnest(w) tk FROM t),
        |rt AS (SELECT w1, w2, w3 FROM tri WHERE doc_id % 5 = 0
        |       GROUP BY 1, 2, 3),
        |rbi AS (SELECT w1, w2 FROM bi WHERE doc_id % 5 = 0 GROUP BY 1, 2),
        |rtk AS (SELECT tk FROM tok WHERE doc_id % 5 = 0 AND len(tk) > 0
        |        GROUP BY 1),
        |dt AS (SELECT doc_id, w1, w2, w3 FROM tri WHERE doc_id % 5 <> 0)
        |SELECT dt.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN rt.w1 IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS hit3,
        |       CAST(sum(CASE WHEN rt.w1 IS NULL AND rbi.w1 IS NOT NULL
        |         THEN 1 ELSE 0 END) AS BIGINT) AS hit2,
        |       CAST(sum(CASE WHEN rt.w1 IS NULL AND rbi.w1 IS NULL
        |         AND rtk.tk IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS hit1
        |FROM dt
        |LEFT JOIN rt ON dt.w1 = rt.w1 AND dt.w2 = rt.w2 AND dt.w3 = rt.w3
        |LEFT JOIN rbi ON dt.w2 = rbi.w1 AND dt.w3 = rbi.w2
        |LEFT JOIN rtk ON dt.w3 = rtk.tk
        |GROUP BY dt.doc_id""".stripMargin,

    // Composed ladder replay: gopher keep predicate + all-bigrams-
    // known LM gate + per-source running-token-sum budget, one SQL.
    "q_filter_ladder" ->
      s"""WITH g0 AS (SELECT doc_id, coalesce(text, '') raw FROM documents),
        |g1 AS (SELECT doc_id, raw,
        |        list_filter(string_split(${normSql.replace("text", "raw")},
        |          ' '), w -> len(w) > 0) ws,
        |        list_filter(string_split(raw, chr(10)),
        |          l -> len(trim(l)) > 0) ls
        |      FROM g0),
        |gk AS (SELECT doc_id FROM g1 WHERE
        |        len(ws) BETWEEN 30 AND 100000
        |        AND 3 * len(ws) <=
        |            list_sum(list_transform(ws, w -> len(w)))
        |        AND list_sum(list_transform(ws, w -> len(w)))
        |            <= 10 * len(ws)
        |        AND 10 * ((length(raw) - length(replace(raw, '...', ''))) // 3
        |             + (length(raw) - length(replace(raw, '…', '')))
        |             + length(raw) - length(replace(raw, '#', '')))
        |            < len(ws)
        |        AND 10 * len(list_filter(ls,
        |              l -> regexp_matches(trim(l), '^[-*•]'))) <= len(ls)
        |        AND 10 * len(list_filter(ls,
        |              l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$')))
        |            <= 3 * len(ls)
        |        AND 5 * len(list_filter(ws,
        |              w -> regexp_matches(w, '\\p{L}'))) >= 4 * len(ws)
        |        AND ${QualityRules.stopwords.map(sw =>
                  s"(CASE WHEN list_contains(ws, '$sw') THEN 1 ELSE 0 END)")
                  .mkString(" + ")} >= 1),
        |t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, w, len(w) n FROM t WHERE len(w) >= 2),
        |b AS (SELECT doc_id, w[i+1] w1, w[i+2] w2
        |      FROM g, LATERAL (SELECT unnest(generate_series(0, n - 2)) i)),
        |rb AS (SELECT w1, w2 FROM b WHERE doc_id % 5 = 0 GROUP BY 1, 2),
        |lk AS (SELECT doc_id FROM (
        |         SELECT db.doc_id, count(*) nb,
        |                sum(CASE WHEN rb.w1 IS NOT NULL THEN 1 ELSE 0 END) h
        |         FROM (SELECT doc_id, w1, w2 FROM b WHERE doc_id % 5 <> 0) db
        |         LEFT JOIN rb ON db.w1 = rb.w1 AND db.w2 = rb.w2
        |         GROUP BY 1)
        |       WHERE h = nb),
        |surv AS (SELECT d.doc_id, d.source,
        |           CAST(len(string_split($normSql, ' ')) AS BIGINT) n_tokens
        |         FROM documents d
        |         JOIN gk ON d.doc_id = gk.doc_id
        |         JOIN lk ON d.doc_id = lk.doc_id)
        |SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_weight
        |FROM (SELECT doc_id, source, n_tokens,
        |             sum(n_tokens) OVER (PARTITION BY source
        |               ORDER BY doc_id) cum
        |      FROM surv)
        |WHERE cum <= 500""".stripMargin,

    // DSIR count-core replay: the quality model's featurization
    // (tokens + bigrams → md5-prefix mod 4096) with target/raw count
    // tables joined under every raw doc's feature stream.
    "q_dsir_counts" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, list_concat(w, CASE WHEN len(w) >= 2
        |         THEN list_transform(generate_series(1, len(w) - 1),
        |                             i -> w[i] || ' ' || w[i + 1])
        |         ELSE [] END) f
        |      FROM t WHERE len(w) >= 1 AND len(w[1]) > 0),
        |feats AS (SELECT doc_id,
        |            CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
        |              % 4096 b
        |          FROM (SELECT doc_id, unnest(f) tok FROM g)),
        |tc AS (SELECT b, CAST(count(*) AS BIGINT) c FROM feats
        |       WHERE doc_id % 7 = 0 GROUP BY 1),
        |rc AS (SELECT b, CAST(count(*) AS BIGINT) c FROM feats
        |       WHERE doc_id % 7 <> 0 GROUP BY 1),
        |db AS (SELECT doc_id, b FROM feats WHERE doc_id % 7 <> 0)
        |SELECT db.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_feats,
        |       CAST(sum(coalesce(tc.c, 0)) AS BIGINT) AS sum_ct,
        |       CAST(sum(coalesce(rc.c, 0)) AS BIGINT) AS sum_cr
        |FROM db LEFT JOIN tc ON db.b = tc.b
        |        LEFT JOIN rc ON db.b = rc.b
        |GROUP BY db.doc_id""".stripMargin,

    // BPE round-0 replay: character symbols + the </w> marker per
    // vocabulary word, adjacent pairs weighted by word count.
    "q_bpe_pair_counts" ->
      s"""WITH t AS (SELECT string_split($normSql, ' ') ws FROM documents),
        |w0 AS (SELECT unnest(ws) w FROM t),
        |wc AS (SELECT w, CAST(count(*) AS BIGINT) c FROM w0
        |       WHERE len(w) > 0 GROUP BY 1),
        |syms AS (SELECT w, c, list_concat(
        |           list_transform(generate_series(1, length(w)),
        |             i -> substr(w, i, 1)), ['</w>']) s
        |         FROM wc),
        |p AS (SELECT c, s[i+1] a, s[i+2] b
        |      FROM syms, LATERAL (
        |        SELECT unnest(generate_series(0, len(s) - 2)) i))
        |SELECT a, b, CAST(sum(c) AS BIGINT) AS n
        |FROM p GROUP BY 1, 2""".stripMargin,

    // The unigram trainer's seed statistic replayed in SQL: word
    // counts → every (position, length<=4) substring occurrence →
    // count-weighted sum. substring() is character-based in both
    // engines for this corpus.
    "q_unigram_counts" ->
      s"""WITH t AS (SELECT string_split($normSql, ' ') ws FROM documents),
        |w0 AS (SELECT unnest(ws) w FROM t),
        |wc AS (SELECT w, CAST(count(*) AS BIGINT) c FROM w0
        |       WHERE len(w) > 0 GROUP BY 1),
        |subs AS (SELECT substring(w, i, l) piece, c
        |         FROM wc,
        |         LATERAL (SELECT unnest(generate_series(1, len(w))) i),
        |         LATERAL (SELECT unnest(generate_series(1,
        |           least(4, len(w) - i + 1))) l))
        |SELECT piece, CAST(sum(c) AS BIGINT) AS n
        |FROM subs GROUP BY 1""".stripMargin,

    // WordPiece round-0 replay: bare first character + ##-prefixed
    // rest per vocabulary word; adjacent-pair counts joined to both
    // symbols' occurrence counts — the integer sufficient statistics
    // of the likelihood score, in pure longs.
    "q_wordpiece_pair_scores" ->
      s"""WITH t AS (SELECT string_split($normSql, ' ') ws FROM documents),
        |w0 AS (SELECT unnest(ws) w FROM t),
        |wc AS (SELECT w, CAST(count(*) AS BIGINT) c FROM w0
        |       WHERE len(w) > 0 GROUP BY 1),
        |syms AS (SELECT w, c, list_transform(generate_series(1, length(w)),
        |           i -> CASE WHEN i = 1 THEN substr(w, i, 1)
        |                     ELSE '##' || substr(w, i, 1) END) s
        |         FROM wc),
        |p AS (SELECT c, s[i+1] a, s[i+2] b
        |      FROM syms, LATERAL (
        |        SELECT unnest(generate_series(0, len(s) - 2)) i)),
        |pc AS (SELECT a, b, CAST(sum(c) AS BIGINT) n_ab
        |       FROM p GROUP BY 1, 2),
        |sc AS (SELECT sym, CAST(sum(c) AS BIGINT) n FROM
        |       (SELECT c, unnest(s) sym FROM syms) GROUP BY 1)
        |SELECT pc.a, pc.b, pc.n_ab, sa.n AS n_a, sb.n AS n_b
        |FROM pc JOIN sc sa ON pc.a = sa.sym
        |        JOIN sc sb ON pc.b = sb.sym""".stripMargin,

    // n-gram LM scoring-core replay: the reference slice's bigram /
    // unigram count tables left-joined under every scored doc's
    // bigram stream — CCNet's train-then-join-score structure in
    // pure integer count mass.
    "q_lm_score_counts" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |g AS (SELECT doc_id, w, len(w) n FROM t WHERE len(w) >= 2),
        |b AS (SELECT doc_id, w[i+1] w1, w[i+2] w2
        |      FROM g, LATERAL (SELECT unnest(generate_series(0, n - 2)) i)),
        |rb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) c FROM b
        |       WHERE doc_id % 5 = 0 GROUP BY 1, 2),
        |ru AS (SELECT w1, CAST(count(*) AS BIGINT) c FROM b
        |       WHERE doc_id % 5 = 0 GROUP BY 1),
        |db AS (SELECT doc_id, w1, w2 FROM b WHERE doc_id % 5 <> 0)
        |SELECT db.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(CASE WHEN rb.c IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS hits,
        |       CAST(sum(coalesce(rb.c, 0)) AS BIGINT) AS sum_cb,
        |       CAST(sum(coalesce(ru.c, 0)) AS BIGINT) AS sum_cu
        |FROM db LEFT JOIN rb ON db.w1 = rb.w1 AND db.w2 = rb.w2
        |        LEFT JOIN ru ON db.w1 = ru.w1
        |GROUP BY db.doc_id""".stripMargin,

    "q_quality_rarity" ->
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') w FROM documents),
        |occ AS (SELECT doc_id, unnest(w) tok FROM t),
        |dfreq AS (SELECT tok, count(*) df FROM
        |            (SELECT DISTINCT doc_id, tok FROM occ) GROUP BY 1)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(df) AS BIGINT) AS df_sum,
        |       CAST(sum(df) AS DOUBLE) / count(*) AS df_mean,
        |       CAST(min(df) AS BIGINT) AS df_min
        |FROM occ JOIN dfreq USING (tok)
        |GROUP BY doc_id""".stripMargin,

    // q38's oracle with a train-slice filter in `base` plus the
    // decontamination tail: survivors' 5-gram overlap vs the
    // benchmark slice, drop at >= 0.5 (docs too short to shingle
    // have no overlap row and survive — LEFT JOIN + HAVING)
    "q_training_prep_decontam" ->
      s"""WITH base AS (
        |  SELECT doc_id, text,
        |    string_split(text, ' ') w,
        |    string_split(lower(text), ' ') lw,
        |    $normSql AS norm
        |  FROM documents WHERE doc_id % 20 <> 0),
        |scored AS (
        |  SELECT doc_id, text, norm,
        |    CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(lw, x -> x IN ('the','of','and','a','to','is'))) AS DOUBLE)
        |      / CAST(len(w) AS DOUBLE) AS stop_ratio,
        |    len(list_filter(lw, x -> x IN ('the','of','and','a','to','is'))) en,
        |    len(list_filter(lw, x -> x IN ('el','la','de','los','y','es'))) es,
        |    len(list_filter(lw, x -> x IN ('der','die','das','und','ein'))) de,
        |    len(list_filter(lw, x -> x IN ('le','la','les','de','et'))) fr
        |  FROM base),
        |staged AS (
        |  SELECT doc_id AS id, text, norm, n_tokens, stop_ratio,
        |    CASE WHEN text IS NULL THEN 'und'
        |         WHEN greatest(en, es, de, fr) = 0 THEN 'und'
        |         WHEN en >= es AND en >= de AND en >= fr THEN 'en'
        |         WHEN es >= de AND es >= fr THEN 'es'
        |         WHEN de >= fr THEN 'de'
        |         ELSE 'fr' END AS lang_pred
        |  FROM scored),
        |gated AS (SELECT * FROM staged
        |          WHERE n_tokens >= 20 AND stop_ratio <= 0.9
        |            AND lang_pred IN ('en','es','de','fr')),
        |exact AS (SELECT g.* FROM gated g
        |          JOIN (SELECT min(id) AS cid FROM gated
        |                GROUP BY md5(norm)) c ON g.id = c.cid),
        |sh AS (SELECT DISTINCT id, array_to_string(nw[i:i+2], ' ') s
        |       FROM (SELECT id, string_split(norm, ' ') nw FROM exact),
        |            LATERAL (SELECT unnest(generate_series(1, len(nw)-2)) i)),
        |cnt AS (SELECT id, count(*) n FROM sh GROUP BY 1),
        |p AS (SELECT a.id id_a, b.id id_b, count(*) n_common
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        |      GROUP BY 1, 2),
        |dl AS (SELECT DISTINCT id_b
        |       FROM p JOIN cnt ca ON ca.id = id_a
        |              JOIN cnt cb ON cb.id = id_b
        |       WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.8),
        |surv AS (SELECT id, text, norm, n_tokens, lang_pred FROM exact
        |         WHERE id NOT IN (SELECT id_b FROM dl)),
        |bsh AS (SELECT DISTINCT array_to_string(bw[i:i+4], ' ') s
        |        FROM (SELECT string_split($normSql, ' ') bw FROM documents
        |              WHERE doc_id % 20 = 0),
        |             LATERAL (SELECT unnest(generate_series(1, len(bw)-4)) i)),
        |tsh AS (SELECT DISTINCT id, array_to_string(nw[i:i+4], ' ') s
        |        FROM (SELECT id, string_split(norm, ' ') nw FROM surv),
        |             LATERAL (SELECT unnest(generate_series(1, len(nw)-4)) i)),
        |cont AS (SELECT t.id FROM tsh t LEFT JOIN bsh b ON t.s = b.s
        |         GROUP BY t.id
        |         HAVING CAST(count(b.s) AS DOUBLE) / count(*) >= 0.5)
        |SELECT id, text, n_tokens, lang_pred FROM surv
        |WHERE id NOT IN (SELECT id FROM cont)""".stripMargin,

    // coalesce inside the window sum: the operator counts a NULL
    // weight as 0 (doc kept, budget untouched), while a bare window
    // sum would skip NULLs — and yield NULL (dropping the row) when a
    // key's FIRST doc has NULL text
    "q_token_budget_sample" ->
      """SELECT lang, doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
        |FROM (SELECT lang, doc_id, n_tokens,
        |             sum(coalesce(n_tokens, 0)) OVER (
        |               PARTITION BY lang ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
        |      FROM (SELECT lang, doc_id,
        |              CAST(len(string_split(text, ' ')) AS BIGINT) n_tokens
        |            FROM documents))
        |WHERE cum <= 2000""".stripMargin
  )

  /** DuckDB mirror of `Cleanser.normalized`. */
  /** q_sample_stratified's mixture — single source of truth for both
    * the Spark entry and the generated oracle. */
  private val sampleRates: Map[String, Double] =
    Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)
  private val sampleDefaultRate = 0.05

  private def sampleOracleSql: String = {
    val cases = sampleRates.toSeq.sortBy(_._1).map { case (s, r) =>
      s"WHEN '$s' THEN '${graft.operators.Sampling.hexThreshold(r)}'"
    }.mkString("\n              ")
    s"""SELECT doc_id, source FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
      |  CASE source $cases
      |              ELSE '${graft.operators.Sampling.hexThreshold(sampleDefaultRate)}' END""".stripMargin
  }

  /** q_dedup_simhash_seeded oracle: token hash = first 15 md5 hex
    * chars as a 60-bit value (DuckDB `CAST('0x'||hex AS BIGINT)` ==
    * Spark `conv(hex, 16, 10)` — verified identical; 60 bits fits
    * signed 64-bit in both engines), bit j = (v >> j) & 1, LSB first,
    * matching graft.plans.SimHashBitsSeeded's layout (the Bits/band
    * constants come from that one source of truth). */
  private def simhashSeededOracleSql: String = {
    val nBits = graft.plans.SimHashBitsSeeded.Bits
    val width = nBits / 4
    val bitExprs = (0 until nBits).map { j =>
      s"(CASE WHEN 2 * len(list_filter(hv, v -> (v >> $j) & 1 = 1)) >= len(hv) THEN '1' ELSE '0' END)"
    }.grouped(4).map(_.mkString(" || ")).mkString(" ||\n        |      ")
    s"""WITH t AS (SELECT doc_id, list_distinct(string_split($normSql, ' ')) w
      |           FROM documents),
      |h AS (SELECT doc_id, list_transform(w,
      |        tk -> CAST(concat('0x', substr(md5(tk), 1, 15)) AS BIGINT)) hv
      |      FROM t WHERE len(w) >= 1),
      |bits AS (SELECT doc_id,
      |      $bitExprs AS bits
      |      FROM h),
      |banded AS (SELECT doc_id, bits, b, substr(bits, b*$width+1, $width) bs
      |           FROM bits, LATERAL (SELECT unnest(generate_series(0, 3)) b)),
      |cand AS (SELECT DISTINCT a.doc_id id_a, b2.doc_id id_b,
      |                a.bits ba, b2.bits bb
      |         FROM banded a JOIN banded b2
      |           ON a.b = b2.b AND a.bs = b2.bs AND a.doc_id < b2.doc_id)
      |SELECT id_a, id_b,
      |       CAST(len(list_filter(generate_series(1, $nBits),
      |         i -> substr(ba, i, 1) <> substr(bb, i, 1))) AS BIGINT) AS hamming
      |FROM cand
      |WHERE len(list_filter(generate_series(1, $nBits),
      |  i -> substr(ba, i, 1) <> substr(bb, i, 1))) <= 3""".stripMargin
  }

  private val normSql =
    """lower(trim(replace(replace(replace(replace(text, chr(13), ' '), chr(10), ' '), '"', ''), ',', '')))"""

  /** Axis-plane LSH bands as a UNION ALL: bit i of the Spark bucket =
    * sign of dimension i (DuckDB lists are 1-indexed); band b carries
    * bits [b·bitsPerBand, (b+1)·bitsPerBand), low bit first —
    * exactly `Similarity.bucketBits` over
    * `axisPlanes(dim, bands·bitsPerBand)`. */
  private def embBandSqlFor(bands: Int, bitsPerBand: Int): String =
    (0 until bands).map { b =>
      val bits = (0 until bitsPerBand).map { k =>
        s"(CASE WHEN e[${b * bitsPerBand + k + 1}] >= 0 THEN ${1L << k} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT id, $b AS band, $bits AS bits FROM v"
    }.mkString(" UNION ALL ")

  /** The 8 two-bit bands of q_dedup_embedding. */
  private val embBandSql: String = embBandSqlFor(bands = 8, bitsPerBand = 2)

  /** The 8 eight-bit bands of q_dedup_embedding_strict — the
    * `autoBandConfig` rung for n < 16k, which is what the sf0.01
    * corpus Verify grades against lands on (505 vectors incl. the 5
    * planted copies); larger corpora take higher-bit rungs the Spark
    * side computes from count() (this static SQL is only ever
    * replayed at sf0.01, and tools/check.py asserts the rung match
    * before grading). */
  private val embBandStrictSql: String =
    embBandSqlFor(bands = 8, bitsPerBand = 8)

  /** q_ann_lsh_bucketed oracle: the exact Gaussian hyperplanes the
    * Spark query uses (Similarity.hyperplanes(64, 6) — deterministic,
    * seeded) are embedded as double literals; bucket bit p is the dot
    * sign. Scala's Double.toString round-trips, so DuckDB parses the
    * identical doubles; only the dot's *sign* feeds the join, which is
    * robust to summation-order noise. Scores use
    * list_cosine_similarity(CAST AS DOUBLE[]) — bitwise equal to the
    * Spark fold (verified).
    */
  private def lshOracleSql: String = {
    val planes = graft.operators.Similarity.hyperplanes(64, 6)
    def bucketExpr: String = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product(e, CAST($arr AS DOUBLE[])) >= 0 " +
        s"THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    lshSqlWith(bucketExpr, probeCte = "", probeSrc = "qb",
      bucketCol = "qb.bucket")
  }

  /** q_ann_multiprobe oracle: lshOracleSql's buckets plus the probe
    * expansion — per plane, the query's |dot| margin (the identical
    * left-fold double Spark computes); the `probes - 1` smallest
    * margins (plane index breaks ties, as the Spark side's
    * struct(m, i) sort) flip their bit of the base bucket via xor.
    * One UNION ALL branch per plane keeps the margin sort a plain
    * window row_number — no list-of-struct sorting in SQL. */
  private def multiProbeOracleSql: String = {
    val planes = graft.operators.Similarity.hyperplanes(64, 6)
    val probes = 3
    def bucketExpr: String = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product(e, CAST($arr AS DOUBLE[])) >= 0 " +
        s"THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val marginUnion = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"SELECT q_id, $i AS i, CAST(${1L << i} AS BIGINT) AS mask, " +
        s"abs(list_inner_product(e, CAST($arr AS DOUBLE[]))) AS m FROM qb"
    }.mkString(" UNION ALL ")
    val probeCte =
      s""",mg AS ($marginUnion),
         |fl AS (SELECT q_id, mask,
         |              row_number() OVER (PARTITION BY q_id ORDER BY m, i) rn
         |       FROM mg),
         |pb AS (SELECT q_id, bucket FROM qb
         |       UNION ALL
         |       SELECT f.q_id, xor(qb.bucket, f.mask) AS bucket
         |       FROM fl f JOIN qb ON qb.q_id = f.q_id
         |       WHERE f.rn <= ${probes - 1})""".stripMargin
    lshSqlWith(bucketExpr, probeCte,
      probeSrc = "pb JOIN qb ON qb.q_id = pb.q_id",
      bucketCol = "pb.bucket")
  }

  /** Shared LSH-oracle skeleton: corpus/query bucketing + cosine
    * top-5; `probeSrc`/`bucketCol` select which bucket set the join
    * probes (the query's own, or the multi-probe expansion CTE). */
  private def lshSqlWith(bucketExpr: String, probeCte: String,
                         probeSrc: String, bucketCol: String): String = {
    s"""WITH c AS (SELECT vec_id n_id, CAST(embedding AS DOUBLE[]) e FROM embeddings
       |      WHERE list_inner_product(embedding, embedding) > 0),
       |q AS (SELECT vec_id q_id, CAST(embedding AS DOUBLE[]) e FROM embeddings
       |      WHERE vec_id < 8
       |        AND list_inner_product(embedding, embedding) > 0),
       |cb AS (SELECT n_id, e, $bucketExpr AS bucket FROM c),
       |qb AS (SELECT q_id, e, $bucketExpr AS bucket FROM q)
       |$probeCte,
       |s AS (SELECT qb.q_id, cb.n_id, list_cosine_similarity(qb.e, cb.e) score
       |      FROM $probeSrc JOIN cb ON cb.bucket = $bucketCol
       |                                AND cb.n_id <> qb.q_id)
       |SELECT q_id, CAST(rn AS BIGINT) AS rnk, n_id, score
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |                                   ORDER BY score DESC, n_id) rn
       |      FROM s)
       |WHERE rn <= 5""".stripMargin
  }
}
