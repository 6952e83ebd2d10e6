package graft

import org.apache.spark.sql.functions._

import graft.etl.{Audit, Snapshot}
import graft.io.Tables
import graft.operators.{CensusPipeline, RollingWindow}

class EtlCoreSpec extends GraftSuite {

  lazy val t = Tables(spark, sfDir)

  test("censusCount returns per-location counts on the latest day") {
    val out = CensusPipeline.censusCount(t).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(1) > 0))
    // exactly one day contributes: counts equal orders on that day
    val locations = out.map(_.getString(0))
    assert(locations.distinct.length == locations.length)
  }

  test("hourlyCensus buckets every event exactly once") {
    val out = CensusPipeline.hourlyCensus(t)
    val total = out.agg(sum("n")).collect()(0).getLong(0)
    assert(total == t.events.count())
  }

  test("explodeZones: one projection, same rows and columns as the withColumn chain") {
    val s = spark; import s.implicits._
    val ts = java.sql.Timestamp.valueOf(_: String)
    val zones = Seq(
      (1L, 0, ts("2024-03-01 07:10:00"), ts("2024-03-01 19:10:00")),
      (1L, 1, ts("2024-03-01 19:10:00"), ts("2024-03-01 07:10:00")), // wraps
      (2L, 0, ts("2024-03-01 08:00:00"), null))
      .toDF("dept_id", "zone_id", "start_ts", "end_ts")
    // the chained form explodeZones replaced
    def chained(window: Int) = zones
      .withColumn("__start", col("start_ts"))
      .withColumn("__end", RollingWindow.wrapOvernight(col("start_ts"),
        col("end_ts")))
      .withColumn("__off", explode(sequence(lit(0), lit(window))))
      .withColumn("z_start",
        col("__start") + col("__off") * expr("INTERVAL 1 DAY"))
      .withColumn("z_end",
        col("__end") + col("__off") * expr("INTERVAL 1 DAY"))
      .drop("__start", "__end", "__off")
    Seq(0, 1, 3, -2).foreach { w =>
      val got = RollingWindow.explodeZones(zones, col("start_ts"),
        col("end_ts"), w)
      val ref = chained(w)
      assert(got.columns.toSeq == ref.columns.toSeq)
      assert(got.schema.map(_.dataType) == ref.schema.map(_.dataType))
      assert(got.collect().map(_.toString).sorted.toSeq ==
        ref.collect().map(_.toString).sorted.toSeq, s"window $w")
      assert(got.count() == 3L * (math.abs(w) + 1))
    }
  }

  test("withAuditColumns: audit columns appended in order, same-named input replaced in place") {
    val s = spark; import s.implicits._
    val in = Seq((1L, "old", 9L)).toDF("id", "INSERT_USER_ID", "v")
    val out = Audit.withAuditColumns(in, lit(42L), "svc")
    assert(out.columns.toSeq == Seq("id", "INSERT_USER_ID", "v", "RUN_ID",
      "ROW_INSERT_TSP", "ROW_UPDT_TSP", "UPDT_USER_ID"))
    val r = out.head()
    assert(r.getAs[String]("INSERT_USER_ID") == "svc" &&
      r.getAs[Long]("RUN_ID") == 42L && r.getAs[Long]("v") == 9L)
    // one Project over the input, not one per audit column
    val projects = out.queryExecution.analyzed.collect {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => p }
    assert(projects.size == in.queryExecution.analyzed.collect {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => p
    }.size + 1)
  }

  test("Snapshot.latest keeps only max-version rows") {
    val li = t.lineitem.select("l_orderkey", "l_shipdate")
    val out = Snapshot.latest(li, to_date(col("l_shipdate")))
    val maxDay = li.agg(max(to_date(col("l_shipdate")))).collect()(0).getDate(0)
    assert(out.count() > 0)
    assert(out.select(to_date(col("l_shipdate"))).distinct().collect()
      .forall(_.getDate(0) == maxDay))
  }

  test("Snapshot.asOf respects the version ceiling") {
    val li = t.lineitem.withColumn("v", year(col("l_shipdate")).cast("long"))
    val out = Snapshot.asOf(li, col("v"), 1997L)
    assert(out.select("v").distinct().collect().map(_.getLong(0)).toSeq == Seq(1997L))
  }

  test("Snapshot.newerThan yields only rows past the watermark") {
    val out = Snapshot.newerThan(
      t.lineitem.select("l_orderkey", "l_shipdate"), col("l_shipdate"),
      t.orders, col("o_orderdate"))
    val wm = t.orders.agg(max("o_orderdate")).collect()(0)
      .getAs[java.time.LocalDateTime](0)
    assert(out.collect().forall(
      _.getAs[java.time.LocalDateTime]("l_shipdate").isAfter(wm)))
  }

  test("Snapshot.unprocessed is a set-minus on the key") {
    val incoming = t.customer.select("c_custkey")
    val processed = t.orders.select(col("o_custkey").as("c_custkey"))
    val out = Snapshot.unprocessed(incoming, processed, "c_custkey")
    // every customer has orders in this data -> empty
    assert(out.count() == 0)
    val none = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      incoming.schema)
    assert(Snapshot.unprocessed(incoming, none, "c_custkey").count() ==
      incoming.count())
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has matching column names with its oracle alias contract") {
    // each queries entry must run and return >0 rows at sf0.001
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }
}
