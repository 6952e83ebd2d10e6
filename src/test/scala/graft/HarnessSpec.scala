package graft

import scala.collection.mutable.ArrayBuffer

class HarnessSpec extends GraftSuite {

  test("Session.profile pins graft's session settings") {
    val pinned = Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "8192",
      "spark.executor.heartbeatInterval" -> "60s",
      "spark.network.timeout" -> "600s")
    assert(Session.settings == pinned)
    // the shared test session is built through the profile
    val conf = spark.sparkContext.getConf
    pinned.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // the profile leaves a caller's own choices alone
    assert(conf.get("spark.master") == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("alternate reverses the arm order on odd runs") {
    val order = ArrayBuffer.empty[String]
    var between = 0
    val arms = Seq("a", "b", "c").map(n => n -> (() => { order += n; () }))
    val res = Harness.alternate("spec", 3, arms, () => between += 1)
    assert(order.toSeq == Seq("a", "b", "c", "c", "b", "a", "a", "b", "c"))
    assert(between == 9)
    assert(res.times.keySet == Set("a", "b", "c"))
    assert(res.times.values.forall(t => t.size == 3 && t.forall(_ >= 0)))
    assert(res.stalls.size == 3)
  }

  test("median of odd, even and empty samples") {
    assert(Harness.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Harness.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    // a JSON field stays a number when nothing was measured
    assert(Harness.median(Nil) == -1.0)
    assert(Harness.jarr(Seq(1.23456, 2.0)) == "[1.235,2.0]")
  }
}
