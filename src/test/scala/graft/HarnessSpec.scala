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

  test("Bench and Verify knobs: 0 means off, flags, query lists; bad values fail named") {
    import Harness._
    val name = "SPARK_GRAFT_KNOB"
    def env(v: String): String => Option[String] = Map(name -> v).get
    val unset: String => Option[String] = _ => None
    def rejects(values: Seq[String])(parse: (String => Option[String]) => Any): Unit =
      values.foreach { v =>
        val e = intercept[IllegalArgumentException](parse(env(v)))
        assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$v'"),
          e.getMessage)
      }
    val blank = Seq("", "  ")
    assert(nonNegativeInt(name, 900, unset) == 900)
    assert(nonNegativeInt(name, 900, env("0")) == 0)
    assert(nonNegativeInt(name, 900, env(" 30 ")) == 30)
    rejects(Seq("abc", "-1", "1.5", "3000000000") ++ blank)(nonNegativeInt(name, 900, _))
    assert(nonNegative(name, 5.0, unset) == 5.0)
    assert(nonNegative(name, 5.0, env("0")) == 0.0)
    assert(nonNegative(name, 5.0, env("2.5")) == 2.5)
    rejects(Seq("abc", "-0.5", "NaN", "Infinity") ++ blank)(nonNegative(name, 5.0, _))
    // only 0/1/true/false: "off" used to leave the witnesses on
    assert(!flag(name, true, env("false")) && !flag(name, true, env("0")))
    rejects(Seq("off", "no") ++ blank)(flag(name, true, _))

    val known = Set("q_a", "q_b", "q_c")
    assert(names(name, Seq("q_a"), known, unset) == Seq("q_a"))
    assert(names(name, Nil, known, env(" q_c, q_a,q_c ,")) == Seq("q_c", "q_a"))
    rejects(Seq("q_typo", "q_a,q_typo", ",", " , ") ++ blank)(names(name, Nil, known, _))
    val e = intercept[IllegalArgumentException](names(name, Nil, known, env("q_a,q_x")))
    assert(e.getMessage.contains("unknown: q_x"), e.getMessage)
  }
}
