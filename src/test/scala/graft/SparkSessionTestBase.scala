package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites, on graft's session
  * profile. Four cores, four shuffle partitions and AQE on are the
  * tests' own: the data layouts the specs assert depend on them. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.profile(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir: String = TestSpark.sfDir
}
