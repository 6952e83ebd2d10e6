package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.obs.Meter

/** SparkEntry's serving stores live under the running context's
  * SparkFiles root, keyed by store kind and sf dir: built on a query's
  * first call, served as built on every later call in this context,
  * and never shared between sf dirs. */
class ServingStoreSpec extends GraftSuite {

  /** Each store-backed query and the store kind it reads.
    * q_merge_partitioned is left out: it re-merges on every call. */
  private val storeOf = Seq(
    "q_merge_versioned" -> "merge1",
    "q_store_skip" -> "skip",
    "q_store_skip_versioned" -> "skipv",
    "q_store_skip_zorder" -> "skipz",
    "q_store_skip_fileindex" -> "skip",
    "q_store_skip_partitioned" -> "skipp",
    "q_store_skip_dynamic" -> "skipd",
    "q_store_skip_dynamic_part" -> "skipdp",
    "q_backfill_range_store" -> "bfr",
    "q_cms_cells_stored" -> "cms1",
    "q_ann_opq_store" -> "opq1",
    "q_ann_residual_store" -> "res1",
    "q_opq_refresh" -> "opq1")

  /** Every file and directory under `dir`: relative path -> (size,
    * modification time). A write anywhere below changes it. */
  private def tree(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator.asScala.map { p: Path =>
      root.relativize(p).toString ->
        (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap
  }

  private def run(name: String, dir: String): Meter.Charge =
    Meter.measure(spark.sparkContext, s"serving-$name") {
      SparkEntry.queries(name)(spark, dir).collect()
    }._2

  test("a second call of a store-backed query builds nothing") {
    // the store root is the running context's, so nothing built
    // before this context started can be served
    spark.sparkContext
    val root = Paths.get(SparkEntry.storePath("skip", sfDir)).getParent
    assert(root.startsWith(org.apache.spark.SparkFiles.getRootDirectory()))
    storeOf.foreach { case (name, kind) =>
      val path = Paths.get(SparkEntry.storePath(kind, sfDir))
      val fresh = !Files.exists(path) // else an earlier query built it
      val first = run(name, sfDir)
      assert(Files.isDirectory(path), s"$name built no $kind store")
      val before = tree(root.toString)
      Thread.sleep(5) // a rewrite would show as a later mtime
      val second = run(name, sfDir)
      assert(tree(root.toString) == before,
        s"$name: the second call changed the stores under $root")
      // the build's write jobs run once; serving runs none of them
      assert(if (fresh) second.jobs < first.jobs else second.jobs <= first.jobs,
        s"$name: ${second.jobs} jobs on the second call, ${first.jobs} on the first")
    }
  }

  test("the same query on a second sf dir gets its own store") {
    // the same tables under another path: the store is keyed by the
    // dir string, not by a fingerprint of the data
    spark.sparkContext
    val link = Files.createTempDirectory("graft-sf-twin").resolve("sf")
    Files.createSymbolicLink(link, Paths.get(sfDir).toAbsolutePath)
    try {
      val first = SparkEntry.storePath("skip", sfDir)
      val second = SparkEntry.storePath("skip", link.toString)
      assert(first != second)
      val rows = SparkEntry.queries("q_store_skip")(spark, sfDir).collect()
      val before = tree(first)
      val twin = SparkEntry.queries("q_store_skip")(spark, link.toString)
        .collect()
      assert(twin.toSet == rows.toSet)
      assert(Files.exists(Paths.get(second, "_BUILT")))
      assert(tree(first) == before, "the twin dir touched the first store")
    } finally {
      graft.io.MarkerCommit.deleteRecursively(
        SparkEntry.storePath("skip", link.toString))
      Files.delete(link)
      Files.delete(link.getParent)
    }
  }
}
