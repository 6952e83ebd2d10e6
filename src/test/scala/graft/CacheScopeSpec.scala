package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.util.CacheScope

/** The cache-lifecycle contract (r16): the dedup family's one-pass
  * lineages persist operator-internal intermediates; by default those
  * blocks are GC-scoped (right for query-per-action shapes), and a
  * long-lived caller releases them DETERMINISTICALLY with
  * `CacheScope.releaseAll()` — storage returns to baseline without
  * waiting on a driver GC, and the returned frames stay usable
  * (unpersist recomputes, never loses rows). */
class CacheScopeSpec extends GraftSuite {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "a completely different document about spark catalyst planning"),
    (4L, "a completely different document about spark catalyst planning " +
      "with a long unique tail of extra tokens to shift its windows"))
    .toDF("doc_id", "text")

  test("dedup-family caches release deterministically; storage returns to baseline") {
    // drain whatever earlier suites left registered, then snapshot
    // the session's remaining cached RDDs as the baseline
    CacheScope.releaseAll(blocking = true)
    val baseline = spark.sparkContext.getPersistentRDDs.keySet

    // two one-pass-lineage operators, each driven through a real
    // action (the persist materializes during the action)
    val pairs = Dedup.winnowVerifiedPairs(docs, col("doc_id"),
      col("text"), k = 3, w = 2)
    assert(pairs.count() >= 1)
    val cdc = Dedup.cdcDedup(docs, col("doc_id"), col("text"),
      k = 3, divisor = 8)
    assert(cdc.count() == 4)

    // the operators registered their intermediates and the blocks are
    // live right now (that's the within-query reuse the r15 lineage
    // fix exists for)...
    assert(CacheScope.liveCount > 0, "operators registered no caches")
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .diff(baseline).nonEmpty, "expected live cached blocks")

    // ...and one release call returns storage to the baseline —
    // deterministic, no GC involved
    val released = CacheScope.releaseAll(blocking = true)
    assert(released > 0)
    val leftover = spark.sparkContext.getPersistentRDDs.keySet
      .diff(baseline)
    assert(leftover.isEmpty,
      s"cached blocks survived releaseAll: $leftover")

    // released frames stay correct: the lineage recomputes
    assert(cdc.count() == 4)
    assert(CacheScope.releaseAll(blocking = true) >= 0) // idempotent
  }

  test("assignScalable's ranged input is registered, and releaseAll frees it") {
    CacheScope.releaseAll(blocking = true)
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val out = graft.etl.Batching.assignScalable(spark.range(100).toDF("k"),
      col("k"), size = 10, partitions = 4)
    // the cached scans a fresh plan over `out` reads: the CacheManager
    // substitutes every frame it holds an entry for
    def cachedIn(df: org.apache.spark.sql.DataFrame) =
      df.select("*").queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r }
    assert(out.select("batch_id").distinct().count() == 10)
    assert(CacheScope.liveCount > 0, "assignScalable registered no cache")
    assert(cachedIn(out).nonEmpty)
    CacheScope.releaseAll(blocking = true)
    assert(cachedIn(out).isEmpty, "the ranged input is still cached")
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(baseline).isEmpty)
    assert(out.count() == 100) // released, still correct
  }

  test("an out-of-band clearCache does not leave the registry retaining dead plans (r17)") {
    CacheScope.releaseAll(blocking = true)
    val cached = graft.util.CacheScope.track(
      spark.range(100).toDF("x").persist())
    assert(cached.count() == 100)
    assert(CacheScope.liveCount == 1)
    // the caller frees blocks with its own clearCache instead of
    // releaseAll — the registry must not strongly retain the dead
    // plan forever (the r16-advice driver-side leak); the next
    // track() purges it
    spark.catalog.clearCache()
    assert(graft.util.CacheScope.purgeCleared() == 1)
    assert(CacheScope.liveCount == 0)
    // a LIVE entry is never purged
    val live = graft.util.CacheScope.track(
      spark.range(50).toDF("y").persist())
    assert(live.count() == 50)
    assert(graft.util.CacheScope.purgeCleared() == 0)
    assert(CacheScope.liveCount == 1)
    assert(CacheScope.releaseAll(blocking = true) == 1)
  }

  test("a failing unpersist is counted and logged, and never aborts the drain (r17)") {
    CacheScope.releaseAll(blocking = true)
    val before = CacheScope.swallowedCount
    // two PERSISTED frames (track's purge drops unpersisted entries
    // by design); the injected unpersist fails on the FIRST — the
    // drain must continue to the second, count the swallow, and
    // leave the registry empty (the r16 advice: the silent
    // catch-everything would have eaten a real failure invisibly)
    val a = graft.util.CacheScope.track(spark.range(5).toDF("a").persist())
    val b = graft.util.CacheScope.track(spark.range(7).toDF("b").persist())
    assert(a.count() == 5 && b.count() == 7)
    var seen = 0
    val released = CacheScope.releaseAllWith((ds, bl) => {
      seen += 1
      if (ds eq a) throw new RuntimeException("injected unpersist fault")
      ds.unpersist(bl); ()
    }, blocking = false)
    assert(seen == 2, "the drain aborted at the failing frame")
    assert(released == 1)
    assert(CacheScope.swallowedCount == before + 1,
      "the swallow must be observable")
    assert(CacheScope.liveCount == 0)
    // fatal errors propagate (NonFatal discipline)
    graft.util.CacheScope.track(spark.range(1).toDF("c"))
    intercept[InterruptedException] {
      CacheScope.releaseAllWith((_, _) =>
        throw new InterruptedException("fatal"), blocking = false)
    }
    Thread.interrupted() // clear any flag paranoia; drain the frame
    assert(CacheScope.releaseAll(blocking = true) >= 0)
    assert(CacheScope.swallowedCount == before + 1,
      "a FATAL error must not be swallowed-and-counted")
    a.unpersist(true) // the injected fault skipped a's real blocks
  }
}
