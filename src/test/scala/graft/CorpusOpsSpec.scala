package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Batching
import graft.operators.{CorpusStats, Decontaminate}

/** Decontamination, boilerplate pruning, rarity scoring, and the
  * per-key budget take. */
class CorpusOpsSpec extends GraftSuite {
  import spark.implicits._

  // ---- Decontaminate ----

  test("overlapStats: exact copy is fully contaminated, fresh doc is clean") {
    val bench = Seq((100L, "a b c d e f g h")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "a b c d e f g h"),   // exact copy: overlap 1.0
      (2L, "p q r s t u v w"),   // disjoint: overlap 0.0
      (3L, "x y a b c d e z")    // shares shingles "a b c" "b c d" "c d e"
    ).toDF("doc_id", "text")
    val got = Decontaminate.overlapStats(train, bench,
        col("doc_id"), col("text"), n = 3, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))).toMap
    assert(got(1L) == ((6L, 6L, 1.0, 1)))
    assert(got(2L) == ((6L, 0L, 0.0, 0)))
    assert(got(3L) == ((6L, 3L, 0.5, 1)))
  }

  test("overlapStats: docs shorter than n tokens are absent") {
    val bench = Seq((9L, "a b c d")).toDF("doc_id", "text")
    val train = Seq((1L, "a b"), (2L, "a b c d")).toDF("doc_id", "text")
    val ids = Decontaminate.overlapStats(train, bench,
        col("doc_id"), col("text"), n = 3, threshold = 0.5)
      .select("id").as[Long].collect().toSet
    assert(ids == Set(2L))
  }

  // ---- CorpusStats ----

  test("docFrequencies counts documents, not occurrences") {
    val docs = Seq(
      (1L, "the the cat"), (2L, "the dog"), (3L, "bird")
    ).toDF("doc_id", "text")
    val got = CorpusStats.docFrequencies(docs, col("doc_id"), col("text"))
      .as[(String, Long)].collect().toMap
    assert(got == Map("the" -> 2L, "cat" -> 1L, "dog" -> 1L, "bird" -> 1L))
  }

  test("removeBoilerplate strips hot tokens, preserves order, keeps empties") {
    // "the" in 4/4 docs; "cat" in 2/4; frac 0.75 → threshold ceil(3)=3
    val docs = Seq(
      (1L, "the cat sat the mat"),
      (2L, "the cat"),
      (3L, "the"),               // fully boilerplate → empty clean text
      (4L, "the dog")
    ).toDF("doc_id", "text")
    val got = CorpusStats.removeBoilerplate(docs, col("doc_id"),
        col("text"), frac = 0.75)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("cat sat mat", 3L, 2L)))
    assert(got(2L) == (("cat", 1L, 1L)))
    assert(got(3L) == (("", 0L, 1L)))
    assert(got(4L) == (("dog", 1L, 1L)))
  }

  test("removeBoilerplate with an empty hot set is the identity") {
    val docs = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val got = CorpusStats.removeBoilerplate(docs, col("doc_id"),
        col("text"), frac = 0.75)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("a b", 2L, 0L)))
    assert(got(2L) == (("c d", 2L, 0L)))
  }

  test("ArrayRemoveAll == declarative filter(!array_contains), incl. edge rows") {
    val df = Seq(
      (1L, Seq("a", "b", "a", "c", "a"), Seq("a")),
      (2L, Seq("x", "y"), Seq[String]()),        // empty remove set
      (3L, Seq[String](), Seq("x")),             // empty tokens
      (4L, Seq("", "a", ""), Seq("")),           // empty-string tokens
      (5L, Seq("q", "q"), Seq("q", "z"))         // all removed
    ).toDF("id", "toks", "rem")
    val got = df.select(col("id"),
        graft.plans.ArrayExpressions.removeAll(col("toks"), col("rem")).as("r"))
      .as[(Long, Seq[String])].collect().toMap
    val want = df.select(col("id"),
        filter(col("toks"), t => !array_contains(col("rem"), t)).as("r"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got == want)
    assert(got(1L) == Seq("b", "c") && got(4L) == Seq("a") &&
      got(5L) == Seq.empty)
    // null tokens array propagates null (null-text document)
    val n = Seq((6L, Option.empty[Seq[String]], Option(Seq("a"))))
      .toDF("id", "toks", "rem")
      .select(graft.plans.ArrayExpressions.removeAll(col("toks"), col("rem")))
      .collect()(0)
    assert(n.isNullAt(0))
  }

  test("rarityStats: integer-exact df sums over occurrences") {
    // dfs: the→2, cat→2, rare→1
    val docs = Seq(
      (1L, "the cat the"),       // dfs 2,2,2 → sum 6, mean 2.0, min 2
      (2L, "the cat rare")       // dfs 2,2,1 → sum 5, mean 5/3, min 1
    ).toDF("doc_id", "text")
    val got = CorpusStats.rarityStats(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(got(1L) == ((3L, 6L, 2.0, 2L)))
    assert(got(2L) == ((3L, 5L, 5.0 / 3.0, 1L)))
  }

  test("overlapStatsBloom: conservative superset of the exact gate") {
    val docs = graft.io.Tables(spark, sfDir).documents
    val train = docs.where(col("doc_id") % 20 =!= 0)
    val bench = docs.where(col("doc_id") % 20 === 0)
    def byId(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(4)))).toMap
    val exact = byId(Decontaminate.overlapStats(train, bench,
      col("doc_id"), col("text"), n = 5, threshold = 0.5))
    val bloom = byId(Decontaminate.overlapStatsBloom(train, bench,
      col("doc_id"), col("text"), n = 5, threshold = 0.5, fpp = 0.03))
    assert(exact.nonEmpty && bloom.keySet == exact.keySet)
    exact.foreach { case (id, (nSh, nMatch, flag)) =>
      val (bSh, bMatch, bFlag) = bloom(id)
      assert(bSh == nSh, s"doc $id shingle count drifted")
      // false positives only ADD matches — never subtract
      assert(bMatch >= nMatch, s"doc $id lost matches under bloom")
      assert(bFlag >= flag, s"doc $id lost its contamination flag")
    }
    // and the realized fp load is sketch-sized, not pathological:
    // at fpp=3% total spurious matches stay well under 10% of probes
    val spurious = exact.keys.map(id => bloom(id)._2 - exact(id)._2).sum
    val probes = exact.values.map(_._1).sum
    assert(spurious.toDouble / probes < 0.10,
      s"fp load $spurious/$probes exceeds sketch sizing")
  }

  test("overlapStatsBloom: generous sizing reproduces the exact gate") {
    // The realized fp set is DETERMINISTIC per (corpus, sizing): at
    // fpp 1e-6 this corpus realizes exactly one spurious shingle match
    // (~3% chance over ~30k probes — we drew it), at 1e-9 it realizes
    // zero, verified — so the sketch path reproduces the exact
    // operator bit-for-bit at this sizing, and the test pins that
    val docs = graft.io.Tables(spark, sfDir).documents
    val train = docs.where(col("doc_id") % 20 =!= 0)
    val bench = docs.where(col("doc_id") % 20 === 0)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    val a = norm(Decontaminate.overlapStats(train, bench,
      col("doc_id"), col("text"), n = 5, threshold = 0.5))
    val b = norm(Decontaminate.overlapStatsBloom(train, bench,
      col("doc_id"), col("text"), n = 5, threshold = 0.5, fpp = 1e-9))
    assert(a.nonEmpty && a == b)
  }

  test("bloom build/probe: no false negatives, merged across partitions") {
    import graft.plans.BloomFilters
    val vals = spark.range(0, 5000).toDF("v").repartition(7)
    val bf = BloomFilters.buildLong(vals, col("v"), 5000L, 0.01)
    // every inserted value answers true (bloom guarantees no false
    // negatives ONLY if partial filters merged correctly)
    val bc = spark.sparkContext.broadcast(bf)
    val missed = spark.range(0, 5000).toDF("v")
      .where(!BloomFilters.mightContainLong(bc, col("v")))
      .count()
    assert(missed == 0L)
    // and far-away values mostly answer false (sketch isn't saturated)
    val fps = spark.range(1000000, 1010000).toDF("v")
      .where(BloomFilters.mightContainLong(bc, col("v")))
      .count()
    assert(fps < 500L, s"false-positive count $fps implies a broken merge")
  }

  test("overlapStatsBloomStateless equals the rollup bloom gate") {
    // same sketch parameters -> the SAME deterministic filter (putLong
    // is deterministic and partial merges are bitwise OR), so the
    // per-row projection must reproduce the explode->rollup plan
    // bit-for-bit
    val docs = graft.io.Tables(spark, sfDir).documents
    val train = docs.where(col("doc_id") % 20 =!= 0)
    val bench = docs.where(col("doc_id") % 20 === 0)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    val a = norm(Decontaminate.overlapStatsBloom(train, bench,
      col("doc_id"), col("text"), n = 5, threshold = 0.5, fpp = 0.03))
    val b = norm(Decontaminate.overlapStatsBloomStateless(train, bench,
      col("doc_id"), col("text"), n = 5, threshold = 0.5, fpp = 0.03))
    assert(a.nonEmpty && a == b)
  }

  test("prebuilt BenchSketch: one build, zero bench-side jobs per gate") {
    // the r6 verdict's pit-of-success ask: a per-batch caller holding
    // a BenchSketch must never re-pay the bench count/build/broadcast.
    // Counted directly: repeated sketch-overload gates spend exactly
    // one job each (their own collect), while each one-shot gate call
    // spends that PLUS the bench-side count and build jobs. Each call
    // runs under its own job group, so only its own jobs are counted.
    val docs = graft.io.Tables(spark, sfDir).documents
    val train = docs.where(col("doc_id") % 20 =!= 0)
    val bench = docs.where(col("doc_id") % 20 === 0)
    def jobs[T](tag: String)(body: => T): (T, Int) = {
      val (out, c) = graft.obs.Meter.measure(spark.sparkContext,
        s"benchsketch-$tag")(body)
      (out, c.jobs)
    }
    val sketch = Decontaminate.buildBenchSketch(bench,
      col("doc_id"), col("text"), n = 5, fpp = 0.03)
    val (a, ja) = jobs("a")(Decontaminate.overlapStatsBloomStateless(train,
      sketch, col("doc_id"), col("text"), threshold = 0.5).collect())
    val (b, jb) = jobs("b")(Decontaminate.overlapStatsBloomStateless(train,
      sketch, col("doc_id"), col("text"), threshold = 0.5).collect())
    assert(a.nonEmpty && a.toSet == b.toSet)
    val perGate = math.max(ja, jb)
    // the one-shot form against the same bench: pays the gate's own
    // jobs PLUS count + build
    val (_, oneShotJobs) = jobs("oneshot")(
      Decontaminate.overlapStatsBloomStateless(train, bench,
        col("doc_id"), col("text"), n = 5, threshold = 0.5,
        fpp = 0.03).collect())
    assert(perGate >= 1)
    assert(oneShotJobs >= perGate + 2,
      s"one-shot gate spent $oneShotJobs jobs vs $perGate per prebuilt " +
        "gate — expected at least count+build on top")
    // and the prebuilt overload is the SAME math as the one-shot
    // form (identical sketch parameters → identical deterministic
    // filter)
    val oneShot = Decontaminate.overlapStatsBloomStateless(train, bench,
      col("doc_id"), col("text"), n = 5, threshold = 0.5, fpp = 0.03)
      .collect().map(_.toSeq).toSet
    assert(a.map(_.toSeq).toSet == oneShot)
  }

  test("overlapStatsStateless equals overlapStats on the corpus split") {
    val docs = graft.io.Tables(spark, sfDir).documents
    val train = docs.where(col("doc_id") % 20 =!= 0)
    val bench = docs.where(col("doc_id") % 20 === 0)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    val a = norm(Decontaminate.overlapStats(train, bench,
      col("doc_id"), col("text"), n = 5, threshold = 0.5))
    val b = norm(Decontaminate.overlapStatsStateless(train, bench,
      col("doc_id"), col("text"), n = 5, threshold = 0.5))
    assert(a.nonEmpty && a == b)
  }

  test("lengthQuantiles: exact interpolated quantiles, null text excluded") {
    // src0 lengths {1,2,3,4,5}: p25 = 2.0, p50 = 3.0, p75 = 4.0,
    // p90 = 4.6 ((n-1)p = 3.6 -> 4 + 0.6*(5-4)); src1 single doc ->
    // every quantile is its length
    val docs = Seq(
      (1L, "src0", "a"), (2L, "src0", "a b"), (3L, "src0", "a b c"),
      (4L, "src0", "a b c d"), (5L, "src0", "a b c d e"),
      (6L, "src1", "x y z"),
      (7L, "src1", null.asInstanceOf[String])  // excluded
    ).toDF("doc_id", "source", "text")
    val got = CorpusStats.lengthQuantiles(docs, col("source"), col("text"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(got("src0") == ((5L, 2.0, 3.0, 4.0, 4.6)))
    assert(got("src1") == ((1L, 3.0, 3.0, 3.0, 3.0)))
  }

  test("metricQuantilesApprox: GK rank guarantee holds at low accuracy") {
    // 10k distinct doubles per domain (unbounded-cardinality regime)
    // at accuracy 100 → rank error bound n/100 = 100 ranks. Values
    // are deterministic but shuffled-looking (xxhash64 order), so
    // the sketch sees an adversarial-ish stream, not sorted input.
    val s = spark; import s.implicits._
    val n = 10000
    val accuracy = 100
    val data = spark.range(0, 2L * n).select(
      when(col("id") % 2 === 0, "src0").otherwise("src1").as("domain"),
      (xxhash64(col("id")).cast("double") / 1e18).as("m"))
      .persist()
    val got = CorpusStats.metricQuantilesApprox(data, col("domain"),
        col("m"), accuracy).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Seq(r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))))).toMap
    val probs = Seq(0.25, 0.5, 0.75, 0.9)
    for (dom <- Seq("src0", "src1")) {
      val vals = data.where(col("domain") === dom).select("m")
        .collect().map(_.getDouble(0)).sorted
      val (cnt, qs) = got(dom)
      assert(cnt == n.toLong)
      probs.zip(qs).foreach { case (p, q) =>
        // GK returns an OBSERVED value whose rank is within n/accuracy
        assert(vals.contains(q), s"$dom p$p=$q not an observed value")
        val rank = vals.count(_ <= q)
        assert(math.abs(rank - p * n) <= n.toDouble / accuracy + 1,
          s"$dom p$p rank $rank outside ${p * n} ± ${n / accuracy}")
      }
    }
    data.unpersist()
  }

  test("vocabularyStats: HLL sketch lands within 3×rsd of the exact twin") {
    val docs = graft.io.Tables(spark, sfDir).documents
    def byDom(exact: Boolean) =
      CorpusStats.vocabularyStats(docs, col("source"), col("text"), exact)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
    val ex = byDom(exact = true)
    val ap = byDom(exact = false)
    assert(ex.nonEmpty && ex.keySet == ap.keySet)
    for ((dom, (nTok, vocab)) <- ex) {
      val (nTokA, vocabA) = ap(dom)
      assert(nTokA == nTok) // non-distinct aggregates are exact
      val rel = math.abs(vocabA - vocab).toDouble / vocab
      assert(rel <= 0.15, s"$dom vocab $vocabA vs exact $vocab: $rel")
    }
  }

  test("tfidfTopTerms: hand-computed ranks, rare terms beat common ones") {
    val s = spark; import s.implicits._
    // 3 docs; "rare" appears in 1 doc, "both" in 2, "all" in 3.
    // doc 1: all=1 both=1 rare=2 -> scores (N=3): all 1.0, both 1.5,
    // rare 6.0 -> top: rare, both, all
    val docs = Seq(
      (1L, "all both rare rare"),
      (2L, "all both"),
      (3L, "all"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = CorpusStats.tfidfTopTerms(docs, col("doc_id"), col("text"),
        k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(got((1L, 1L)) == (("rare", 2L, 1L, 6.0)))
    assert(got((1L, 2L)) == (("both", 1L, 2L, 1.5)))
    // doc 2: both 1.5 beats all 1.0
    assert(got((2L, 1L))._1 == "both" && got((2L, 2L))._1 == "all")
    // doc 3 has one term; null-text doc has none
    assert(got.keys.count(_._1 == 3L) == 1 && !got.keys.exists(_._1 == 4L))
    // score-tie determinism: equal scores rank by term asc
    val tied = CorpusStats.tfidfTopTerms(
        Seq((1L, "b a")).toDF("doc_id", "text"), col("doc_id"),
        col("text"), k = 2).collect()
      .sortBy(_.getLong(1)).map(_.getString(2)).toSeq
    assert(tied == Seq("a", "b"))
  }

  test("tfidfTopTermsLn: hand-computed log scores; rank agrees with surrogate off trade-offs") {
    val s = spark; import s.implicits._
    // same corpus as the surrogate test; doc 1 with N=3:
    // rare 2·ln(3/1), both 1·ln(3/2), all 1·ln(3/3)=0
    val docs = Seq(
      (1L, "all both rare rare"),
      (2L, "all both"),
      (3L, "all")).toDF("doc_id", "text")
    val got = CorpusStats.tfidfTopTermsLn(docs, col("doc_id"),
        col("text"), k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getDouble(5)))).toMap
    assert(got((1L, 1L))._1 == "rare" &&
      math.abs(got((1L, 1L))._2 - 2 * math.log(3.0)) < 1e-12)
    assert(got((1L, 2L))._1 == "both" &&
      math.abs(got((1L, 2L))._2 - math.log(1.5)) < 1e-12)
    assert(got((1L, 3L))._1 == "all" && got((1L, 3L))._2 == 0.0)
    // the declared agreement contract on the real corpus: wherever
    // one term DOMINATES another (tf no smaller AND df no larger,
    // one strict — i.e. tf and idf don't trade off), both forms
    // must rank them the same way; they may only differ on
    // trade-off pairs, where the surrogate's steeper idf decides
    val t = graft.io.Tables(spark, sfDir)
    def ranks(f: org.apache.spark.sql.DataFrame)
        : Map[(Long, String), (Long, Long, Long)] =
      f.collect().map(r => (r.getLong(0), r.getString(2)) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
    val sur = ranks(CorpusStats.tfidfTopTerms(
      t.documents, col("doc_id"), col("text"), k = 8))
    val ln = ranks(CorpusStats.tfidfTopTermsLn(
      t.documents, col("doc_id"), col("text"), k = 8))
    val nDocs = t.documents.where(col("text").isNotNull).count()
    var checked = 0
    for {
      (_, keys) <- sur.keySet.intersect(ln.keySet).groupBy(_._1)
      a <- keys; b <- keys if a != b
    } {
      val (rsA, tfA, dfA) = sur(a); val (rsB, tfB, dfB) = sur(b)
      val dominates = tfA >= tfB && dfA <= dfB && (tfA > tfB || dfA < dfB)
      // df == N ties the ln form at 0 regardless of tf — exclude
      // the one degenerate shape where dominance can't order it
      if (dominates && !(dfA == nDocs && dfB == nDocs)) {
        assert(rsA < rsB, s"surrogate rank order broken: $a vs $b")
        assert(ln(a)._1 < ln(b)._1, s"ln rank order broken: $a vs $b")
        checked += 1
      }
    }
    assert(checked > 50, s"only $checked dominant pairs — spec vacuous")
  }

  test("domainMixture: exact integer ppm shares and token-mass rank") {
    val docs = Seq(
      (1L, "src0", "a b"),                    // 2 tokens
      (2L, "src0", "c"),                      // 1
      (3L, "src1", "d e f g"),                // 4
      (4L, "src2", null.asInstanceOf[String]), // NULL text -> 0 tokens
      (5L, "src2", "h")                       // 1
    ).toDF("doc_id", "source", "text")
    // totals: src0=3, src1=4, src2=1 of 8
    val got = CorpusStats.domainMixture(docs, col("source"), col("text"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("src0") == ((2L, 3L, 375000L, 2L)))
    assert(got("src1") == ((1L, 4L, 500000L, 1L)))
    assert(got("src2") == ((2L, 1L, 125000L, 3L)))
  }

  // ---- Batching.takeByBudgetPerKey ----

  /** Naive single-window reference: per-key running sum, keep ≤ budget. */
  private def naiveTake(df: org.apache.spark.sql.DataFrame,
                        budget: Long): org.apache.spark.sql.DataFrame =
    df.withColumn("cum_weight",
        sum(col("w")).over(Window.partitionBy(col("k")).orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .where(col("cum_weight") <= budget)

  test("takeByBudgetPerKey matches the per-key window reference") {
    // 300 rows, 3 keys, deterministic weights; 8 range partitions so
    // keys straddle partition boundaries and exercise the carry-in
    val df = spark.range(300)
      .select(col("id"),
        concat(lit("k"), (col("id") % 3).cast("string")).as("k"),
        ((col("id") * 37 % 11) + 1).as("w"))
      .persist()
    val got = Batching.takeByBudgetPerKey(df, key = col("k"),
        order = col("id"), weight = col("w"), budget = 200L,
        partitions = 8)
      .select("id", "k", "w", "cum_weight")
      .as[(Long, String, Long, Long)].collect().toSet
    val want = naiveTake(df, 200L)
      .select("id", "k", "w", "cum_weight")
      .as[(Long, String, Long, Long)].collect().toSet
    df.unpersist()
    assert(want.nonEmpty && got == want)
  }

  test("takeByBudgetPerKey: exact-budget row kept, next row dropped") {
    val df = Seq(
      ("a", 1L, 5L), ("a", 2L, 5L), ("a", 3L, 1L),  // cum 5,10,11
      ("b", 1L, 10L), ("b", 2L, 1L)                 // cum 10,11
    ).toDF("k", "id", "w")
    val got = Batching.takeByBudgetPerKey(df, key = col("k"),
        order = col("id"), weight = col("w"), budget = 10L,
        partitions = 4)
      .select("k", "id", "cum_weight")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 1L, 5L), ("a", 2L, 10L), ("b", 1L, 10L)))
  }

  test("takeByBudgetPerKey: null weights count zero, null key is a key") {
    val df = Seq(
      (Option("a"), 1L, Option(4L)), (Option("a"), 2L, None),
      (Option.empty[String], 1L, Option(3L)),
      (Option.empty[String], 2L, Option(2L))
    ).toDF("k", "id", "w")
    val got = Batching.takeByBudgetPerKey(df, key = col("k"),
        order = col("id"), weight = col("w"), budget = 5L,
        partitions = 2)
      .select("k", "id", "cum_weight")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getLong(2))).toSet
    assert(got == Set((Some("a"), 1L, 4L), (Some("a"), 2L, 4L),
      (None, 1L, 3L), (None, 2L, 5L)))
  }
}
