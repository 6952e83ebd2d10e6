package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFns
import graft.io.{PartitionedStore, Tables}
import graft.operators.{Pq, Similarity}

/** Product quantization: the coded embedding store and its ADC
  * search path. */
class PqSpec extends GraftSuite {

  private val storeRoot = "/tmp/graft_pq_spec"

  private def emb: DataFrame =
    Tables(spark, sfDir).embeddings
      .where(VectorFns.l2Norm(col("embedding")) > 0)

  private lazy val books =
    Pq.pqCodebooks(emb, numSub = 16, numCodewords = 64, lloydIters = 2)

  test("codebooks: dense per-sub ids, deterministic across retrains") {
    val rows = books.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (sub, rs) =>
      val ids = rs.map(_._2).sorted.toSeq
      assert(ids == (0 until ids.length).toSeq,
        s"sub $sub codeword ids not dense: $ids")
      assert(rs.forall(_._3.length == 4)) // 64-dim / 16 subs
    }
    // seeded init + decimal means: a full retrain is bit-identical
    val again = Pq.pqCodebooks(emb, numSub = 16, numCodewords = 64,
        lloydIters = 2).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    assert(rows.sortBy(t => (t._1, t._2)).toSeq ==
      again.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("encode: fused argmin == declarative dotHof replay; zero Exchange; dup vectors share codes") {
    val s = spark; import s.implicits._
    val coded = Pq.pqEncode(emb, books)
    coded.collect()
    assert(!coded.queryExecution.executedPlan.toString.contains("Exchange"))
    val got = coded.select(col("vec_id"), posexplode(col("code")))
      .as[(Long, Int, Int)].collect().toSet

    // declarative replay: explode subvectors, broadcast-join the
    // codebook, argmin by the SAME margin expression through the
    // bit-identical dotHof — the q63 fused-vs-declarative pattern
    val cb = books.withColumn("cn2", aggregate(col("cv"), lit(0.0),
      (a, x) => a + x * x))
    val replay = emb.select(col("vec_id"), col("embedding"))
      .select(col("vec_id"), explode(transform(sequence(lit(0), lit(15)),
        m => struct(m.as("sub"),
          slice(col("embedding"), m * 4 + 1, lit(4)).as("sv")))).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
      .join(broadcast(cb), "sub")
      .withColumn("margin", VectorFns.dotHof(col("sv"), col("cv")) * 2
        - col("cn2"))
      .groupBy("vec_id", "sub")
      .agg(max_by(col("c"), struct(col("margin"), col("c"))).as("c"))
      .as[(Long, Int, Int)].collect().toSet
    assert(got.nonEmpty && got == replay)

    // identical vectors quantize identically (exact dedup survives
    // compression)
    val twin = emb.limit(3).withColumn("vec_id", col("vec_id") + 1000000L)
    val codedTwin = Pq.pqEncode(twin, books)
      .withColumn("vec_id", col("vec_id") - 1000000L)
    val base = coded.where(col("vec_id") < 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    codedTwin.collect().foreach { r =>
      assert(r.getSeq[Int](1) == base(r.getLong(0)))
    }
  }

  test("encode runs unchanged on a stream (scan algebra)") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData(rows.take(rows.length / 2).toIndexedSeq)
    mem.addData(rows.drop(rows.length / 2).toIndexedSeq)
    val q = Pq.pqEncode(mem.toDF().toDF("vec_id", "embedding"), books)
      .select(col("vec_id"), posexplode(col("code")).as(Seq("sub", "c")))
      .writeStream.format("memory").queryName("pq_encode_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = s.table("pq_encode_stream")
      .as[(Long, Int, Int)].collect().toSet
    val batch = Pq.pqEncode(emb, books)
      .select(col("vec_id"), posexplode(col("code")).as(Seq("sub", "c")))
      .as[(Long, Int, Int)].collect().toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("ADC distance == exact L2 to the decoded reconstruction") {
    val s = spark; import s.implicits._
    val queries = emb.where(col("vec_id") < 8)
    val coded = Pq.pqEncode(emb, books)
    val top = Pq.pqAdcTopK(books, coded, queries, k = 10)
    val decoded = Pq.pqDecode(coded, books)
    val replay = decoded.select(col("vec_id").as("n_id"), col("vec"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("eq"))))
      .where(col("n_id") =!= col("q_id"))
      .withColumn("d2", aggregate(
        zip_with(col("eq"), col("vec"),
          (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), (acc, v) => acc + v))
    val joined = top.join(replay, Seq("q_id", "n_id"))
      .select(col("dist"), col("d2"))
      .as[(Double, Double)].collect()
    assert(joined.length == 8 * 10)
    joined.foreach { case (adc, exact) =>
      assert(math.abs(adc - exact) <= 1e-7 * math.max(1.0, exact),
        s"ADC $adc vs exact-reconstruction $exact")
    }
  }

  test("ADC recall vs exact search clears the floor; compression is measured") {
    val s = spark; import s.implicits._
    val queries = emb.where(col("vec_id") < 8)
    val coded = Pq.pqEncode(emb, books)
    val adc = Pq.pqAdcTopK(books, coded, queries, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // exact L2 ground truth
    val truth = emb.select(col("vec_id").as("n_id"), col("embedding").as("ev"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("eq"))))
      .where(col("n_id") =!= col("q_id"))
      .withColumn("d2", aggregate(
        zip_with(col("eq"), col("ev"),
          (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), (acc, v) => acc + v))
      .transform(df => graft.operators.TopK.perGroup(df,
        Seq(col("q_id")), Seq(col("d2").asc, col("n_id").asc), 10))
      .select("q_id", "n_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = truth.map { case (q, t) =>
      adc.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / truth.size
    // the synthetic embeddings are iid-random — PQ's WORST case (no
    // cluster structure for codewords to exploit; measured 0.46 at
    // 16 subs x 64 codewords = 96 bits). The floor guards against
    // regressions, not against the data's nature; real text
    // embeddings cluster and recall rises accordingly.
    assert(recall >= 0.35, s"ADC recall@10 $recall")
    System.err.println(f"[pq-spec] raw ADC recall@10 = $recall%.3f")
    // the production pattern: ADC retrieves a candidate pool, exact
    // distances re-rank it (IVF-PQ stores keep codes for the scan
    // and fetch full vectors only for the pool) — recall recovers
    val pool = Pq.pqAdcTopK(books, coded, queries, k = 50)
      .select("q_id", "n_id")
    val reranked = pool
      .join(emb.select(col("vec_id").as("n_id"), col("embedding").as("ev")),
        "n_id")
      .join(broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("eq"))), "q_id")
      .withColumn("d2", aggregate(
        zip_with(col("eq"), col("ev"),
          (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), (acc, v) => acc + v))
      .transform(df => graft.operators.TopK.perGroup(df,
        Seq(col("q_id")), Seq(col("d2").asc, col("n_id").asc), 10))
      .select("q_id", "n_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recallRr = truth.map { case (q, t) =>
      reranked.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / truth.size
    System.err.println(f"[pq-spec] rerank-50 recall@10 = $recallRr%.3f")
    assert(recallRr >= 0.7, s"reranked recall@10 $recallRr")
    assert(recallRr > recall, "re-ranking must not lose recall")

    // the store claim, measured: codes parquet vs full-vector parquet
    val codesPath = s"$storeRoot/codes"
    val fullPath = s"$storeRoot/full"
    coded.repartition(1).write.mode("overwrite").parquet(codesPath)
    emb.select(col("vec_id"), col("embedding")).repartition(1)
      .write.mode("overwrite").parquet(fullPath)
    def bytes(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles.filter(f => f.getName.endsWith(".parquet")).map(_.length).sum
    }
    val ratio = bytes(codesPath).toDouble / bytes(fullPath)
    System.err.println(f"[pq-spec] codes/full store bytes = $ratio%.3f")
    assert(ratio < 0.25, s"codes store not <4x smaller: $ratio")
  }

  test("IVF-PQ with nProbe=all == brute ADC; probes a real partitioned store") {
    val path = s"$storeRoot/ivfpq"
    val cents = Similarity.ivfCentroids(emb, numCentroids = 8, lloydIters = 1)
    val coded = Pq.pqEncode(emb, books)
    val codedAsg = Similarity.ivfAssignments(emb, cents)
      .select("c_id", "n_id")
      .join(coded.withColumnRenamed("vec_id", "n_id"), "n_id")
    PartitionedStore.write(codedAsg, path, "c_id")
    val store = spark.read.parquet(path)
    val queries = emb.where(col("vec_id") < 8)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    // probing every cluster must reduce to brute-force ADC exactly —
    // the plumbing identity that makes nProbe a pure recall knob
    val all = Pq.annIvfPqTopKFromIndex(cents, store, books, queries,
      nProbe = 8, k = 5)
    val brute = Pq.pqAdcTopK(books, Pq.pqEncode(emb, books), queries, k = 5)
    assert(rows(all).nonEmpty && rows(all) == rows(brute))
    // and a narrow probe returns well-formed rankings from the store
    val narrow = Pq.annIvfPqTopKFromIndex(cents, store, books, queries,
      nProbe = 2, k = 5)
    val byQ = narrow.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(byQ.nonEmpty && byQ.groupBy(_._1).values
      .forall(rs => rs.map(_._2).sorted == (1L to rs.length)))
    // the tabulated scorer returns the same probe ranks (dist agrees
    // to float rounding; ids and ranks exactly)
    def ranked(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(ranked(narrow) == ranked(Pq.annIvfPqTopKFromIndex(
      cents, store, books, queries, nProbe = 2, k = 5, tabulated = true)))
  }

  test("tabulated ADC == literal ADC rank-for-rank; measured at the 16x256 serving budget") {
    val s = spark; import s.implicits._
    val queries = emb.where(col("vec_id") < 8)
    val coded = Pq.pqEncode(emb, books)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val lit = rows(Pq.pqAdcTopK(books, coded, queries, k = 10))
    val tab = rows(Pq.pqAdcTopKTabulated(books, coded, queries, k = 10))
    assert(lit.nonEmpty && lit.length == tab.length)
    // rank-for-rank: same ids in the same order; distances agree to
    // float rounding (|q_m − c|² vs the expanded |q|²+Σ(|c|²−2q·c))
    lit.zip(tab).foreach { case ((q1, r1, n1, d1), (q2, r2, n2, d2)) =>
      assert(q1 == q2 && r1 == r2 && n1 == n2,
        s"rank mismatch: ($q1,$r1,$n1) vs ($q2,$r2,$n2)")
      assert(math.abs(d1 - d2) <= 1e-9 * math.max(1.0, d1),
        s"dist drift $d1 vs $d2")
    }

    // the claim that justifies the mapPartitions path: at a serving
    // budget (16 subs x 256 codewords) the literal form does
    // numSub·dsub multiply-adds through a nested literal per row
    // while the table form does numSub lookups — measure both over a
    // x100 replicated coded corpus (50k rows)
    val big = emb.crossJoin(spark.range(100).select(col("id").as("rep")))
      .select((col("vec_id") + col("rep") * 1000000L).as("vec_id"),
        col("embedding"))
    val books256 = Pq.pqCodebooks(emb, numSub = 16, numCodewords = 256,
      lloydIters = 1)
    val coded256 = Pq.pqEncode(big, books256)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    coded256.count() // materialize outside the timers
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val tLit = time(Pq.pqAdcTopK(books256, coded256, queries, k = 10)
      .collect())
    val tTab = time(
      Pq.pqAdcTopKTabulated(books256, coded256, queries, k = 10).collect())
    System.err.println(
      f"[pq-spec] 16x256 ADC over 50k rows: literal=$tLit%.2fs table=$tTab%.2fs")
    coded256.unpersist()
  }

  test("residual PQ: probe dist == exact L2 to centroid+codeword reconstruction; error beats raw PQ at the same budget") {
    val s = spark; import s.implicits._
    val path = s"$storeRoot/ivfrpq"
    val cents = Similarity.ivfCentroids(emb, numCentroids = 8, lloydIters = 1)
    // the inverted file is a STORE in production — encode reads it,
    // it does not recompute the assignment (whose max_by is the one
    // skinny shuffle of the layout build)
    Similarity.ivfAssignments(emb, cents)
      .write.mode("overwrite").parquet(s"$storeRoot/rpq_asg")
    val asg = spark.read.parquet(s"$storeRoot/rpq_asg")
    val rbooks = Pq.pqCodebooks(Pq.residualAssignments(asg, cents),
      numSub = 16, numCodewords = 64, lloydIters = 2,
      idCol = "n_id", vecCol = "rv")
    val coded = Pq.pqEncodeResiduals(asg, cents, rbooks)
    // encode over the stored inverted file is scan algebra + one KB
    // broadcast: no data-sized shuffle
    coded.collect()
    assert(!coded.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "residual encode shuffled the corpus")

    PartitionedStore.write(coded, path, "c_id")
    val store = spark.read.parquet(path)
    val queries = emb.where(col("vec_id") < 8)
    val all = Pq.annIvfPqResidualTopKFromIndex(cents, store, rbooks,
      queries, nProbe = 8, k = 10)

    // two-layer reconstruction: centroid + decoded residual codewords
    val recon = coded
      .join(broadcast(cents.select(col("c_id"), col("cv"))), "c_id")
      .join(Pq.pqDecode(coded.select(col("n_id"), col("code")), rbooks,
          idCol = "n_id").withColumnRenamed("vec", "rvhat"), "n_id")
      .select(col("n_id"),
        zip_with(col("cv"), col("rvhat"), (a, b) => a + b).as("vhat"))
    val replay = recon
      .crossJoin(broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("eq"))))
      .where(col("n_id") =!= col("q_id"))
      .withColumn("d2", aggregate(
        zip_with(col("eq"), col("vhat"),
          (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), (acc, v) => acc + v))
    val joined = all.join(replay, Seq("q_id", "n_id"))
      .select(col("dist"), col("d2")).as[(Double, Double)].collect()
    assert(joined.length == 8 * 10)
    joined.foreach { case (adc, exact) =>
      assert(math.abs(adc - exact) <= 1e-7 * math.max(1.0, exact),
        s"residual ADC $adc vs exact two-layer reconstruction $exact")
    }
    // well-formed dense ranks per query
    val byQ = all.select("q_id", "rnk").as[(Long, Long)].collect()
    assert(byQ.groupBy(_._1).values
      .forall(rs => rs.map(_._2).sorted.toSeq == (1L to rs.length)))
    // tabulated residual probe: tables per (query, cluster) — same
    // ranks as the literal form
    def ranked(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(ranked(all) == ranked(Pq.annIvfPqResidualTopKFromIndex(
      cents, store, rbooks, queries, nProbe = 8, k = 10,
      tabulated = true)))

    // the quality claim that justifies the extra layer: with the SAME
    // codebook budget (16 subs x 64 codewords), quantizing the
    // residual field (coarse mean already explained) reconstructs
    // closer than quantizing raw vectors — Jégou et al.'s reason for
    // IVFADC. Measured on iid-random embeddings, residual PQ's
    // hardest case (little cluster structure to subtract).
    def meanErr(vhat: DataFrame): Double =
      vhat.join(emb.select(col("vec_id").as("n_id"), col("embedding")),
          "n_id")
        .withColumn("e2", aggregate(
          zip_with(col("embedding"), col("vhat"),
            (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
          lit(0.0), (acc, v) => acc + v))
        .agg(avg("e2")).head().getDouble(0)
    val residErr = meanErr(recon)
    val rawErr = meanErr(
      Pq.pqDecode(Pq.pqEncode(emb, books), books)
        .select(col("vec_id").as("n_id"), col("vec").as("vhat")))
    System.err.println(
      f"[pq-spec] mean reconstruction err: raw=$rawErr%.5f residual=$residErr%.5f")
    assert(residErr < rawErr,
      s"residual PQ ($residErr) did not beat raw PQ ($rawErr) at equal budget")
  }

  test("fused AdcSum kernel == declarative HOF ADC, raw bits, every pair") {
    val s = spark; import s.implicits._
    // the full corpus as queries × codes — every (query, neighbor)
    // pair's distance compared BITWISE between the codegen kernel
    // and the interpreted HOF chain it replaced
    val queries = emb.where(col("vec_id") < 16)
    val codes = Pq.pqEncode(emb, books)
    def bits(df: DataFrame) = df
      .select(col("q_id"), col("n_id"), col("dist"))
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, d) => (q, n, java.lang.Double.doubleToRawLongBits(d)) }
      .toSet
    val fused = bits(Pq.pqAdcTopK(books, codes, queries,
      k = Int.MaxValue / 2))
    val hof = bits(Pq.pqAdcTopKHof(books, codes, queries,
      k = Int.MaxValue / 2))
    assert(fused.nonEmpty && fused == hof,
      s"fused/HOF ADC diverged: ${fused.size} vs ${hof.size} pairs")
  }

  test("malformed code length is a NULL distance on all three ADC paths, surfacing loud at rank 1") {
    val s = spark; import s.implicits._
    // a store with one truncated and one over-long code among valid
    // rows: a partial Σ is a SMALLER distance, so a silent partial
    // sum would rank corruption as a spuriously-near neighbor
    val queries = emb.where(col("vec_id") < 2)
    val valid = Pq.pqEncode(emb.where(col("vec_id") < 40), books)
    val numSub = valid.select(size(col("code"))).head().getInt(0)
    val broken = valid
      .withColumn("code", when(col("vec_id") === 20L,
          slice(col("code"), 1, numSub - 1))
        .when(col("vec_id") === 21L,
          concat(col("code"), array(lit(0))))
        .otherwise(col("code")))
    def nullIds(df: DataFrame): Set[Long] = df
      .where(col("dist").isNull).select("n_id")
      .as[Long].collect().toSet
    val lit0 = Pq.pqAdcTopK(books, broken, queries, k = 5)
    val tab = Pq.pqAdcTopKTabulated(books, broken, queries, k = 5)
    val hof = Pq.pqAdcTopKHof(books, broken, queries, k = 5)
    for ((name, df) <- Seq(("fused", lit0), ("tabulated", tab),
        ("hof", hof))) {
      assert(nullIds(df) == Set(20L, 21L),
        s"$name: null dists on ${nullIds(df)}, want {20, 21}")
      // loud, not lost: the malformed rows hold the TOP ranks of
      // every query (ASC is NULLS FIRST), so corruption is the
      // first thing a reader of the result sees
      val topRanks = df.where(col("dist").isNull)
        .select(col("rnk").cast("long")).as[Long].collect()
      assert(topRanks.nonEmpty && topRanks.forall(_ <= 2),
        s"$name: malformed rows not at the top: ${topRanks.toSeq}")
    }
    // valid rows' distances are untouched by the guard (bitwise)
    def validBits(df: DataFrame) = df
      .where(col("dist").isNotNull && !col("n_id").isin(20L, 21L))
      .select(col("q_id"), col("n_id"), col("dist"))
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, d) =>
        (q, n, java.lang.Double.doubleToRawLongBits(d)) }.toSet
    assert(validBits(lit0) == validBits(hof))
  }

  test("fused PqCodes encode == declarative chain, raw codes, organic + adversarial; norms never plan literals") {
    val s = spark; import s.implicits._
    def codesOf(df: DataFrame): Map[Long, Seq[Int]] = df
      .select(col("vec_id").cast("long"), col("code"))
      .as[(Long, Seq[Int])].collect().toMap
    // organic corpus, both codebook budgets (16 and 256 codewords)
    val books256 = Pq.pqCodebooks(emb, numSub = 16, numCodewords = 256,
      lloydIters = 1)
    for (b <- Seq(books, books256)) {
      val fused = codesOf(Pq.pqEncode(emb, b))
      val hof = codesOf(Pq.pqEncodeHof(emb, b))
      assert(fused.nonEmpty && fused == hof,
        s"fused/declarative encode diverged at ${b.count()} codewords")
    }
    // adversarial edges, mirrored exactly: null vector, short
    // vector, null element, NaN elements — the declarative chain's
    // struct-max ties these down to numCodewords-1 (null margins)
    // or NaN-greatest semantics, and the kernel must agree
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(DoubleType, true), true)))
    val weird = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, null),
        Row(2L, Seq(1.0, 2.0)),
        Row(3L, (0 until 64).map(i =>
          if (i == 5) null else java.lang.Double.valueOf(i / 7.0))),
        Row(4L, (0 until 64).map(_ => java.lang.Double.valueOf(Double.NaN))),
        Row(5L, (0 until 64).map(i => java.lang.Double.valueOf(i / 9.0)))),
      schema)
    val fusedW = codesOf(Pq.pqEncode(weird, books))
    val hofW = codesOf(Pq.pqEncodeHof(weird, books))
    assert(fusedW == hofW,
      s"edge-case encode diverged:\n  fused $fusedW\n  hof   $hofW")
    // all-null margins tie down to the LAST codeword id, per the
    // declarative struct-max (pin the semantic, not just the parity)
    val k = books.groupBy("sub").count().select(max("count"))
      .head().getLong(0).toInt
    assert(fusedW(1L).forall(_ == k - 1))
    // the codebook rides the plan as a reference object: shape tag
    // present, no norm-array literal dumps
    val plan = Pq.pqEncode(emb, books).queryExecution.executedPlan.toString
    assert(plan.contains("book=16x"), s"missing shape tag:\n$plan")
    assert(!plan.contains("element_at([")
      && plan.length < 6000, s"plan carries literals (${plan.length} chars)")
    // the codegen-vs-interpreted gap at the serving-budget codebook,
    // measured in-session (the AdcSum discipline applied to encode)
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    Pq.pqEncode(emb, books256).write.format("noop").mode("overwrite").save()
    val tFused = time(Pq.pqEncode(emb, books256)
      .write.format("noop").mode("overwrite").save())
    val tHof = time(Pq.pqEncodeHof(emb, books256)
      .write.format("noop").mode("overwrite").save())
    System.err.println(
      f"[pq-spec] 16x256 encode: fused=$tFused%.2f s declarative=$tHof%.2f s")
  }

  test("randomized adversarial parity sweep: PqCodes and CosineArgmax == declarative forms on generated garbage") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // seeded generator: vectors of varying length (0..70 around the
    // dim-16 codebooks), elements drawn from gaussians plus the full
    // pathology set (NaN, ±Inf, ±0.0, nulls), whole-null vectors —
    // the fixed edge tests pin specific cases; this sweeps the
    // product space. Parity domain: everything the declarative forms
    // define (out-of-range CODES are excluded — there the fused
    // kernels are deliberately stricter, spec'd separately).
    val rng = new scala.util.Random(97)
    def elem(): Any = rng.nextInt(12) match {
      case 0 => Double.NaN
      case 1 => Double.PositiveInfinity
      case 2 => Double.NegativeInfinity
      case 3 => -0.0
      case 4 => 0.0
      case 5 => null
      case _ => rng.nextGaussian() * math.pow(10, rng.nextInt(5) - 2)
    }
    def vec(): Any = rng.nextInt(10) match {
      case 0 => null
      case 1 => Seq.empty[java.lang.Double]
      case 2 => (0 until rng.nextInt(15)).map(_ => elem()) // short
      case 3 => (0 until 17 + rng.nextInt(54)).map(_ => elem()) // long
      case _ => (0 until 16).map(_ => elem())
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(DoubleType, true), true)))
    val rows: java.util.List[Row] = java.util.Arrays.asList(
      (0 until 600).map(i => Row(i.toLong, vec())): _*)
    val fuzz = spark.createDataFrame(rows, schema)
    // random codebook (4 sub × 8 codewords × dsub 4) with a
    // duplicated codeword and a zero codeword (cn² = 0) per subspace
    val fuzzBooks = (0 until 4).flatMap { sub =>
      val base = Seq.tabulate(6)(_ =>
        Seq.fill(4)(rng.nextGaussian()))
      (base :+ base(1) :+ Seq.fill(4)(0.0)).zipWithIndex.map {
        case (cv, c) => (sub, c, cv) }
    }.toDF("sub", "c", "cv")
    val fusedCodes = Pq.pqEncode(fuzz, fuzzBooks)
      .select(col("vec_id"), col("code"))
      .as[(Long, Seq[Int])].collect().toMap
    val hofCodes = Pq.pqEncodeHof(fuzz, fuzzBooks)
      .select(col("vec_id"), col("code"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(fusedCodes.size == 600 && fusedCodes == hofCodes,
      "PqCodes diverged from the declarative chain on fuzz input: " +
        fusedCodes.toSeq.sortBy(_._1)
          .zip(hofCodes.toSeq.sortBy(_._1))
          .find { case (a, b) => a != b }.toString)
    // random centroid frame (ids shuffled, a duplicated vector, a
    // zero-norm centroid) — cn computed exactly as ivfCentroids does
    val centVecs = Seq.tabulate(9)(_ => Seq.fill(16)(rng.nextGaussian()))
    val centRows = (centVecs :+ centVecs(3) :+ Seq.fill(16)(0.0))
      .zip(rng.shuffle((0 until 11).map(_.toLong * 7 + 3)))
      .map { case (cv, id) => (id, cv) }
    val cents = centRows.toDF("c_id", "cv")
      .withColumn("cn", graft.functions.VectorFns.l2Norm(col("cv")))
    def pairs(df: DataFrame) = df
      .select(col("__id"), col("c_id")).as[(Long, Long)].collect().toSet
    val fusedAsg = pairs(Similarity.assignTo(cents)(fuzz, "vec_id",
      "embedding", 1))
    val hofAsg = pairs(Similarity.assignToHof(cents)(fuzz, "vec_id",
      "embedding"))
    assert(fusedAsg.size == 600 && fusedAsg == hofAsg,
      "CosineArgmax diverged from max_by on fuzz input: " +
        (fusedAsg -- hofAsg).take(3).toString + " vs " +
        (hofAsg -- fusedAsg).take(3).toString)
  }

  test("fused Lloyd E-step == declarative assignSubs on a float-exact corpus, codeword ties included") {
    val s = spark; import s.implicits._
    // integer-valued vectors: dots, norms, and squared distances are
    // all exact in double, so the margin argmax (fused kernel) and
    // the -d2 argmax (declarative assignSubs) must agree EXACTLY,
    // including ties — both resolve to the larger code
    val rng = new scala.util.Random(5)
    val vecs = (0 until 400).map(i =>
        (i.toLong, Seq.tabulate(16)(_ => (rng.nextInt(7) - 3).toDouble)))
      .toDF("vec_id", "embedding")
    // a codebook with DUPLICATED codewords per subspace: every vector
    // ties across the duplicates, so the tie rule is exercised on
    // every single row, not just coincidental grid ties
    val dupBooks = (0 until 4).flatMap { sub =>
      val base = Seq.tabulate(6)(c =>
        Seq.tabulate(4)(p => ((c * 7 + p * 3) % 5 - 2).toDouble))
      (base :+ base(2) :+ base(4)).zipWithIndex.map { case (cv, c) =>
        (sub, c, cv)
      }
    }.toDF("sub", "c", "cv")
    val subs = vecs.select(col("vec_id").as("id"),
        posexplode(org.apache.spark.sql.functions.transform(
          sequence(lit(0), lit(3)),
          m => slice(col("embedding"), m * lit(4) + 1, lit(4))))
          .as(Seq("sub", "sv")))
    val declarative = Pq.assignSubs(dupBooks)(subs)
      .select(col("id"), col("sub"), col("c"))
      .as[(Long, Int, Int)].collect().toSet
    val fused = Pq.pqEncode(vecs, dupBooks)
      .select(col("vec_id"), posexplode(col("code")).as(Seq("sub", "c")))
      .as[(Long, Int, Int)].collect().toSet
    assert(fused.nonEmpty && fused == declarative,
      s"fused E-step diverged from assignSubs: ${fused.size} vs ${declarative.size}")
    // the duplicated codewords (ids 6 and 7 shadow 2 and 4) must win
    // their ties: codes 2 and 4 can never be assigned
    assert(!fused.exists(t => t._3 == 2 || t._3 == 4),
      "tie did not resolve to the larger duplicate id")
    // and the trained codebooks on the REAL corpus stay deterministic
    // through the fused loop (retrain == retrain, bitwise)
    val a = Pq.pqCodebooks(emb, numSub = 8, numCodewords = 16,
      lloydIters = 2).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val b = Pq.pqCodebooks(emb, numSub = 8, numCodewords = 16,
      lloydIters = 2).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(a == b)
  }

  test("PqIndexStore: probe through the persisted index == in-memory probe, bitwise; store surface == in-surface twin") {
    val s = spark; import s.implicits._
    import graft.io.PqIndexStore
    val dir = s"$storeRoot/opq_idx"
    // the q_ann_opq_store build, straight-through: train, lay out,
    // write, read back — the loaded probe must agree with the probe
    // over the frames the index was written from, raw bits
    val all = emb
    val sample = all.where(pmod(xxhash64(col("vec_id")), lit(16)) === 0)
    val (rot, obooks) = Pq.opqTrain(sample, numSub = 8, numCodewords = 16,
      opqIters = 1, lloydIters = 1,
      initRotation = Some(Pq.eigenAllocationInit(sample, numSub = 8)))
    val rx = Pq.rotate(all, rot)
    val cents = Similarity.ivfCentroids(rx, numCentroids = 16,
      lloydIters = 0, seedKey = c => md5(c.cast("string")))
    val codes = Similarity.ivfAssignments(rx, cents)
      .select("c_id", "n_id")
      .join(Pq.pqEncode(rx, obooks).withColumnRenamed("vec_id", "n_id"),
        "n_id")
    PqIndexStore.write(dir, obooks, codes, Some(rot), Some(cents))
    val idx = PqIndexStore.read(spark, dir)
    assert(idx.rotation.contains(rot), "rotation did not round-trip")
    val queries = all.where(col("vec_id") < 8)
    def bits(df: DataFrame) = df
      .select(col("q_id"), col("rnk").cast("long"), col("n_id"),
        col("dist"))
      .as[(Long, Long, Long, Double)].collect()
      .map { case (q, r, n, d) =>
        (q, r, n, java.lang.Double.doubleToRawLongBits(d)) }.toSet
    val fromStore = bits(Pq.annTopKFromStoredIndex(idx, queries,
      nProbe = 4, k = 5, tabulated = true))
    val inMemory = bits(Pq.annIvfPqTopKFromIndex(cents, codes, obooks,
      Pq.rotate(queries, rot), nProbe = 4, k = 5, tabulated = true))
    assert(fromStore.nonEmpty && fromStore == inMemory,
      s"stored-index probe diverged: ${fromStore.size} vs ${inMemory.size}")
    // and the two QUERY SURFACES agree row for row: the store-backed
    // q_ann_opq_store serves exactly what q_ann_opq_probe computes
    // in-surface (same parameters, training amortized vs repeated)
    val surfStore = bits(SparkEntry.queries("q_ann_opq_store")(spark, sfDir))
    val surfProbe = bits(SparkEntry.queries("q_ann_opq_probe")(spark, sfDir))
    assert(surfStore == surfProbe,
      "q_ann_opq_store != q_ann_opq_probe on the same corpus")
    // an uncommitted directory (no ready marker — e.g. a writer died
    // mid-build) fails LOUDLY instead of serving partial frames
    val err = intercept[IllegalArgumentException] {
      PqIndexStore.read(spark, s"$storeRoot/never_committed")
    }
    assert(err.getMessage.contains("_INDEX_READY"))
  }

  test("write() restores a committed .old predecessor instead of deleting it (crash recovery)") {
    val s = spark; import s.implicits._
    import graft.io.PqIndexStore
    import java.nio.file.{Files, Paths}
    val dir = s"$storeRoot/crash_idx"
    def books(tag: Int) =
      Seq((0, 0, Seq(tag.toDouble))).toDF("sub", "c", "cv")
    def codes(tag: Int) = Seq((tag.toLong, Seq(0))).toDF("n_id", "code")
    def storedTag: Double = PqIndexStore.read(spark, dir)
      .codebooks.select("cv").as[Seq[Double]].collect().head.head
    PqIndexStore.write(dir, books(1), codes(1))
    // crash window A: predecessor renamed aside (its committed marker
    // riding .old), successor never landed — dir absent
    Files.move(Paths.get(dir), Paths.get(dir + ".old"))
    assert(!PqIndexStore.exists(dir))
    // the next write must NOT open by destroying the only committed
    // artifact; afterwards the new index is committed, .old is gone
    PqIndexStore.write(dir, books(2), codes(2))
    assert(PqIndexStore.exists(dir) &&
      !Files.exists(Paths.get(dir + ".old")))
    assert(storedTag == 2.0)
    // crash window B: same, but a marker-less half-written successor
    // occupies dir — the half-write must be discarded, the committed
    // .old restored, then the new write swaps in normally
    Files.move(Paths.get(dir), Paths.get(dir + ".old"))
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "halfwrite"), "partial")
    PqIndexStore.write(dir, books(3), codes(3))
    assert(PqIndexStore.exists(dir) &&
      !Files.exists(Paths.get(dir + ".old")))
    assert(!Files.exists(Paths.get(dir, "halfwrite")),
      "half-written junk survived the recommit")
    assert(storedTag == 3.0)
    // control: when dir IS committed, a stale .old is genuinely dead
    // and a normal write still drops it
    Files.createDirectories(Paths.get(dir + ".old"))
    Files.writeString(Paths.get(dir + ".old", "stale"), "x")
    PqIndexStore.write(dir, books(4), codes(4))
    assert(PqIndexStore.exists(dir) &&
      !Files.exists(Paths.get(dir + ".old")))
    assert(storedTag == 4.0)
  }

  test("residual-coded (IVFADC) index: stored probe == in-memory probe, bitwise; the residual flag rides the artifact") {
    val s = spark; import s.implicits._
    import graft.io.PqIndexStore
    val dir = s"$storeRoot/res_idx"
    // q_ann_ivfpq_residual's exact training, persisted with the
    // residual marker — the loaded probe must residualize queries
    // per probed cluster by the artifact's own flag
    val all = emb
    val cents = Similarity.ivfCentroids(all, numCentroids = 16,
      lloydIters = 0, seedKey = c => md5(c.cast("string")))
    val asg = Similarity.ivfAssignments(all, cents)
    val rbooks = Pq.pqCodebooks(Pq.residualAssignments(asg, cents),
      numSub = 8, numCodewords = 32, lloydIters = 1,
      idCol = "n_id", vecCol = "rv")
    val rcodes = Pq.pqEncodeResiduals(asg, cents, rbooks)
    PqIndexStore.write(dir, rbooks, rcodes, None, Some(cents),
      residual = true)
    val idx = PqIndexStore.read(spark, dir)
    assert(idx.residual, "residual marker lost in the round-trip")
    val queries = all.where(col("vec_id") < 8)
    def bits(df: DataFrame) = df
      .select(col("q_id"), col("rnk").cast("long"), col("n_id"),
        col("dist"))
      .as[(Long, Long, Long, Double)].collect()
      .map { case (q, r, n, d) =>
        (q, r, n, java.lang.Double.doubleToRawLongBits(d)) }.toSet
    val fromStore = bits(Pq.annTopKFromStoredIndex(idx, queries,
      nProbe = 4, k = 5, tabulated = true))
    val inMemory = bits(Pq.annIvfPqResidualTopKFromIndex(cents, rcodes,
      rbooks, queries, nProbe = 4, k = 5, tabulated = true))
    assert(fromStore.nonEmpty && fromStore == inMemory,
      s"stored residual probe diverged: ${fromStore.size} vs ${inMemory.size}")
    // and the two query surfaces agree row for row
    val surfStore =
      bits(SparkEntry.queries("q_ann_residual_store")(spark, sfDir))
    val surfProbe =
      bits(SparkEntry.queries("q_ann_ivfpq_residual")(spark, sfDir))
    assert(surfStore == surfProbe,
      "q_ann_residual_store != q_ann_ivfpq_residual on the same corpus")
    // a NON-residual store of the same frames must NOT serve the
    // same distances (the flag is load-bearing, not decorative)
    val dir2 = s"$storeRoot/res_idx_wrongflag"
    PqIndexStore.write(dir2, rbooks, rcodes, None, Some(cents),
      residual = false)
    val wrong = bits(Pq.annTopKFromStoredIndex(
      PqIndexStore.read(spark, dir2), queries, nProbe = 4, k = 5,
      tabulated = true))
    assert(wrong != fromStore,
      "residual flag had no effect on the served distances")
  }

  test("appendCodes daily cycle: appended index == rebuilt union, bitwise probes; fragments bounded over N appends") {
    val s = spark; import s.implicits._
    import graft.io.{PartitionedStore, PqIndexStore}
    val dirA = s"$storeRoot/append_idx"
    val dirB = s"$storeRoot/rebuild_idx"
    // day-0: OPQ index trained and laid out on the reference slice
    // only — rotation/centroids/codebooks FROZEN from here on
    val ref = emb.where(col("vec_id") % 3 === 0)
    val sample = ref.where(pmod(xxhash64(col("vec_id")), lit(4)) === 0)
    val (rot, obooks) = Pq.opqTrain(sample, numSub = 8, numCodewords = 16,
      opqIters = 1, lloydIters = 1,
      initRotation = Some(Pq.eigenAllocationInit(sample, numSub = 8)))
    val cents = Similarity.ivfCentroids(Pq.rotate(ref, rot),
      numCentroids = 8, lloydIters = 0,
      seedKey = c => md5(c.cast("string")))
    PqIndexStore.write(dirA, obooks,
      Pq.encodeForIndex(
        PqIndexStore.PqIndex(obooks, null, Some(rot), Some(cents)), ref),
      Some(rot), Some(cents))
    val idx0 = PqIndexStore.read(spark, dirA)
    // three daily appends, each coded by the INDEX'S OWN artifacts
    val days = Seq(
      emb.where(col("vec_id") % 3 === 1),
      emb.where(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 0),
      emb.where(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 1))
    days.foreach { d =>
      PqIndexStore.appendCodes(spark, dirA,
        Pq.encodeForIndex(idx0, d), maxFragments = 2)
    }
    // the rebuilt control: same frozen artifacts, one-shot encode of
    // the full union
    PqIndexStore.write(dirB, obooks, Pq.encodeForIndex(idx0, emb),
      Some(rot), Some(cents))
    def bits(dir: String) = {
      val idx = PqIndexStore.read(spark, dir)
      Pq.annTopKFromStoredIndex(idx, emb.where(col("vec_id") < 8),
          nProbe = 3, k = 5, tabulated = true)
        .select(col("q_id"), col("rnk").cast("long"), col("n_id"),
          col("dist"))
        .as[(Long, Long, Long, Double)].collect()
        .map { case (q, r, n, d) =>
          (q, r, n, java.lang.Double.doubleToRawLongBits(d)) }.toSet
    }
    val appended = bits(dirA)
    val rebuilt = bits(dirB)
    assert(appended.nonEmpty && appended == rebuilt,
      s"appended index diverged from rebuild: ${appended.size} vs ${rebuilt.size}")
    // row-level identity too, not just the probe's view
    val rowsA = PqIndexStore.read(spark, dirA).codes
      .select(col("c_id").cast("long"), col("n_id").cast("long"),
        col("code"))
      .as[(Long, Long, Seq[Int])].collect().toSet
    val rowsB = PqIndexStore.read(spark, dirB).codes
      .select(col("c_id").cast("long"), col("n_id").cast("long"),
        col("code"))
      .as[(Long, Long, Seq[Int])].collect().toSet
    assert(rowsA == rowsB)
    // maintenance bounds the per-directory file count across appends
    val frag = PartitionedStore
      .filesPerPartition(spark, s"$dirA/codes", "c_id")
      .values.maxOption.getOrElse(0)
    assert(frag <= 2, s"fragments per cluster after 3 appends: $frag")
  }

  test("opqRefreshRotation from a stored index == one more opqTrain alternation, bitwise; refresh surface deterministic") {
    val s = spark; import s.implicits._
    import graft.io.PqIndexStore
    val dir = s"$storeRoot/opq_refresh_idx"
    // index built by encoding the TRAINING corpus itself: the refit
    // from its stored codes must reproduce opqTrain's next rotation
    // exactly — integer codes + exact-decimal M + deterministic
    // Jacobi SVD leave no divergence surface
    val sample = emb.where(pmod(xxhash64(col("vec_id")), lit(16)) === 0)
    val init = Pq.eigenAllocationInit(sample, numSub = 8)
    val (rot1, books1) = Pq.opqTrain(sample, numSub = 8,
      numCodewords = 16, opqIters = 1, lloydIters = 1,
      initRotation = Some(init))
    val codes1 = Pq.pqEncode(Pq.rotate(sample, rot1), books1)
    PqIndexStore.write(dir, books1, codes1, Some(rot1), None)
    val idx = PqIndexStore.read(spark, dir)
    val refit = Pq.opqRefreshRotation(sample, idx.codes, idx.codebooks)
    val (rot2, _) = Pq.opqTrain(sample, numSub = 8, numCodewords = 16,
      opqIters = 2, lloydIters = 1, initRotation = Some(init))
    assert(refit.length == rot2.length)
    for (i <- refit.indices; j <- refit(i).indices)
      assert(java.lang.Double.doubleToRawLongBits(refit(i)(j)) ==
        java.lang.Double.doubleToRawLongBits(rot2(i)(j)),
        s"R[$i][$j]: ${refit(i)(j)} vs ${rot2(i)(j)}")
    // the maintenance query surface is deterministic across calls
    // (serving artifact + seeded retrain)
    def rows(name: String) = SparkEntry.queries(name)(spark, sfDir)
      .as[(Long, Int, Int)].collect().toSet
    val r1 = rows("q_opq_refresh")
    assert(r1.nonEmpty && r1 == rows("q_opq_refresh"))
  }

  test("OuterProductSum buffer == exploded (i,j)-keyed decimal aggregate, raw bits; null and ragged semantics") {
    val s = spark; import s.implicits._
    // the Procrustes M on the real corpus: reconstruction vs
    // original, both via the buffered aggregate (what opqTrain now
    // runs) and the exploded decimal formulation it replaced —
    // every entry must agree BITWISE, not to tolerance
    val sub = emb.where(col("vec_id") < 500)
    val recon = Pq.pqDecode(Pq.pqEncode(sub, books), books)
    val dim = sub.select(size(col("embedding"))).head().getInt(0)
    val exploded = Pq.crossCorrelationExploded(sub, recon, dim,
      "vec_id", "embedding")
    val joined = sub
      .select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("x"))
      .join(recon.select(col("vec_id").as("id"), col("vec").as("y")), "id")
    val buffered = joined
      .agg(graft.plans.MomentAggregates
        .outerProductSum(col("y"), col("x")))
      .head().getSeq[scala.collection.Seq[Double]](0)
    assert(buffered.length == dim)
    for (i <- 0 until dim; j <- 0 until dim)
      assert(java.lang.Double.doubleToRawLongBits(buffered(i)(j)) ==
        java.lang.Double.doubleToRawLongBits(exploded(i)(j)),
        s"M[$i][$j]: ${buffered(i)(j)} vs ${exploded(i)(j)}")
    // order independence: 1 partition == 32 partitions, bitwise
    val one = joined.coalesce(1)
      .agg(graft.plans.MomentAggregates
        .outerProductSum(col("y"), col("x")))
      .head().getSeq[scala.collection.Seq[Double]](0)
    for (i <- 0 until dim; j <- 0 until dim)
      assert(java.lang.Double.doubleToRawLongBits(one(i)(j)) ==
        java.lang.Double.doubleToRawLongBits(buffered(i)(j)))
    // null vector rows contribute nothing (the posexplode-of-null
    // semantics); null ELEMENTS skip exactly their cells
    val withNulls = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),
      (None, Some(Seq(9.0, 9.0))),
      (Some(Seq(1.0, 1.0)), None))
      .toDF("y", "x")
    val m2 = withNulls
      .agg(graft.plans.MomentAggregates.outerProductSum(col("y"), col("x")))
      .head().getSeq[scala.collection.Seq[Double]](0)
    assert(m2.map(_.toSeq) == Seq(Seq(3.0, 4.0), Seq(6.0, 8.0)))
    // all-null input evaluates to null, not a zero matrix
    val allNull = Seq((Option.empty[Seq[Double]], Option.empty[Seq[Double]]))
      .toDF("y", "x")
      .agg(graft.plans.MomentAggregates.outerProductSum(col("y"), col("x")))
      .head()
    assert(allNull.isNullAt(0))
    // ragged input fails loudly (the exploded path silently
    // misaligned it)
    val ragged = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0)),
      (Seq(1.0), Seq(2.0))).toDF("y", "x")
    val err = intercept[Exception] {
      ragged.agg(graft.plans.MomentAggregates
        .outerProductSum(col("y"), col("x"))).head()
    }
    assert(err.getMessage != null)
  }

  test("OPQ: rotation orthogonal + norm-preserving; eigen-init + Procrustes beat raw PQ on an anisotropic corpus; deterministic") {
    val s = spark; import s.implicits._
    // anisotropic corpus: axis-aligned variance 0.78^d — the natural
    // subspace slicing concentrates nearly all energy in subspace 0,
    // so equal per-subspace codeword budgets are maximally wasted:
    // raw PQ's worst case and eigenvalue allocation's motivating one
    // (Ge et al. 2013 §4.2)
    val rng = new scala.util.Random(7)
    val dim = 16
    val data = (0 until 1200).map { i =>
      (i.toLong, Array.tabulate(dim)(d =>
        rng.nextGaussian() * math.pow(0.78, d)))
    }
    val vecs = data.toDF("vec_id", "embedding")
    val init = Pq.eigenAllocationInit(vecs, numSub = 4)
    val (rot, obooks) = Pq.opqTrain(vecs, numSub = 4, numCodewords = 8,
      opqIters = 3, lloydIters = 1, initRotation = Some(init))
    // R is a true rotation: R·Rᵀ == I to float tolerance
    assert(rot.length == dim && rot.forall(_.length == dim))
    for (i <- 0 until dim; j <- 0 until dim) {
      val dot = (0 until dim).map(p => rot(i)(p) * rot(j)(p)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"R·Rᵀ[$i][$j] = $dot")
    }
    // norm preservation — orthogonality made observable where it
    // matters: rotated-space distances ARE original-space distances,
    // so every ADC/IVF-PQ path applies unchanged after the rotate
    val norms = vecs
      .join(Pq.rotate(vecs, rot).select(col("vec_id"),
        graft.functions.VectorFns.l2Norm(col("embedding")).as("nb")),
        "vec_id")
      .select(graft.functions.VectorFns.l2Norm(col("embedding")).as("na"),
        col("nb"))
      .as[(Double, Double)].collect()
    norms.foreach { case (na, nb) =>
      assert(math.abs(na - nb) <= 1e-9 * math.max(1.0, na), s"$na vs $nb")
    }
    // quality: mean |R·x − decode(code)|² (== original-space error,
    // R orthogonal) beats raw PQ at the same codebook budget
    def err(vhat: DataFrame, ref: DataFrame): Double =
      ref.join(vhat, "vec_id")
        .withColumn("e2", aggregate(
          zip_with(col("embedding"), col("vec"),
            (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
          lit(0.0), (acc, v) => acc + v))
        .agg(avg("e2")).head().getDouble(0)
    val rx = Pq.rotate(vecs, rot)
    val opqErr = err(Pq.pqDecode(Pq.opqEncode(vecs, rot, obooks), obooks), rx)
    val rbooks = Pq.pqCodebooks(vecs, numSub = 4, numCodewords = 8,
      lloydIters = 1)
    val pqErr = err(Pq.pqDecode(Pq.pqEncode(vecs, rbooks), rbooks), vecs)
    System.err.println(
      f"[pq-spec] anisotropic mean err: raw=$pqErr%.5f opq=$opqErr%.5f")
    assert(opqErr < 0.9 * pqErr,
      s"OPQ ($opqErr) did not clearly beat raw PQ ($pqErr)")
    // decimal-sum moments + driver Jacobi: the whole training is
    // bit-identical on retrain
    val (rot2, _) = Pq.opqTrain(vecs, numSub = 4, numCodewords = 8,
      opqIters = 3, lloydIters = 1,
      initRotation = Some(Pq.eigenAllocationInit(vecs, numSub = 4)))
    assert(rot == rot2, "OPQ retrain diverged")
    // served end-to-end: the rotated IVF-PQ probe with nProbe=all
    // equals brute ADC over the rotated corpus (the q78 identity,
    // here through the rotation)
    val rxAll = Pq.rotate(vecs, rot)
    val cents = Similarity.ivfCentroids(rxAll, numCentroids = 4,
      lloydIters = 0)
    val store = Similarity.ivfAssignments(rxAll, cents)
      .select("c_id", "n_id")
      .join(Pq.pqEncode(rxAll, obooks).withColumnRenamed("vec_id", "n_id"),
        "n_id")
    val queries = Pq.rotate(vecs.where(col("vec_id") < 4), rot)
    def ranked(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "rnk", "n_id")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(ranked(Pq.annIvfPqTopKFromIndex(cents, store, obooks,
        queries, nProbe = 4, k = 5)) ==
      ranked(Pq.pqAdcTopK(obooks, Pq.pqEncode(rxAll, obooks),
        queries, k = 5)),
      "rotated IVF-PQ probe with nProbe=all diverged from brute ADC")
  }

  test("eigenAllocationInit rejects ragged vectors with the moment aggregate's error") {
    import spark.implicits._
    // lengths 8 and 4 alternate, so every partition holds both
    val ragged = (0 until 40).map { i =>
      (i.toLong, Array.fill(if (i % 2 == 0) 8 else 4)(1.0 + i))
    }.toDF("vec_id", "embedding")
    val e = intercept[Exception](Pq.eigenAllocationInit(ragged, numSub = 4))
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("outer_product_sum: ragged input")),
      s"not the ragged-input error: $e")
  }
}
