package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.PqIndexStore
import graft.operators.{Dedup, Pq, Similarity, TrainingPipeline}
import graft.util.CacheScope

/** corpus_prep: the corpus and embedding operators.
  *
  * Closed loop, one client, fixed cycles of: one prep pass
  * (decontaminated training prep, then near-duplicate pairs and their
  * connected components) until the kept set is in hand; one ANN index
  * build (OPQ with eigen-allocation init, IVF centroids and
  * assignments, PQ encode, persist); then `ProbesPerCycle` probe
  * batches through the stored index. Both inputs are single parquet
  * files with one row group — the under-split layout the heavy
  * per-row kernels meet in the existing suite. */
final class CorpusPrep(val runner: Runner) extends Workload {
  import CorpusPrep._

  private val spark = runner.spark
  private val tr = runner.tracer
  private val seed = runner.args.seed
  private val docsPath = runner.args.work.resolve("docs.parquet").toString
  private val benchPath = runner.args.work.resolve("bench.parquet").toString
  private val embPath = runner.args.work.resolve("embeddings.parquet").toString
  private val idxDir = runner.args.work.resolve("index").toString
  private val corpus = genCorpus(seed)
  private val vectors = genVectors(seed)
  private val queries = genQueries(seed, vectors)
  private var index: PqIndexStore.PqIndex = _
  private var probe = 0
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var cycles = 0

  val headline = "probe"
  val aux = "refresh"
  def headlineSamples: Int = runner.samples(headline).size

  def generate(): String = {
    val docRows = corpus.docs.map { case (id, text) =>
      Row(id, text, "en", s"src${id % 4}", text.length.toLong) }
    write(docRows, DocSchema, docsPath)
    write(corpus.bench.map { case (id, text) =>
      Row(id, text, "en", "bench", text.length.toLong) }, DocSchema, benchPath)
    write(vectors.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, v.map(_.toFloat).toSeq, i % 24) }, EmbSchema, embPath)
    val h = new Gen.Hasher()
    corpus.docs.foreach { case (i, t) => h.add(s"$i:$t") }
    corpus.bench.foreach { case (i, t) => h.add(s"$i:$t") }
    vectors.foreach(v => h.add(v.mkString(",")))
    queries.foreach(b => b.foreach { case (i, v) => h.add(s"$i:${v.mkString(",")}") })
    h.hex
  }

  /** One parquet file with one row group, as the test tables ship. */
  private def write(rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  def setup(): Unit = {
    runner.warm = true
    step()
    runner.warm = false
  }

  def step(): Unit = {
    val prepS = prepPass()
    val buildS = buildIndex()
    runner.checkpoint(aux, prepS + buildS)
    (0 until ProbesPerCycle).foreach(_ => probeBatch())
    cycles += 1
  }

  private def prepPass(): Double = {
    val t0 = System.nanoTime()
    val (kept, comps) = runner.op("prep") {
      val docs = spark.read.parquet(docsPath)
      val bench = spark.read.parquet(benchPath)
      val kept = tr.span("operators.TrainingPipeline.prepareDecontaminatedWith") {
        TrainingPipeline.prepareDecontaminatedWith(docs, col("doc_id"),
          col("text"), TrainingPipeline.Config(), bench = bench,
          benchId = col("doc_id"), benchText = col("text"),
          benchN = 5, maxOverlap = 0.5,
          (d, i, t) => Dedup.jaccardPairs(d, i, t, n = 3, threshold = 0.8,
            maxShingleDf = Some(64)))
          .select("id").collect().map(_.getLong(0)).toSet
      }
      val pairs = tr.span("operators.Dedup.jaccardPairs") {
        tr.force(Dedup.jaccardPairs(docs, col("doc_id"), col("text"), n = 3,
          threshold = ClusterThreshold, maxShingleDf = Some(64)))
      }
      val comps = tr.span("operators.Dedup.connectedComponents") {
        Dedup.connectedComponents(pairs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toSeq
      }
      CacheScope.releaseAll()
      (kept, comps)
    } { case (kept, comps) =>
      val clusters = comps.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
      if (kept != corpus.kept)
        Some(s"prep kept ${kept.size} docs, expected ${corpus.kept.size}: " +
          s"missing ${(corpus.kept -- kept).take(5)}, extra ${(kept -- corpus.kept).take(5)}")
      else if (clusters != corpus.groups)
        Some(s"clustering found ${clusters.size} groups, expected ${corpus.groups.size}")
      else None
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def buildIndex(): Double = {
    val t0 = System.nanoTime()
    index = runner.op("index_build") {
      val emb = spark.read.parquet(embPath)
      val sample = emb.where(pmod(xxhash64(col("vec_id")), lit(16)) === 0)
      val init = tr.span("operators.Pq.eigenAllocationInit") {
        Pq.eigenAllocationInit(sample, numSub = NumSub)
      }
      val (rot, books) = tr.span("operators.Pq.opqTrain") {
        val (r, b) = Pq.opqTrain(sample, numSub = NumSub, numCodewords = 16,
          opqIters = 1, lloydIters = 1, initRotation = Some(init))
        (r, tr.force(b))
      }
      val rx = Pq.rotate(emb, rot)
      val cents = tr.span("operators.Similarity.ivfCentroids") {
        tr.force(Similarity.ivfCentroids(rx, numCentroids = 16, lloydIters = 1,
          seedKey = c => md5(c.cast("string"))))
      }
      val asg = tr.span("operators.Similarity.ivfAssignments") {
        tr.force(Similarity.ivfAssignments(rx, cents).select("c_id", "n_id"))
      }
      val codes = tr.span("operators.Pq.pqEncode") {
        tr.force(Pq.pqEncode(rx, books).withColumnRenamed("vec_id", "n_id"))
      }
      tr.span("io.PqIndexStore.write") {
        PqIndexStore.write(idxDir, books, asg.join(codes, "n_id"),
          Some(rot), Some(cents))
      }
      PqIndexStore.read(spark, idxDir)
    } { idx =>
      val n = idx.codes.count()
      if (n == vectors.size) None
      else Some(s"index holds $n codes for ${vectors.size} vectors")
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def probeBatch(): Unit = {
    val batch = queries(probe % queries.size)
    probe += 1
    val qdf = spark.createDataFrame(batch.map { case (i, v) =>
      Row(i, v.map(_.toFloat).toSeq) }.asJava, QuerySchema)
    val rows = runner.op(headline) {
      tr.span("operators.Pq.annTopKFromStoredIndex") {
        Pq.annTopKFromStoredIndex(index, qdf, nProbe = 4, k = K,
          tabulated = true).select("q_id", "n_id").collect()
      }
    } { rows =>
      val per = rows.groupBy(_.getLong(0))
      if (per.size != batch.size || per.values.exists(_.length != K))
        Some(s"probe returned ${rows.length} rows for ${batch.size} queries")
      else None
    }
    val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = batch.map { case (q, v) =>
      (exactTopK(vectors, v, K).toSet intersect got.getOrElse(q, Set.empty)).size }
    val recall = hits.sum.toDouble / (K * batch.size)
    recalls += recall
    tr.record("operators.Pq.recall_at_k", recall)
  }

  override def finalChecks(): Seq[String] = {
    val mean = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    if (mean >= RecallFloor) Nil
    else Seq(f"mean recall@$K $mean%.3f is below the floor $RecallFloor")
  }

  override def countMetrics(): Map[String, Double] =
    if (!runner.args.trace) Map.empty
    else {
      // the share of candidate pairs (any shared shingle) the threshold keeps
      val docs = spark.read.parquet(docsPath)
      def pairs(t: Double) = Dedup.jaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, threshold = t, maxShingleDf = Some(64)).count()
      Map("operators.Dedup.pair_yield" ->
        pairs(ClusterThreshold).toDouble / math.max(1L, pairs(0.0)))
    }

  override def extraEndToEnd(): Map[String, Double] = {
    val b = runner.samples("index_build")
    val m = Map.newBuilder[String, Double]
    if (b.nonEmpty) m += "index_build_s" -> Stats.median(b)
    if (recalls.nonEmpty) m += "recall_at_k_mean" -> recalls.sum / recalls.size
    m.result()
  }

  override def witnesses(): Map[String, Any] = Map("cycles" -> cycles)
}

object CorpusPrep {
  val NDocs = 900
  val NGroups = 40
  val GroupSize = 3
  val NContaminated = 30
  val NBench = 60
  val Vocab = 300
  val NVec = 1500
  val Dim = 32
  val NumSub = 8
  val Clusters = 24
  val QueriesPerBatch = 8
  val QueryBatches = 64
  val ProbesPerCycle = 6
  val K = 5
  val ClusterThreshold = 0.5
  /** Mean recall@5 of the stored OPQ-IVF-PQ probe against exact cosine
    * top-5 over a run. The tree this benchmark was introduced on measured
    * 0.350 to 0.365 on seeds 1 to 3; the floor sits below that. */
  val RecallFloor = 0.3

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))
  val QuerySchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** The corpus, the held-out bench slice, and the ground truth: the
    * ids the prep pass keeps and the near-duplicate groups. */
  final case class Corpus(docs: Seq[(Long, String)], bench: Seq[(Long, String)],
                          kept: Set[Long], groups: Set[Set[Long]])

  /** Distinct five-letter words; none is a stopword of any language
    * the language gate scores. */
  private val words: IndexedSeq[String] = {
    val c = "bcdfghklmnprstvz"
    val v = "aeiou"
    (0 until Vocab).map(i => s"${c(i % 16)}${v(i / 16 % 5)}${c(i / 80 % 16)}" +
      s"${v(i % 5)}${c(i * 7 % 16)}")
  }
  private val stop = Array("the", "of", "a")

  /** A document of `n` tokens. It opens with "the" so the language
    * gate always scores it English. */
  private def doc(r: java.util.SplittableRandom, n: Int): Vector[String] =
    "the" +: Vector.fill(n - 1)(
      if (r.nextInt(10) == 0) stop(r.nextInt(3)) else words(r.nextInt(Vocab)))

  def genCorpus(seed: Long): Corpus = {
    val r = Gen.rng(seed, "corpus_prep/docs")
    val bench = (0 until NBench).map(i => doc(r, 40 + r.nextInt(20)))
    val docs = mutable.ArrayBuffer.empty[Vector[String]]
    val groups = mutable.ArrayBuffer.empty[Set[Long]]
    val contaminated = mutable.Set.empty[Long]
    var nextGroup = 0
    var nextBench = 0
    while (docs.size < NDocs) {
      val u = r.nextInt(NDocs)
      if (u < NGroups * GroupSize && nextGroup < NGroups) {
        // an original followed by near-copies, each one token changed
        val orig = doc(r, 40 + r.nextInt(30))
        val first = docs.size.toLong
        docs += orig
        (1 until GroupSize).foreach { _ =>
          val pos = 5 + r.nextInt(orig.size - 10)
          var w = words(r.nextInt(Vocab))
          while (w == orig(pos)) w = words(r.nextInt(Vocab))
          docs += orig.updated(pos, w)
        }
        groups += (first until first + GroupSize).toSet
        nextGroup += 1
      } else if (u < NGroups * GroupSize + NContaminated && nextBench < NContaminated) {
        // a benchmark document's first 40 tokens leaked into the corpus
        contaminated += docs.size.toLong
        docs += bench(nextBench).take(40) ++ doc(r, 10)
        nextBench += 1
      } else docs += doc(r, 30 + r.nextInt(40))
    }
    val all = docs.zipWithIndex.map { case (d, i) => (i.toLong, d.mkString(" ")) }.toSeq
    val dropped = groups.flatMap(g => g - g.min) ++ contaminated
    Corpus(all,
      bench.zipWithIndex.map { case (d, i) => (1000000L + i, d.mkString(" ")) },
      all.map(_._1).toSet -- dropped, groups.toSet)
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Clustered unit vectors: `Clusters` Gaussian blobs. */
  def genVectors(seed: Long): IndexedSeq[Array[Double]] = {
    val r = Gen.rng(seed, "corpus_prep/vectors")
    val g = new java.util.Random(r.nextLong())
    val centers = IndexedSeq.fill(Clusters)(Array.fill(Dim)(g.nextGaussian()))
    IndexedSeq.fill(NVec) {
      val c = centers(g.nextInt(Clusters))
      // floats, as stored: exact top-k must see the same values
      normalize(c.map(x => x + 0.45 * g.nextGaussian())).map(_.toFloat.toDouble)
    }
  }

  /** Query batches: noisy copies of corpus vectors, ids disjoint from it. */
  def genQueries(seed: Long, vecs: IndexedSeq[Array[Double]])
      : IndexedSeq[Seq[(Long, Array[Double])]] = {
    val r = Gen.rng(seed, "corpus_prep/queries")
    val g = new java.util.Random(r.nextLong())
    (0 until QueryBatches).map { b =>
      (0 until QueriesPerBatch).map { j =>
        val base = vecs(g.nextInt(vecs.size))
        (10000000L + b * QueriesPerBatch + j,
          normalize(base.map(x => x + 0.05 * g.nextGaussian())).map(_.toFloat.toDouble))
      }
    }
  }

  /** Exact cosine top-k ids, in plain Scala. */
  def exactTopK(vecs: IndexedSeq[Array[Double]], q: Array[Double], k: Int): Seq[Long] = {
    val nq = math.sqrt(q.map(x => x * x).sum)
    vecs.indices.map { i =>
      val v = vecs(i)
      var dot = 0.0; var nv = 0.0; var j = 0
      while (j < v.length) { dot += v(j) * q(j); nv += v(j) * v(j); j += 1 }
      (i.toLong, dot / (math.sqrt(nv) * nq))
    }.sortBy(p => (-p._2, p._1)).take(k).map(_._1)
  }
}
