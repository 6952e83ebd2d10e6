package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.Cleanser

/** Byte-pair-encoding vocabulary induction (Sennrich et al., "Neural
  * Machine Translation of Rare Words with Subword Units", ACL 2016 —
  * a published method): start from characters (plus the `</w>`
  * end-of-word marker), repeatedly count adjacent symbol pairs and
  * merge the most frequent one, and the merge list IS the learned
  * subword vocabulary.
  *
  * The scale insight that makes BPE training cheap on a 100 TB
  * corpus: after ONE corpus pass (the word-count groupBy), every
  * training round operates on the WORD VOCABULARY weighted by count
  * — orders of magnitude below the corpus, regardless of corpus
  * size. Each round is one vocabulary-sized pair-count aggregate
  * (map-side combined) + a driver argmax with a deterministic
  * lexicographic tie-break, so the merge list is a pure function of
  * the word counts.
  *
  * ENCODING joins back through the trained vocabulary's final
  * segmentation (`word → symbols` is known exactly for every trained
  * word — no per-row merge replay), which keeps the encode a pair of
  * vocabulary-keyed equi-joins; out-of-vocabulary words fall back to
  * their character split (the standard serving fallback; documented,
  * not hidden).
  */
object Bpe {

  /** End-of-word marker (the Sennrich formulation — without it,
    * word-final and word-internal units alias). */
  val EndOfWord = "</w>"

  private def let(bound: Column, body: Column => Column): Column =
    element_at(transform(array(bound), body), 1)

  /** Character symbols of a word + the `</w>` marker. */
  private def symbolsOf(w: Column): Column =
    concat(split(w, ""), array(lit(EndOfWord)))

  /** Corpus word counts `(w, c)` — the ONE corpus-sized pass;
    * everything after is vocabulary-sized. */
  def wordCounts(df: DataFrame, text: Column): DataFrame =
    df.select(explode(split(Cleanser.normalized(coalesce(text, lit(""))),
        " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** Adjacent-pair counts `(a, b, n)` over a segmented vocabulary
    * `(w, c, syms)` — each pair weighted by its word's corpus count.
    * One merge round's E-step; also the oracle-checked query surface
    * (round 0 = counts over the raw character split). */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("c"), col("syms"))
      .where(size(col("syms")) >= 2)
      .select(col("c"), explode(let(col("syms"), s =>
        transform(sequence(lit(0), size(s) - 2), i =>
          struct(element_at(s, i + 1).as("a"),
            element_at(s, i + 2).as("b"))))).as("p"))
      .groupBy("p.a", "p.b")
      .agg(sum(col("c")).as("n"))
      .select(col("a"), col("b"), col("n"))

  /** One left-to-right greedy merge pass of pair (a, b) over a
    * symbol array — the BPE application rule (leftmost occurrence
    * first: `a a a` under merge (a,a) becomes `aa a`). */
  private def mergeOnce(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Learned model: the ranked merge list and the trained
    * vocabulary's final segmentation (exact for every trained
    * word). */
  final case class Model(merges: Seq[(String, String)], vocab: DataFrame)

  /** Train `numMerges` BPE merges over the corpus' word counts.
    * Deterministic: the argmax tie-breaks lexicographically on
    * (count desc, a, b), so the same corpus always yields the same
    * merge list from any partitioning.
    *
    * Execution shape: the distributed path runs ONE sequential Spark
    * job (pair-count aggregate + driver argmax + localCheckpoint)
    * per merge — fine at query-surface merge counts, but a realistic
    * 32k-merge vocabulary would mean 32k sequential driver
    * round-trips at ~0.1–1 s each (hours of pure scheduling). So
    * when the word vocabulary fits the driver
    * (`localFinishMaxVocab` rows — it is VOCABULARY-sized, never
    * corpus-sized: one corpus pass counts it, and merges don't grow
    * it), training collects `(w, c)` ONCE and replays every round
    * locally — bit-identical merges and segmentation (the local
    * argmax compares symbols by UTF-8 bytes, exactly Spark's string
    * ordering; spec-pinned against the distributed rounds). Pass
    * `localFinishMaxVocab = 0` to force the distributed path — the
    * fallback when the vocabulary itself is data-sized. Stops early
    * when no pair repeats (fully merged).
    *
    * Driver-memory contract: the local path collects one
    * `(word, count, symbol array)` tuple per vocabulary row and
    * rebuilds the entries array + a pair-count map every merge round
    * — budget ~0.5–1 KB of driver heap per row and O(vocab)
    * single-threaded work per merge. The 300k default keeps that
    * under ~300 MB and sub-second rounds; raise it explicitly (after
    * sizing the driver) rather than by default — at the old 4M-row
    * default a wide-vocab corpus silently bought multi-GB driver
    * state. The threshold counts ROWS, not bytes: pathological
    * corpora with huge distinct words should lower it or pass 0.
    *
    * The fits-the-driver probe IS the local collect: `lim + 1` rows
    * come to the driver on every call with `localFinishMaxVocab > 0`,
    * including a vocabulary that turns out too big and then takes the
    * distributed fallback — so that path still pays the full
    * ~300 MB (at the default) driver spike once before it starts.
    * Pass 0 when the vocabulary is known to be data-sized: no rows
    * are collected. */
  def train(df: DataFrame, text: Column, numMerges: Int,
            localFinishMaxVocab: Long = 300000L): Model = {
    require(numMerges >= 1, "at least one merge")
    val wc = wordCounts(df, text)
    val lim = math.min(localFinishMaxVocab, Int.MaxValue - 1L).toInt
    // ONE corpus pass for the fits-the-driver probe AND the local
    // collect (r19): the old `wc.limit(lim+1).count()` gate ran the
    // corpus word-count aggregate once for the count and AGAIN for
    // trainLocal's collect — collecting `lim + 1` rows directly
    // answers both (≤ lim rows collected ⇔ the vocab fits), halving
    // the trainer's corpus-pass cost on the (default) local path.
    // The distributed fallback recomputes wc, as before — that path
    // exists for vocabularies too big to collect at all.
    if (lim > 0) {
      val rows = wc
        .select(col("w"), col("c"), symbolsOf(col("w")).as("syms"))
        .limit(lim + 1).collect()
      if (rows.length <= lim)
        return trainLocal(df.sparkSession,
          rows.map(r =>
            (r.getString(0), r.getLong(1), r.getSeq[String](2).toArray)),
          numMerges)
    }
    var vocab = wc
      .select(col("w"), col("c"), symbolsOf(col("w")).as("syms"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val top = pairCounts(vocab)
        .orderBy(col("n").desc, col("a"), col("b")).limit(1).collect()
      top.headOption match {
        case Some(r) if r.getLong(2) >= 2 =>
          val (a, b) = (r.getString(0), r.getString(1))
          merges += ((a, b))
          val prev = vocab
          vocab = vocab
            .withColumn("syms", mergeOnce(col("syms"), a, b))
            .localCheckpoint(true)
          org.apache.spark.sql.graft.CheckpointBridge.unpersist(prev)
        case _ => exhausted = true
      }
    }
    Model(merges.toSeq, vocab)
  }

  /** Driver-local merge replay — the [[train]] fast path once the
    * vocabulary is collected: Spark computes the initial character
    * segmentation (so the split semantics are literally the same
    * expression), then every round's pair count / argmax / merge
    * runs in-process. Parity points, each load-bearing:
    *  - the argmax tie-break compares symbols by UNSIGNED UTF-8
    *    BYTES — Spark's binary string ordering, not Java's UTF-16
    *    `compareTo` (they disagree above U+FFFF);
    *  - the merge pass replays [[mergeOnce]]'s left fold exactly
    *    (leftmost first, merged symbol immediately eligible as the
    *    next pair's left half);
    *  - a top pair with count < 2 exhausts training, as the
    *    distributed round does. */
  /** Spark's binary string ordering (unsigned UTF-8 bytes) — the
    * driver-local argmax tie-break MUST match the distributed
    * `orderBy`, and Java's UTF-16 `compareTo` disagrees above
    * U+FFFF. Shared with [[Wordpiece]]'s local replay. */
  private[operators] def utf8Lt(x: String, y: String): Boolean = {
    val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(xb.length, yb.length)
    while (i < n) {
      val c = (xb(i) & 0xff) - (yb(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    xb.length < yb.length
  }

  private def trainLocal(spark: org.apache.spark.sql.SparkSession,
                         collected: Array[(String, Long, Array[String])],
                         numMerges: Int): Model = {
    import spark.implicits._
    var entries: Array[(String, Long, Array[String])] = collected
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val counts =
        scala.collection.mutable.HashMap.empty[(String, String), Long]
      entries.foreach { case (_, c, syms) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      var best: Option[((String, String), Long)] = None
      counts.foreach { case (p, n) =>
        val better = best match {
          case None => true
          case Some((bp, bn)) =>
            n > bn || (n == bn && (utf8Lt(p._1, bp._1) ||
              (p._1 == bp._1 && utf8Lt(p._2, bp._2))))
        }
        if (better) best = Some((p, n))
      }
      best match {
        case Some(((a, b), n)) if n >= 2 =>
          merges += ((a, b))
          entries = entries.map { case (w, c, syms) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            syms.foreach { x =>
              if (out.nonEmpty && out.last == a && x == b)
                out(out.length - 1) = a + b
              else out += x
            }
            (w, c, out.toArray)
          }
        case _ => exhausted = true
      }
    }
    val vocabDf = entries.toSeq
      .map { case (w, c, syms) => (w, c, syms.toSeq) }
      .toDF("w", "c", "syms")
    Model(merges.toSeq, vocabDf)
  }

  /** Encode documents through the trained segmentation: `(id, word_pos,
    * sym_pos, token)` — every word of every document joined to its
    * final training-time symbols; unseen words fall back to their
    * character split (`oov = true`). Two vocabulary-keyed equi-joins
    * (broadcast when the vocab is small), never a per-row merge
    * replay. */
  def encode(df: DataFrame, id: Column, text: Column, model: Model)
      : DataFrame = {
    val seg = model.vocab.select(col("w"), col("syms"))
    df.select(id.as("id"),
        posexplode(filter(split(Cleanser.normalized(coalesce(text, lit(""))),
          " "), w => length(w) > 0)).as(Seq("word_pos", "w")))
      .join(seg, Seq("w"), "left")
      .select(col("id"), col("word_pos"),
        col("syms").isNull.as("oov"),
        posexplode(coalesce(col("syms"), symbolsOf(col("w"))))
          .as(Seq("sym_pos", "token")))
  }
}
