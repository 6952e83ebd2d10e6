package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.Cleanser

/** WordPiece vocabulary induction (Schuster & Nakajima, "Japanese and
  * Korean Voice Search", ICASSP 2012 — the BERT tokenizer's trainer;
  * a published method). The third member of the subword-trainer
  * family, completing [[Bpe]] (grow by raw pair frequency) and
  * [[Unigram]] (shrink by likelihood pruning): WordPiece GROWS like
  * BPE but picks each merge by LIKELIHOOD GAIN under a unigram model
  * of the current segmentation — `score(a,b) = n(ab) / (n(a)·n(b))` —
  * the count form the 2012 paper's "unit that most increases
  * training-data likelihood" step reduces to (and the score the
  * public reimplementations document). The ratio prefers pairs whose
  * PARTS are rare relative to their co-occurrence, where raw BPE
  * frequency prefers whatever is merely common.
  *
  * Symbols use the `##` continuation convention: a word's first
  * character is bare, every later character carries the prefix, and
  * merging strips it from the right half (`h + ##e → he`,
  * `##l + ##l → ##ll`) — so word-initial and word-internal units
  * never alias, the job `</w>` does for [[Bpe]]. Known published
  * quirk, inherited deliberately: a literal `#` character in text can
  * mint marker-colliding symbols (`# + ###` merges to the bare
  * marker); corpora where that matters should map `#` in a pre-pass.
  *
  * Scale contract (shared with [[Bpe]]/[[Unigram]]): ONE corpus-sized
  * pass — the word-count groupBy — then every training round is a
  * vocabulary-sized pair/symbol-count aggregate (map-side combined)
  * plus a driver argmax with deterministic tie-breaks, so the merge
  * list is a pure function of the word counts regardless of corpus
  * size or partitioning. Encoding joins the corpus back through the
  * trained vocabulary's final segmentation — a vocabulary-keyed
  * equi-join, never a per-row merge replay.
  */
object Wordpiece {

  /** The word-internal continuation marker (the BERT convention). */
  val Continuation = "##"

  private def let(bound: Column, body: Column => Column): Column =
    element_at(transform(array(bound), body), 1)

  /** Round-0 symbols of a word: bare first character, `##`-prefixed
    * rest. Public because the oracle-checked round-0 query surface
    * reconstructs the seed segmentation explicitly (the
    * `Bpe.pairCounts` round-0 pattern). */
  def initialSymbols(w: Column): Column =
    transform(sequence(lit(1), length(w)), i =>
      when(i === lit(1), substr(w, i, lit(1)))
        .otherwise(concat(lit(Continuation), substr(w, i, lit(1)))))

  /** The symbol a merge of (a, b) mints: `a` plus `b` with its
    * continuation marker stripped — `##l + ##l → ##ll`. */
  def mergedSymbol(a: String, b: String): String =
    a + (if (b.startsWith(Continuation)) b.substring(Continuation.length)
         else b)

  /** Pair statistics over a segmented vocabulary `(w, c, syms)`:
    * adjacent-pair counts AND both symbols' occurrence counts —
    * `(a, b, n_ab, n_a, n_b)`, every count weighted by corpus word
    * count. These are the integer SUFFICIENT STATISTICS of the
    * WordPiece score (the score itself is the derived ratio
    * `n_ab / (n_a·n_b)`); emitting pure longs keeps the round's
    * E-step ANSI-SQL-replayable exactly, the [[Bpe.pairCounts]] /
    * [[LanguageModel]] integer-core discipline. Both aggregates are
    * vocabulary-sized; the symbol-count table (≤ alphabet + merges
    * rows) broadcasts into the join. */
  def pairStats(vocab: DataFrame): DataFrame = {
    val pairs = vocab.select(col("c"), col("syms"))
      .where(size(col("syms")) >= 2)
      .select(col("c"), explode(let(col("syms"), s =>
        transform(sequence(lit(0), size(s) - 2), i =>
          struct(element_at(s, i + 1).as("a"),
            element_at(s, i + 2).as("b"))))).as("p"))
      .groupBy("p.a", "p.b")
      .agg(sum(col("c")).as("n_ab"))
      .select(col("a"), col("b"), col("n_ab"))
    val syms = vocab
      .select(col("c"), explode(col("syms")).as("s"))
      .groupBy("s").agg(sum(col("c")).as("n"))
    pairs
      .join(broadcast(syms.select(col("s").as("a"), col("n").as("n_a"))),
        Seq("a"))
      .join(broadcast(syms.select(col("s").as("b"), col("n").as("n_b"))),
        Seq("b"))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"))
  }

  /** The likelihood score as a Column over [[pairStats]] output.
    * Doubles via explicit casts — `n_a · n_b` as a Long product could
    * overflow at corpus scale (two 1e9-mass symbols), the double
    * product cannot; the local replay mirrors this arithmetic
    * operation-for-operation so both paths compare identical IEEE
    * values. */
  private def scoreCol: Column =
    col("n_ab").cast("double") /
      (col("n_a").cast("double") * col("n_b").cast("double"))

  /** One left-to-right greedy merge pass of pair (a, b) — the
    * [[Bpe]] application rule (leftmost first; the minted symbol is
    * immediately eligible as the next pair's left half), minting
    * `merged` rather than the bare concatenation. */
  private def mergeOnce(syms: Column, a: String, b: String,
                        merged: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
        .otherwise(concat(acc, array(x))))

  /** Learned model: the ranked merge list and the trained
    * vocabulary's final segmentation (exact for every trained
    * word). */
  final case class Model(merges: Seq[(String, String)], vocab: DataFrame)

  /** Train `numMerges` WordPiece merges over the corpus' word counts.
    *
    * Each round merges the pair maximizing `n_ab / (n_a·n_b)` among
    * pairs with `n_ab ≥ 2` — a pair must REPEAT to be mergeable (a
    * hapax pair of two rare symbols can outscore everything; merging
    * it is pure overfit, and the threshold doubles as the exhaustion
    * rule, exactly [[Bpe.train]]'s). Deterministic: ties break
    * lexicographically on (score desc, a, b) with both paths
    * comparing identical IEEE doubles and UTF-8 byte string order.
    *
    * Execution shape and driver-memory contract are [[Bpe.train]]'s
    * verbatim: one sequential vocabulary-sized Spark job per merge on
    * the distributed path; when the word vocabulary fits
    * `localFinishMaxVocab` rows (~0.5–1 KB driver heap per row), the
    * trainer collects `(w, c)` ONCE and replays every round locally,
    * bit-identical (spec-pinned). Pass 0 to force the distributed
    * path. As there, the fits-the-driver probe is the collect itself:
    * `lim + 1` rows (about 300 MB at the default) reach the driver
    * even when the vocabulary is too big and the distributed fallback
    * runs; passing 0 collects nothing. */
  def train(df: DataFrame, text: Column, numMerges: Int,
            localFinishMaxVocab: Long = 300000L): Model = {
    require(numMerges >= 1, "at least one merge")
    val wc = Bpe.wordCounts(df, text)
    val lim = math.min(localFinishMaxVocab, Int.MaxValue - 1L).toInt
    // ONE corpus pass for the fits-the-driver probe AND the local
    // collect (r19, the [[Bpe.train]] fix): collecting `lim + 1` rows
    // answers the gate and feeds trainLocal — the old count() gate
    // ran the corpus word-count aggregate twice on the default path.
    if (lim > 0) {
      val rows = wc
        .select(col("w"), col("c"), initialSymbols(col("w")).as("syms"))
        .limit(lim + 1).collect()
      if (rows.length <= lim)
        return trainLocal(df.sparkSession,
          rows.map(r =>
            (r.getString(0), r.getLong(1), r.getSeq[String](2).toArray)),
          numMerges)
    }
    var vocab = wc
      .select(col("w"), col("c"), initialSymbols(col("w")).as("syms"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val top = pairStats(vocab).where(col("n_ab") >= 2)
        .orderBy(scoreCol.desc, col("a"), col("b")).limit(1).collect()
      top.headOption match {
        case Some(r) =>
          val (a, b) = (r.getString(0), r.getString(1))
          merges += ((a, b))
          val prev = vocab
          vocab = vocab
            .withColumn("syms",
              mergeOnce(col("syms"), a, b, mergedSymbol(a, b)))
            .localCheckpoint(true)
          org.apache.spark.sql.graft.CheckpointBridge.unpersist(prev)
        case None => exhausted = true
      }
    }
    Model(merges.toSeq, vocab)
  }

  /** Driver-local merge replay — [[train]]'s fast path once the
    * vocabulary is collected (the [[Bpe]] parity points: UTF-8-byte
    * tie-breaks, leftmost-first merge fold, the n_ab ≥ 2 exhaustion
    * rule), plus the WordPiece-specific one: the score is computed as
    * `n_ab.toDouble / (n_a.toDouble * n_b.toDouble)` — the same IEEE
    * operations in the same order as [[scoreCol]]'s casts, so local
    * and distributed argmaxes compare bit-identical doubles. */
  private def trainLocal(spark: org.apache.spark.sql.SparkSession,
                         collected: Array[(String, Long, Array[String])],
                         numMerges: Int): Model = {
    import spark.implicits._
    var entries: Array[(String, Long, Array[String])] = collected
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val pairCounts =
        scala.collection.mutable.HashMap.empty[(String, String), Long]
      val symCounts = scala.collection.mutable.HashMap.empty[String, Long]
      entries.foreach { case (_, c, syms) =>
        var i = 0
        while (i < syms.length) {
          symCounts.update(syms(i), symCounts.getOrElse(syms(i), 0L) + c)
          if (i < syms.length - 1) {
            val k = (syms(i), syms(i + 1))
            pairCounts.update(k, pairCounts.getOrElse(k, 0L) + c)
          }
          i += 1
        }
      }
      var best: Option[((String, String), Double)] = None
      pairCounts.foreach { case (p, n) =>
        if (n >= 2L) {
          val s = n.toDouble /
            (symCounts(p._1).toDouble * symCounts(p._2).toDouble)
          val better = best match {
            case None => true
            case Some((bp, bs)) =>
              s > bs || (s == bs && (Bpe.utf8Lt(p._1, bp._1) ||
                (p._1 == bp._1 && Bpe.utf8Lt(p._2, bp._2))))
          }
          if (better) best = Some((p, s))
        }
      }
      best match {
        case Some(((a, b), _)) =>
          merges += ((a, b))
          val m = mergedSymbol(a, b)
          entries = entries.map { case (w, c, syms) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            syms.foreach { x =>
              if (out.nonEmpty && out.last == a && x == b)
                out(out.length - 1) = m
              else out += x
            }
            (w, c, out.toArray)
          }
        case None => exhausted = true
      }
    }
    val vocabDf = entries.toSeq
      .map { case (w, c, syms) => (w, c, syms.toSeq) }
      .toDF("w", "c", "syms")
    Model(merges.toSeq, vocabDf)
  }

  /** Encode documents through the trained segmentation: `(id,
    * word_pos, sym_pos, token, oov)` — the [[Bpe.encode]] shape, two
    * vocabulary-keyed equi-joins (broadcast-able at any corpus size),
    * never a per-row merge replay. Out-of-vocabulary words fall back
    * to their `##`-convention character split, flagged — the [UNK]
    * policy stays with the caller (the flag plus the character
    * fallback carry strictly more information than a sentinel). */
  def encode(df: DataFrame, id: Column, text: Column, model: Model)
      : DataFrame = {
    val seg = model.vocab.select(col("w"), col("syms"))
    df.select(id.as("id"),
        posexplode(filter(split(Cleanser.normalized(coalesce(text, lit(""))),
          " "), w => length(w) > 0)).as(Seq("word_pos", "w")))
      .join(seg, Seq("w"), "left")
      .select(col("id"), col("word_pos"),
        col("syms").isNull.as("oov"),
        posexplode(coalesce(col("syms"), initialSymbols(col("w"))))
          .as(Seq("sym_pos", "token")))
  }
}
