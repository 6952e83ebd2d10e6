package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bench-data scaler: replicates a driver-generated sf directory K×
  * into a repo-local directory, producing the next scale factor for
  * the scale-trend bench (sf0.1 × 10 ≈ sf1). Derivation only — the
  * driver's testdata stays the single source of truth for
  * correctness; this output feeds Bench, never Verify.
  *
  * The replication model keeps per-operator cost growth HONEST:
  *  - every key domain shifts by `replica × stride` (stride = max key
  *    + 1, foreign keys shifted by their referenced domain's stride),
  *    so join fan-outs stay constant per row and output cardinalities
  *    scale linearly — no artificial key collisions;
  *  - document text in EVERY replica (r = 0 included) gets
  *    replica-unique tag tokens prepended and inserted after every
  *    2nd token; each inserted tag derives from its neighboring
  *    content token (md5, replica-prefixed), so the tag distribution
  *    mirrors the content distribution instead of adding one hot
  *    token per replica (which would distort vote-based fingerprints
  *    like SimHash — see the tagging comment below). Within a
  *    replica the near-dup structure is preserved (identical docs
  *    stay identical; token runs shared at even-offset shifts tag
  *    identically), across replicas NO 3-gram shingle is shared (any 3
  *    consecutive tokens straddle a replica-numbered tag) and no doc
  *    is byte-identical (the prepended tag covers 0/1-token docs),
  *    so dedup pair counts scale linearly — the
  *    constant-duplication-rate model of a real growing corpus, not
  *    the quadratic blow-up naive copying would fake. Tagging replica
  *    0 too keeps all replicas ISOMORPHIC: quality gates
  *    (token-count/stop-ratio/lang thresholds) admit the same docs in
  *    every replica, so per-stage cardinalities are exactly 10× — the
  *    trade-off is that sf1 text is ~1.5× longer per doc than sf0.1
  *    text (compare per-doc text-op throughput across scale factors
  *    with that factor in mind; cardinality-driven costs are clean);
  *  - embeddings in every replica get a deterministic per-(replica,
  *    dim) sign flip: within-replica cosines are EXACTLY preserved
  *    (signs cancel in the dot product), cross-replica cosines decay
  *    toward noise — fixed query set, 10× corpus, linear ANN cost;
  *  - events.ts round-trips as raw int64 nanos (the source files are
  *    TIMESTAMP(NANOS), which Spark reads as long under
  *    `nanosAsLong` and cannot write back — plain INT64 reads
  *    identically through graft.io.Tables).
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> [replicas=10]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val replicas = if (args.length > 2) args(2).toInt else 10
    require(replicas >= 1)
    val spark = Harness.session()

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def stride(t: String, key: String): Long =
      read(t).agg(max(col(key))).head().getLong(0) + 1
    // one stride per key DOMAIN; foreign keys use the referenced one
    val kCust = stride("customer", "c_custkey")
    val kSupp = stride("supplier", "s_suppkey")
    val kPart = stride("part", "p_partkey")
    val kOrd = stride("orders", "o_orderkey")
    val kEvt = stride("events", "event_id")
    val kUser = stride("events", "user_id")
    val kDoc = stride("documents", "doc_id")
    val kVec = stride("embeddings", "vec_id")

    val r = col("__r")
    def replicate(df: DataFrame)(cols: org.apache.spark.sql.Column*): DataFrame =
      df.withColumn("__r", explode(sequence(lit(0L), lit(replicas - 1L))))
        .select(cols: _*)
    def shift(c: String, k: Long) = (col(c) + r * k).as(c)
    def keep(c: String) = col(c)
    def write(df: DataFrame, t: String): Unit = {
      // spread each table over the local core count: the source
      // tables are single parquet files, and replicate() preserves
      // that, so an unrepartitioned write yields ONE part file — at
      // bench time every scan stage of that table then runs as a
      // single task (one sf1 scan task was observed interpreting for
      // minutes while 31 cores idled). Real 100 TB tables arrive as
      // thousands of files; 32 parts is the local stand-in.
      df.repartition(32).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }

    // broadcast dims: copied, not replicated (nationkey FKs stay valid)
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(replicate(read("customer"))(shift("c_custkey", kCust),
      keep("c_name"), keep("c_nationkey"), keep("c_acctbal"),
      keep("c_mktsegment")), "customer")
    write(replicate(read("supplier"))(shift("s_suppkey", kSupp),
      keep("s_name"), keep("s_nationkey"), keep("s_acctbal")), "supplier")
    write(replicate(read("part"))(shift("p_partkey", kPart),
      keep("p_name"), keep("p_brand"), keep("p_type"), keep("p_size"),
      keep("p_retailprice")), "part")
    write(replicate(read("orders"))(shift("o_orderkey", kOrd),
      shift("o_custkey", kCust), keep("o_orderstatus"),
      keep("o_totalprice"), keep("o_orderdate"), keep("o_orderpriority")),
      "orders")
    write(replicate(read("lineitem"))(shift("l_orderkey", kOrd),
      shift("l_partkey", kPart), shift("l_suppkey", kSupp),
      keep("l_linenumber"), keep("l_quantity"), keep("l_extendedprice"),
      keep("l_discount"), keep("l_tax"), keep("l_returnflag"),
      keep("l_linestatus"), keep("l_shipdate")), "lineitem")
    // ts is already a raw long here (nanosAsLong) and is written back
    // as plain INT64 — Tables.events reads both identically
    write(replicate(read("events"))(shift("event_id", kEvt),
      keep("ts"), shift("user_id", kUser), keep("event_type"),
      keep("value"), keep("props")), "events")

    // replica-unique tags prepended + inserted after every 2nd token:
    // every 3-gram window of a tagged doc contains a tag (shingle sets
    // disjoint across replicas, since every tag embeds the replica
    // number) and no doc is byte-identical across replicas (the
    // prepend covers 0/1-token docs). Applied to ALL replicas so gate
    // outcomes and near-dup structure are isomorphic — see the header
    // contract. NULL text stays NULL.
    //
    // Each inserted tag derives from the token BEFORE it (md5 of the
    // neighbor, replica-prefixed), not from one per-replica constant:
    // a constant token at ~1/3 of every bag dominated bag-of-tokens
    // SimHash majority votes and collapsed 50 k docs into FEWER band
    // buckets than 5 k docs had (276 k → 383 M candidate pairs, a
    // 1386× blow-up at 10× data) — a data-construction artifact, not
    // an operator cost. Content-derived tags mirror the content token
    // distribution (no manufactured hot token) and keep identical
    // docs identical. Shift behavior: tags insert at odd indices, so
    // a token run shared at EVEN-offset shifts tags identically;
    // odd-parity shifts tag the run's other alternate tokens — the
    // same alignment sensitivity the positional-constant scheme had.
    // The single prepended constant stays — one token per doc,
    // negligible vote weight.
    val tag = concat(lit("zrep"), r)
    def tagOf(t: org.apache.spark.sql.Column) =
      concat(lit("zr"), r, lit("x"), substring(md5(t.cast("binary")), 1, 6))
    val toks = split(col("text"), " ")
    val text2 = concat(tag, lit(" "),
      array_join(flatten(transform(toks, (t, i) =>
        when(i % 2 === 1, array(t, tagOf(t))).otherwise(array(t)))), " "))
    write(replicate(read("documents"))(shift("doc_id", kDoc),
      text2.as("text"), keep("lang"), keep("source"),
      coalesce(length(text2).cast("long"), lit(0L)).as("n_chars")),
      "documents")

    // per-(replica, dim) sign flip in every replica: norms and
    // within-replica cosines exactly preserved (signs cancel in the
    // dot product), cross-replica similarity decays to noise
    val flipped = transform(col("embedding"), (x, i) =>
      when(pmod(xxhash64(r, i), lit(2)) === 0, x).otherwise(-x).cast("float"))
    write(replicate(read("embeddings"))(shift("vec_id", kVec),
      flipped.as("embedding"), keep("label")), "embeddings")

    println(s"[scaleup] wrote $dst (x$replicas of $src)")
    spark.stop()
  }
}
