package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table catalog over a scale-factor directory.
  *
  * The reference reads Delta tables by name (`spark.read.format("delta")
  * .table("ukg.ukg_dept_bus_strctr")`, ukg_wrkload_dtl.py:29); here the
  * catalog is path-based parquet. Readers are plain `spark.read.parquet`
  * so Catalyst keeps full pushdown/pruning into the scan.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame    = t("region")
  def nation: DataFrame    = t("nation")
  def customer: DataFrame  = t("customer")
  def supplier: DataFrame  = t("supplier")
  def part: DataFrame      = t("part")
  def orders: DataFrame    = t("orders")
  def lineitem: DataFrame  = t("lineitem")

  /** `events.ts` has shipped in two physical encodings across
    * testdata generations: parquet TIMESTAMP(NANOS) (read as raw
    * nanos via the legacy conf, then converted losslessly — integral
    * `div`, because epoch-nanos exceed 2^53 and a double division
    * would round the low microsecond digit) and, currently, a plain
    * microsecond timestamp that needs no conversion. Dispatch on the
    * READ schema, not the generation: every downstream operator sees
    * one logical shape `(ts: timestamp)` either way.
    *
    * For the nanos encoding the legacy conf must be set at session
    * construction (all graft mains and the test harness do) — it
    * cannot be a per-read option, and setting it here as a side
    * effect would mutate session-global state out from under
    * concurrent readers. Fail fast with the fix instead. */
  def events: DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType =>
        require(
          spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
            .contains("true"),
          "events.parquet carries TIMESTAMP(NANOS): build the " +
            "SparkSession with spark.sql.legacy.parquet.nanosAsLong=true")
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // all graft sessions run UTC, so NTZ → TIMESTAMP is a pure
        // type re-tag (identical micros), and downstream time
        // functions (unix_micros, watermarks) keep working unchanged
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** [[documents]]/[[embeddings]] redistributed across the session's
    * cores when the scan is under-split — the guide's
    * unsplittable-input remedy ("one huge unsplittable file:
    * repartition immediately after the read", optimization guide
    * §2.5), for consumers whose per-row work dwarfs one round-robin
    * exchange of the table. A single-file single-row-group parquet
    * table yields ONE scan task no matter how many cores the session
    * has, so md5/shingle/rotation kernels over it run serial
    * (measured at sf0.1: q_curriculum_pack's scoring stage was
    * 1 task × 4.7 s on a 32-core session).
    *
    * Deliberately OPT-IN per call site, not the default read: for
    * cheap map-side consumers the added exchange plus the 32-way
    * task fan-out costs more than the serial scan (measured: a
    * 10-query cheap-consumer subset ran 15.6 s plain vs 30.8 s with
    * the redistribution forced table-wide). The gate — estimated
    * scan splits (the planner's packing arithmetic over file bytes)
    * below the session's default parallelism — makes both accessors
    * exact no-ops on production layouts, so plans at scale are
    * untouched; round-robin keeps results order-independent
    * (sortBeforeRepartition stays on for retry determinism), and
    * every oracle-checked consumer is partial-aggregation-order
    * independent by repo convention. */
  def documentsWide: DataFrame = parallelized(t("documents"), "documents")
  def embeddingsWide: DataFrame =
    parallelized(t("embeddings"), "embeddings")
  /** As the accessors above, for the profile family: the multi-
    * count_distinct Expand multiplies the (serial) scan's rows
    * ~12× before the first exchange, so the whole partial-aggregate
    * pass otherwise runs in the scan's one task. */
  def ordersWide: DataFrame = parallelized(t("orders"), "orders")

  private def parallelized(df: DataFrame, name: String): DataFrame = {
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    val files =
      try {
        val st = fs.getFileStatus(p)
        if (st.isDirectory)
          fs.listStatus(p).toSeq.filter(f => f.isFile &&
            !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
        else Seq(st)
      } catch { case _: java.io.FileNotFoundException => Seq.empty }
    val est = files.map(f =>
      math.max(1L, (f.getLen + maxSplit - 1) / maxSplit)).sum
    // Width is sized to WORK, not to cores (r18 verdict #4):
    // `repartition(defaultParallelism)` pinned the exchange to the
    // core count (REPARTITION_BY_NUM — AQE never coalesces it), so at
    // toy SFs every downstream stage fanned out to 32 tasks of a few
    // KB each; StageProbe measured the fan-out inflating tasktime
    // 5-7× (q_curriculum_pack 4.3 s at 8 tasks vs 22.7 s at 32, same
    // data) from per-task overhead + core oversubscription. The floor
    // is bytes-per-task: ~64 KB of compressed parquet text ≈ 0.25-1 MB
    // raw ≈ the ≥100 ms of heavy per-row work that amortizes one
    // task's scheduling cost. Production layouts are unaffected twice
    // over — the est<cores gate already no-ops there, and any input
    // past cores×64 KB (a few MB) still widens to all cores.
    val minTaskBytes = Tables.wideTaskBytes
    val bytes = files.map(_.getLen).sum
    if (est > 0 && est < cores) {
      val width = math.max(est,
        math.min(cores.toLong, (bytes + minTaskBytes - 1) / minTaskBytes))
        .toInt
      if (width > est) df.repartition(width) else df
    } else df
  }
}

object Tables {

  /** The `*Wide` accessors' bytes-per-task floor:
    * `SPARK_GRAFT_WIDE_TASK_BYTES`, default 64 KB. */
  private[graft] def wideTaskBytes: Long =
    positiveLong("SPARK_GRAFT_WIDE_TASK_BYTES",
      sys.env.get("SPARK_GRAFT_WIDE_TASK_BYTES"), 65536L)

  /** `raw` as a positive count; `default` when unset. A malformed or
    * non-positive value fails here, naming the variable, instead of
    * as a `NumberFormatException` inside a read path. */
  private[graft] def positiveLong(name: String, raw: Option[String],
                                   default: Long): Long =
    raw.fold(default) { v =>
      v.trim.toLongOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'"))
    }
}
