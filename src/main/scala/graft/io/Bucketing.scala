package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table layout control — the storage-side half of the
  * shuffle story SURVEY §5 tells. Every join/agg keyed on a fact
  * table's join column pays a full shuffle of that table PER QUERY;
  * bucketing pays the shuffle ONCE at write time and every subsequent
  * equi-join or aggregate on the bucket key reads co-located files
  * with no exchange in the plan at all (the bucketed scan reports
  * `HashPartitioning(bucket cols)`, so `EnsureRequirements` inserts
  * nothing). At 100 TB that converts the nightly "join facts to the
  * conformed dim snapshot" from a corpus-wide shuffle into a scan —
  * the single biggest recurring cost in a pipeline like the
  * reference's census join (ukg_open_census.py:331-352), which re-keys
  * the same fact table every run.
  *
  * Rules of use at scale:
  *  - both sides of a co-located join need the SAME bucket count and
  *    key (Spark does not ratio-match bucket counts across tables);
  *  - bucket count sizes files: target ~(table size / buckets) ≈
  *    128-512 MB per bucket file per partition-dir;
  *  - `sortBy` makes each bucket file sorted so a sort-merge join can
  *    skip its sort phase when one file per bucket is read;
  *  - bucket pruning applies to point predicates on the bucket key
  *    (`spark.sql.sources.bucketing.enabled`, on by default).
  */
object Bucketing {

  /** Write `df` as a bucketed (optionally per-file-sorted) managed
    * parquet table. The write itself shuffles by the bucket key — that
    * is the one-time cost every later co-located join amortizes.
    *
    * The explicit `repartition` on the bucket keys is load-bearing:
    * `bucketBy` alone makes EVERY write task emit a file per bucket
    * it sees — an unpartitioned upstream with `t` tasks yields up to
    * `t × buckets` fragments, and the bucketed scan (one
    * non-splittable task per bucket) then pays `t` file opens per
    * task. Hash-repartitioning to `n × buckets` partitions on the
    * same keys aligns partition → bucket exactly (both sides use
    * Murmur3 `pmod`: a row's partition id fixes its bucket id), so
    * each task writes ONE bucket-pure file — `writeParallelism`
    * (default 1) is that `n`, raised when a single 1/buckets corpus
    * slice exceeds one task's worth of write work. Measured at sf1
    * ×10 (StoreBench, 3.8M-row index from a 320-partition upstream):
    * fragment count 10k → 32 and the bucketed-arm increment join went
    * from 2.1× SLOWER than plain parquet to the expected win. */
  def writeBucketed(df: DataFrame, table: String,
                    keys: Seq[String], buckets: Int,
                    sortCols: Seq[String] = Nil,
                    mode: SaveMode = SaveMode.Overwrite,
                    writeParallelism: Int = 1): Unit = {
    require(keys.nonEmpty, "bucket keys must be non-empty")
    require(buckets >= 1, "bucket count must be >= 1")
    require(writeParallelism >= 1, "writeParallelism must be >= 1")
    import org.apache.spark.sql.functions.col
    val w = df.repartition(buckets * writeParallelism, keys.map(col): _*)
      .write.mode(mode).format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
     else w).saveAsTable(table)
  }

  /** Join two bucketed tables on their shared bucket key. This is a
    * PLAIN equi-join — the method exists to document the contract:
    * when both tables were written by [[writeBucketed]] with the same
    * `keys` and `buckets`, the physical plan contains no shuffle
    * exchange on either side (spec-asserted in BucketingSpec). */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
                    keys: Seq[String],
                    joinType: String = "inner"): DataFrame =
    spark.table(left).join(spark.table(right), keys, joinType)

  /** Fold a day's rows INTO an existing bucketed store — the
    * maintenance half of the bucketed-index architecture
    * (`Dedup.bandIndex` / `Similarity.signBandIndex` stores): without
    * it a daily pipeline must either rewrite the full store per day
    * (a corpus-sized write for a batch-sized delta) or append
    * unaligned and fragment into writeTasks × buckets files — the
    * exact failure [[writeBucketed]] closes at initial-write time,
    * reappearing incrementally.
    *
    * The append is bucket-ALIGNED (same pre-repartition as the
    * initial write), so each call adds exactly `writeParallelism`
    * files per bucket, and Spark refuses a mismatched bucket spec
    * outright — the store's layout contract survives every append.
    * Appends never break the zero-exchange join property (bucket
    * membership is file-name metadata, not file contents;
    * spec-asserted after N appends in BucketingSpec); what they DO
    * grow is files/bucket, i.e. opens per scan task — bound it with
    * [[compactIfFragmented]]. */
  def appendBucketed(df: DataFrame, table: String,
                     keys: Seq[String], buckets: Int,
                     sortCols: Seq[String] = Nil,
                     writeParallelism: Int = 1): Unit =
    writeBucketed(df, table, keys, buckets, sortCols, SaveMode.Append,
      writeParallelism)

  /** Filesystem location of a managed table (public `DESC FORMATTED`
    * route — one metadata row, no data motion). */
  def tableLocation(spark: SparkSession, table: String): String = {
    import org.apache.spark.sql.functions.col
    spark.sql(s"DESC FORMATTED $table")
      .where(col("col_name") === "Location")
      .head().getString(1)
  }

  /** Data-file count per bucket id of a bucketed table, read from the
    * file NAMES (`part-…_00003.c000…` carries the bucket id) — a
    * metadata listing, never a data scan. The max over buckets is the
    * per-scan-task open count, the quantity [[compactIfFragmented]]
    * bounds. */
  def filesPerBucket(spark: SparkSession, table: String): Map[Int, Int] = {
    val loc = new org.apache.hadoop.fs.Path(tableLocation(spark, table))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketId = "_([0-9]{5})\\.".r
    FooterSchema.dataFiles(fs.listStatus(loc).toSeq)
      .flatMap(s => bucketId.findFirstMatchIn(s.getPath.getName)
        .map(_.group(1).toInt))
      .groupBy(identity).map { case (b, xs) => b -> xs.size }
  }

  /** Rewrite the store to `writeParallelism` files per bucket IF any
    * bucket's fragment count exceeds `maxFragments`; no-op (false)
    * otherwise. The rewrite is the one corpus-sized cost in the
    * append/compact cycle and runs once per ~`maxFragments` days, so
    * the amortized daily maintenance stays batch-sized: N days cost
    * N appends + N/maxFragments rewrites, vs N full rewrites without
    * the append path. Swap is write-aside (`table__compacting`), then
    * drop + rename — the store never exists half-written under its
    * own name.
    *
    * The rewrite reads the store by PATH, not by table name, and that
    * is load-bearing: a TABLE read reports the bucketed
    * `HashPartitioning`, so `EnsureRequirements` elides the aligning
    * repartition exchange as redundant — and then
    * `DisableUnnecessaryBucketedScan` (which does not treat a
    * bucketed WRITE as needing the distribution) turns the scan into
    * a plain size-coalesced file read. Net effect: no exchange, no
    * bucket-aligned tasks, and the "compacted" store comes out MORE
    * fragmented (measured: 4 → 3 files/bucket instead of 1). The
    * path read reports unknown partitioning, so the exchange stays
    * and each task writes one bucket-pure file. */
  def compactIfFragmented(spark: SparkSession, table: String,
                          keys: Seq[String], buckets: Int,
                          sortCols: Seq[String] = Nil,
                          maxFragments: Int = 16,
                          writeParallelism: Int = 1): Boolean = {
    require(maxFragments >= 1, "maxFragments must be >= 1")
    val worst = filesPerBucket(spark, table).values.maxOption.getOrElse(0)
    if (worst <= maxFragments) false
    else {
      val tmp = s"${table}__compacting"
      spark.sql(s"DROP TABLE IF EXISTS $tmp")
      writeBucketed(spark.read.parquet(tableLocation(spark, table)),
        tmp, keys, buckets, sortCols, writeParallelism = writeParallelism)
      spark.sql(s"DROP TABLE $table")
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
      true
    }
  }

  /** The daily store-maintenance entry: bucket-aligned append of the
    * day's accepted rows, then a bounded-fragmentation check. Returns
    * true when the append tripped a compaction. This is what keeps a
    * [[graft.operators.Dedup.bandIndex]] /
    * [[graft.operators.Similarity.signBandIndex]] store joinable with
    * zero store-side exchange AND boundedly many file opens per task
    * on day N, at day-1 cost (StoreBench's day-N arm prices it). */
  def appendAndMaintain(df: DataFrame, table: String,
                        keys: Seq[String], buckets: Int,
                        sortCols: Seq[String] = Nil,
                        maxFragments: Int = 16,
                        writeParallelism: Int = 1): Boolean = {
    appendBucketed(df, table, keys, buckets, sortCols, writeParallelism)
    compactIfFragmented(spark = df.sparkSession, table = table,
      keys = keys, buckets = buckets, sortCols = sortCols,
      maxFragments = maxFragments, writeParallelism = writeParallelism)
  }
}
