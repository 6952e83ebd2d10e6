package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Directory-partitioned store maintenance — the sibling of
  * [[Bucketing]] for stores whose scale win is READ SUPPRESSION
  * rather than shuffle elision. A store written `partitionBy(key)`
  * lets every later scan with a key predicate (static or dynamic —
  * Spark's dynamic partition pruning derives one from a broadcast
  * join side) read only the matching directories: the IVF inverted
  * file ([[graft.operators.Similarity.ivfAssignments]], partitioned
  * by centroid id) is the canonical case — a probe reads
  * |corpus|·nProbe/numCentroids bytes, not the corpus.
  *
  * The maintenance story mirrors [[Bucketing]]'s, with one structural
  * advantage: a partition DIRECTORY can be rewritten alone. Bucketed
  * compaction is all-or-nothing (bucket membership lives in file
  * names across the whole table), so [[Bucketing.compactIfFragmented]]
  * pays a full-store rewrite; here [[compactIfFragmented]] rewrites
  * ONLY the directories whose fragment count exceeds the bound
  * (dynamic partition overwrite), so the periodic compaction cost is
  * proportional to the fragmented slice, not the store. N daily
  * appends cost N batch-sized writes + occasional partition-sized
  * rewrites — never a corpus-sized one.
  *
  * Directory-count discipline at 100 TB: partition values should
  * number thousands-to-tens-of-thousands (IVF centroid counts land
  * here naturally); a higher-cardinality key belongs in [[Bucketing]]
  * instead, where the key space folds into a fixed bucket count. */
object PartitionedStore {

  /** Write `df` partitioned by `partCol`. The `repartition` on the
    * partition column is load-bearing exactly as in
    * [[Bucketing.writeBucketed]]: `partitionBy` alone makes every
    * write task emit one file into EVERY directory whose value it
    * holds — an unpartitioned `t`-task upstream writes up to
    * t × |values| fragments. Hash-repartitioning on the key first
    * sends each value to one task, so each directory receives exactly
    * one file per write (`writeParallelism` tasks' worth when a
    * single value outgrows one task's write).
    *
    * An input plan that READS `path` must not Overwrite `path` in
    * place: parquet deletes the old files before the lazy input scan
    * finishes reading them (FAILED_READ_FILE mid-write). A
    * maintenance rewrite whose input derives from the store — the
    * IVF refresh ([[graft.operators.Similarity.ivfRefreshCentroids]])
    * is the canonical case — writes a SUCCESSOR directory and swaps
    * readers over, [[graft.etl.VersionStore]]'s discipline; that also
    * keeps in-flight readers of the old layout isolated during a
    * corpus-sized rewrite. ([[overwritePartitions]] is exempt: dynamic
    * partition overwrite stages output in a staging directory and the
    * slice is read fully into the shuffle before any commit replaces a
    * directory.) */
  def write(df: DataFrame, path: String, partCol: String,
            mode: SaveMode = SaveMode.Overwrite,
            writeParallelism: Int = 1): Unit =
    writer(df, partCol, writeParallelism).mode(mode).parquet(path)

  /** [[write]] replacing only the partition directories `df` holds:
    * dynamic partition overwrite as an option of this write alone, so
    * no other overwrite planned meanwhile gets dynamic semantics. */
  private[graft] def overwritePartitions(df: DataFrame, path: String,
                                         partCol: String,
                                         writeParallelism: Int): Unit =
    writer(df, partCol, writeParallelism).mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic").parquet(path)

  private def writer(df: DataFrame, partCol: String,
                     writeParallelism: Int): DataFrameWriter[Row] = {
    require(writeParallelism >= 1, "writeParallelism must be >= 1")
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    StoreWriter(df.repartition(parts * writeParallelism, col(partCol)))
      .partitionBy(partCol)
  }

  /** Fold a batch into an existing store: value-aligned append —
    * each touched directory gains `writeParallelism` files, untouched
    * directories gain none. Bound the accumulation with
    * [[compactIfFragmented]]. */
  def append(df: DataFrame, path: String, partCol: String,
             writeParallelism: Int = 1): Unit =
    write(df, path, partCol, SaveMode.Append, writeParallelism)

  /** Data-file count per partition value, from a directory listing —
    * metadata only, no data scan. The max over values is the
    * per-probe file-open amplification [[compactIfFragmented]]
    * bounds. */
  def filesPerPartition(spark: SparkSession, path: String,
                        partCol: String): Map[String, Int] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = s"$partCol="
    fs.listStatus(root).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map { d =>
        d.getPath.getName.stripPrefix(prefix) ->
          FooterSchema.dataFiles(fs.listStatus(d.getPath).toSeq).size
      }.toMap
  }

  /** Rewrite ONLY the directories whose fragment count exceeds
    * `maxFragments` back to `writeParallelism` files each; no-op
    * (empty) below the bound. Returns the rewritten partition
    * values. Uses dynamic partition overwrite, so directories not in
    * the compacted frame are untouched — the cost is proportional to
    * the fragmented slice. The rewrite reads each fragmented
    * directory fully before replacing it; Spark stages output in
    * `_temporary` and commits per-directory, so a failed compaction
    * leaves the old files in place. */
  def compactIfFragmented(spark: SparkSession, path: String,
                          partCol: String, maxFragments: Int = 16,
                          writeParallelism: Int = 1): Seq[String] = {
    require(maxFragments >= 1, "maxFragments must be >= 1")
    val frag = filesPerPartition(spark, path, partCol)
      .filter(_._2 > maxFragments).keys.toSeq.sorted
    if (frag.isEmpty) Seq.empty
    else {
      // read through the partition column's parquet-inferred type:
      // the isin prunes statically, so only fragmented dirs are read
      overwritePartitions(spark.read.parquet(path)
        .where(col(partCol).cast("string").isin(frag: _*)),
        path, partCol, writeParallelism)
      frag
    }
  }

  /** The daily maintenance entry: value-aligned append of the day's
    * rows, then partition-selective compaction past the fragment
    * bound. Returns the partition values the append tripped into a
    * rewrite (empty almost every day — that is the point). */
  def appendAndMaintain(df: DataFrame, path: String, partCol: String,
                        maxFragments: Int = 16,
                        writeParallelism: Int = 1): Seq[String] = {
    append(df, path, partCol, writeParallelism)
    compactIfFragmented(df.sparkSession, path, partCol, maxFragments,
      writeParallelism)
  }
}
