package graft

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.io.{DataSkipping, SkipScan}
import graft.io.DataSkipping._

/** File-level min/max data-skipping contracts: footer stats equal a
  * scan-based oracle per file, pruning keeps measurably FEWER files
  * than present while the pruned read + data predicate equals the
  * full-scan read (the superset contract), and every conservatism
  * rule holds — unknown files, marker-less frames, stats-less
  * columns (INT96 timestamps), and all-null groups all KEEP files.
  * Skipping may only ever remove work, never rows. */
class DataSkippingSpec extends GraftSuite {
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft_skip_$name").toFile
    d.delete()
    d.getAbsolutePath
  }

  /** 10k rows, ids dense 0..9999, v = id/10.0, s = zero-padded id
    * (so string order == numeric order), d = day id/100, nulls in
    * `nv` only for id % 100 == 0. */
  private def corpus: DataFrame =
    spark.range(10000).select(
      col("id"),
      (col("id") / 10.0).as("v"),
      format_string("s%05d", col("id")).as("s"),
      date_add(lit(Date.valueOf("2024-01-01")),
        (col("id") / 100).cast("int")).as("d"),
      when(col("id") % 100 === 0, lit(null))
        .otherwise(col("id")).as("nv"))

  test("footer stats equal a scan-based per-file oracle") {
    val dir = tmpDir("oracle")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 16,
      statsCols = Seq("id", "v", "s", "d", "nv"))
    // key per-file rows by file NAME — listDataFiles' Path.toString
    // and _metadata.file_path render the same local path as
    // different URI shapes (file:/ vs file:///)
    val stats = statsFrame(spark, dir).get.collect()
      .map(r => r.getString(0).split('/').last -> r).toMap
    // the oracle READS the data: group by the metadata file path
    val scan = spark.read.parquet(dir)
      .groupBy(regexp_extract(col("_metadata.file_path"),
        "[^/]+$", 0).as("file"))
      .agg(count(lit(1)).as("rows"),
        min("id").as("min_id"), max("id").as("max_id"),
        min("v").as("min_v"), max("v").as("max_v"),
        min("s").as("min_s"), max("s").as("max_s"),
        min("d").as("min_d"), max("d").as("max_d"),
        min("nv").as("min_nv"), max("nv").as("max_nv"),
        sum(when(col("nv").isNull, 1L).otherwise(0L)).as("nulls_nv"))
      .collect()
    assert(scan.nonEmpty && scan.length == stats.size)
    scan.foreach { r =>
      val s = stats(r.getString(0))
      assert(s.getLong(s.fieldIndex("rows")) == r.getLong(1))
      for (c <- Seq("id", "v", "s", "d", "nv")) {
        assert(s.get(s.fieldIndex(s"min_$c")) ==
          r.get(r.fieldIndex(s"min_$c")), s"min_$c of ${r.getString(0)}")
        assert(s.get(s.fieldIndex(s"max_$c")) ==
          r.get(r.fieldIndex(s"max_$c")), s"max_$c of ${r.getString(0)}")
      }
      assert(s.getLong(s.fieldIndex("nulls_nv")) ==
        r.getLong(r.fieldIndex("nulls_nv")))
      assert(s.getLong(s.fieldIndex("nulls_id")) == 0L)
    }
  }

  test("sorted and z-ordered layouts depend on the input alone") {
    // per file: (rows, min id, max id), in file-name order
    def layout(dir: String) = spark.read.parquet(dir)
      .groupBy(regexp_extract(col("_metadata.file_path"), "[^/]+$", 0)
        .as("file"))
      .agg(count(lit(1)), min("id"), max("id"))
      .orderBy("file").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    def sorted() = {
      val dir = tmpDir("layout_sorted")
      writeSorted(corpus, dir, Seq("id"), numFiles = 16)
      layout(dir)
    }
    def zordered() = {
      val dir = tmpDir("layout_z")
      writeZOrderedWithStats(corpus, dir, Seq("id", "v"), numFiles = 8)
      layout(dir)
    }
    val (s1, z1) = (sorted(), zordered())
    // RDDs made between the writes must not move a boundary
    (1 to 7).foreach(i => spark.sparkContext.parallelize(1 to i).count())
    assert(sorted() == s1)
    assert(zordered() == z1)
    // the 10k-row input fits the sample: exact quantiles, 625 rows a
    // file in id order, disjoint
    assert(s1 == (0 until 16).map(k => (625L, 625L * k, 625L * k + 624)))
  }

  private def skipRead(dir: String): DataFrame =
    spark.read.format("graft.io.SkipDataSource").load(dir)

  /** One pruned-read case: the predicate, the check on the scan's
    * plan-time (kept, total) file counts, and the exact row count. */
  private case class Prunes(where: Column, kept: (Int, Int) => Boolean,
                            rows: Long)

  /** Each case read through the skipping scan of `dir`: the planned
    * scan's kept count passes the case's check, and the rows are the
    * unpruned read's, exactly. Returns each case's witness. */
  private def checkPrunes(dir: String, cases: Prunes*): Seq[SkipScan.Prune] =
    cases.map { c =>
      val df = skipRead(dir).where(c.where)
      val got = df.collect() // df's OWN execution: its witness is read next
      val p = pruneOf(df, dir)
      assert(c.kept(p.keptStatic, p.total),
        s"${c.where}: kept ${p.keptStatic} of ${p.total} files")
      assert(got.length == c.rows, s"${c.where}: ${got.length} rows")
      assert(got.toSet ==
        spark.read.parquet(dir).where(c.where).collect().toSet,
        s"${c.where}: rows differ from the unpruned read")
      p
    }

  test("range prune keeps fewer files and the pruned read is exact") {
    val dir = tmpDir("range")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 16,
      statsCols = Seq("id", "d"))
    // a 301-id slice of a 10k corpus over 16 sorted files touches at
    // most 2 (one boundary straddle) — the measured-count discipline
    checkPrunes(dir, Prunes(col("id").between(100, 400),
      (k, t) => t == 16 && k >= 1 && k <= 2, 301))
  }

  test("date and string predicates prune too") {
    val dir = tmpDir("types")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 16,
      statsCols = Seq("d", "s"))
    checkPrunes(dir,
      Prunes(col("d").between(lit("2024-01-11"), lit("2024-01-20")),
        (k, t) => k < t, 1000),
      Prunes(col("s") === "s00042", (k, _) => k == 1, 1))
  }

  test("and/or compose; disjoint range prunes everything, exactly") {
    val dir = tmpDir("compose")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 8,
      statsCols = Seq("id"))
    checkPrunes(dir,
      Prunes(col("id").between(20000, 30000), (k, _) => k == 0, 0),
      Prunes(col("id") <= 10 || col("id") >= 9990,
        (k, t) => k == 2 && t == 8, 21),
      Prunes(col("id").between(0, 5000) && col("id").between(4000, 9000),
        (k, t) => k < t, 1001))
    // nothing kept still reads back with the store's schema
    assert(skipRead(dir).where(col("id") > 20000).schema ==
      spark.read.parquet(dir).schema)
  }

  test("IsNull prunes to the files that hold nulls") {
    val dir = tmpDir("nulls")
    writeSortedWithStats(corpus.where(col("id") < 250 ||
        (col("id") % 100 =!= 0)), dir, Seq("id"), numFiles = 10,
      statsCols = Seq("nv"))
    // nulls (id % 100 == 0) survive only below 250 → first file(s)
    checkPrunes(dir, Prunes(col("nv").isNull, (k, t) => k < t, 3))
  }

  test("unknown files are conservatively kept (late append)") {
    val dir = tmpDir("append")
    writeSortedWithStats(corpus.where(col("id") < 5000), dir,
      Seq("id"), numFiles = 8, statsCols = Seq("id"))
    // a foreign writer appends out-of-band — stats never saw it
    corpus.where(col("id") >= 9000).coalesce(1)
      .write.mode(SaveMode.Append).parquet(dir)
    // the unknown file alone survives
    checkPrunes(dir, Prunes(col("id").between(9500, 9600),
      (k, t) => k == 1 && t == 9, 101))
  }

  test("refreshStats: appends collect only new footers; vanished files drop") {
    val dir = tmpDir("refresh")
    writeSortedWithStats(corpus.where(col("id") < 5000), dir,
      Seq("id"), numFiles = 8, statsCols = Seq("id"))
    // two appended batches the committed frame has never seen
    corpus.where(col("id").between(5000, 7499)).coalesce(1)
      .write.mode(SaveMode.Append).parquet(dir)
    corpus.where(col("id") >= 7500).coalesce(1)
      .write.mode(SaveMode.Append).parquet(dir)
    // before refresh: unknown files are kept conservatively — an
    // out-of-range pred still reads them
    checkPrunes(dir, Prunes(col("id").between(0, 10), (k, _) => k == 3, 11))
    val collected = refreshStats(spark, dir, Seq("id"))
    assert(collected == 2, s"collected $collected new files")
    // after refresh: the appended files carry stats and prune
    checkPrunes(dir,
      Prunes(col("id").between(0, 10), (k, t) => t == 10 && k == 1, 11),
      Prunes(col("id").between(6000, 6100), (k, t) => k < t, 101))
    // a no-change refresh is a no-op
    assert(refreshStats(spark, dir, Seq("id")) == 0)
    // vanished files (compaction) drop from the frame
    val victim = statsFrame(spark, dir).get.select("file")
      .head().getString(0)
    graft.io.MarkerCommit.deleteRecursively(victim)
    refreshStats(spark, dir, Seq("id"))
    val files = statsFrame(spark, dir).get.select("file").collect()
      .map(_.getString(0)).toSet
    assert(!files.contains(victim) && files.size == 9)
  }

  test("no committed stats frame = no pruning, never an error") {
    val dir = tmpDir("nostats")
    DataSkipping.writeSorted(corpus, dir, Seq("id"), numFiles = 4)
    val keepsAll = Prunes(col("id").between(0, 1),
      (k, t) => k == t && t == 4, 2)
    checkPrunes(dir, keepsAll)
    // a marker-less (crashed) stats frame is ignored the same way
    writeStats(spark, dir, Seq("id"))
    graft.io.MarkerCommit.deleteRecursively(
      s"$dir/_filestats/_STATS_OK")
    assert(statsFrame(spark, dir).isEmpty)
    checkPrunes(dir, keepsAll)
  }

  test("INT96 timestamps carry no stats and never prune; micros do") {
    val dir96 = tmpDir("ts96")
    val dirUs = tmpDir("tsus")
    val base = 1704067200L // 2024-01-01 00:00:00 UTC, epoch-pinned
    val withTs = corpus.select(col("id"),
      timestamp_seconds(lit(base) + col("id")).as("ts"))
    val prev = spark.conf.getOption(
      "spark.sql.parquet.outputTimestampType").getOrElse("INT96")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      writeSortedWithStats(withTs, dir96, Seq("id"), 8, Seq("ts"))
      spark.conf.set("spark.sql.parquet.outputTimestampType",
        "TIMESTAMP_MICROS")
      writeSortedWithStats(withTs, dirUs, Seq("id"), 8, Seq("ts"))
    } finally
      spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    val minute = col("ts").between(timestamp_seconds(lit(base + 60)),
      timestamp_seconds(lit(base + 120)))
    // INT96 must keep every file; micros timestamps must prune
    checkPrunes(dir96, Prunes(minute, (k, t) => k == t, 61))
    checkPrunes(dirUs, Prunes(minute, (k, t) => k < t, 61))
  }

  test("directory-partitioned store: basePath keeps the layout column") {
    val dir = tmpDir("part")
    val df = corpus.withColumn("p", (col("id") % 4).cast("int"))
    df.repartition(4, col("p")).sortWithinPartitions("id")
      .write.partitionBy("p").parquet(dir)
    writeStats(spark, dir, Seq("id"))
    checkPrunes(dir, Prunes(col("id") <= 100, (k, t) => k <= t, 101))
    val got = skipRead(dir).where(col("id") <= 100)
    assert(got.columns.contains("p"), "partition column must survive")
    assert(got.groupBy("p").count().count() == 4)
  }

  test("decimal stats columns are rejected loudly") {
    val dir = tmpDir("dec")
    corpus.select(col("id"),
        col("v").cast("decimal(18,2)").as("dv"))
      .coalesce(2).write.parquet(dir)
    val e = intercept[Exception](writeStats(spark, dir, Seq("dv")))
    assert(e.getMessage.contains("unsupported type"))
  }

  // -----------------------------------------------------------------
  // r15: pushed-filter skipping, the foreign-timestamp-unit / NTZ /
  // NaN advice fixes, and the refreshStats schema-evolution contract.
  // -----------------------------------------------------------------

  test("FileIndex: pushed filters prune the scan's file listing; rows exact") {
    val dir = tmpDir("fidx")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 16,
      statsCols = Seq("id", "d", "s", "nv"))
    val prunes = (k: Int, t: Int) => k < t
    val keepsAll = (k: Int, t: Int) => k == t
    val any = (_: Int, _: Int) => true
    checkPrunes(dir,
      Prunes(col("id").between(100, 200), prunes, 101),
      // strings, dates, IN, IsNull all translate and prune/keep right
      Prunes(col("d") === lit(Date.valueOf("2024-01-15")), prunes, 100),
      Prunes(col("id").isin(5L, 6L, 9999L), prunes, 3),
      Prunes(col("nv").isNull, any, 100),
      // an untranslatable predicate (function of the column) keeps all
      // files — and still returns exact rows
      Prunes(abs(col("id") - 150) <= 50, keepsAll, 101),
      // OR: both arms translate => prunes; one arm opaque => keeps all
      Prunes(col("id") < 50 || col("id") > 9950, prunes, 99),
      Prunes(col("id") < 50 || abs(col("id")) > 99999, keepsAll, 50),
      // prefix LIKE prunes on the string column (UTF-8 prefix bounds):
      // s is zero-padded so 's00123%' lands in one sorted file
      Prunes(col("s").startsWith("s00123"), prunes, 1),
      Prunes(col("s").startsWith("s"), any, 10000))
  }

  test("FileIndex: late appends are conservatively kept; no stats = no pruning") {
    val dir = tmpDir("fidx_append")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 8,
      statsCols = Seq("id"))
    // a foreign append the stats frame has never seen — ids far
    // outside every committed file's range
    spark.range(90000, 90100).select(
        col("id"), (col("id") / 10.0).as("v"),
        format_string("s%05d", col("id")).as("s"),
        date_add(lit(Date.valueOf("2024-01-01")), 3).as("d"),
        col("id").as("nv"))
      .coalesce(1).write.mode(SaveMode.Append).parquet(dir)
    // rows in an unknown file must survive the prune
    checkPrunes(dir, Prunes(col("id") >= 90000, (k, _) => k == 1, 100))

    // no committed stats at all: every file listed, reads exact
    val bare = tmpDir("fidx_bare")
    corpus.coalesce(4).write.parquet(bare)
    checkPrunes(bare, Prunes(col("id") < 10, (k, t) => k == t, 10))
  }

  test("partitioned FileIndex: directory pruning and file-stats pruning compose") {
    val dir = tmpDir("fidx_part")
    // hive layout p=0..3, sorted by id inside each partition, stats
    // on id at the root (partition col lives in the PATH, not the
    // footers — exactly the two-level Delta shape)
    val df = corpus.withColumn("p", (col("id") % 4).cast("int"))
    df.repartitionByRange(16, col("p"), col("id"))
      .sortWithinPartitions("p", "id")
      .write.partitionBy("p").parquet(dir)
    writeStats(spark, dir, Seq("id"))
    // partition filter alone: directories drop, no file inside them
    val Seq(pOnly) = checkPrunes(dir,
      Prunes(col("p") === 1, (k, t) => k < t, 2500))
    assert(pOnly.total >= 8,
      s"want a multi-file-per-partition layout: ${pOnly.total}")
    assert(pOnly.keptStatic == pOnly.keptPartition)
    // partition filter + tracked data column: ONE scan's witness shows
    // files dropping INSIDE the kept directory
    val Seq(both) = checkPrunes(dir,
      Prunes(col("p") === 1 && col("id").between(100, 200),
        (k, _) => k >= 1, 25))
    assert(both.keptPartition == pOnly.keptPartition)
    assert(both.keptStatic < both.keptPartition,
      s"stats pruning must compose on top of partition pruning: $both")
    // data-column filter alone still prunes files across partitions,
    // and the partition column survives in the output schema
    checkPrunes(dir, Prunes(col("id") === 9999, (k, t) => k < t, 1))
    assert(skipRead(dir).where(col("id") === 9999).columns.contains("p"))
  }

  test("partitioned FileIndex: dynamic partition pruning composes (join-driven)") {
    import spark.implicits._
    val dir = tmpDir("fidx_dpp")
    val df = corpus.withColumn("p", (col("id") % 4).cast("int"))
    df.repartitionByRange(16, col("p"), col("id"))
      .sortWithinPartitions("p", "id")
      .write.partitionBy("p").parquet(dir)
    writeStats(spark, dir, Seq("id"))
    // a 1-row dim selects partition 2 at RUNTIME — DPP delivers the
    // partition key set to the scan from the broadcast result. DPP
    // requires a SELECTIVE predicate on the filtering side (a bare dim
    // never qualifies) — and the dim must be a REAL relation: a
    // filtered LocalRelation constant-folds away before the DPP rule
    // sees the filter. The standard star-join shape: dim scanned +
    // filtered, fact pruned by the join key at runtime
    val dimDir = tmpDir("fidx_dpp_dim")
    Seq((2, "keep"), (3, "drop")).toDF("p", "tag")
      .write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).where(col("tag") === "keep")
    val (rows, prune, plan) = withDppFallback {
      val j = skipRead(dir).join(dim, "p")
      val r = j.collect() // j's OWN QueryExecution: the filter fires
      (r, pruneOf(j, dir), j.queryExecution.executedPlan.toString)
    }
    assert(rows.length == 2500)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a DPP filter in the plan:\n${plan.take(3000)}")
    // the runtime partition filter pruned directories: files kept < the
    // full store, measured on the scan's own witness
    assert(prune.runtimeFilterSeen && prune.keptRuntime > 0 &&
      prune.keptRuntime < prune.total, s"DPP did not prune: $prune")
  }

  test("VersionStore.latestIndexed: optimizeSorted output serves pruned plans") {
    import graft.etl.VersionStore
    val root = tmpDir("vs_idx")
    VersionStore.write(corpus.repartition(8), root)
    // plain latest (no stats on v0): falls back, full listing
    assert(VersionStore.latestIndexed(spark, root).count() == 10000)
    VersionStore.optimizeSorted(spark, root, Seq("id"), minFiles = 8)
    val pruned = VersionStore.latestIndexed(spark, root)
      .where(col("id").between(100, 200))
    val vdir = s"$root/v=${VersionStore.versions(spark, root).max}"
    val prune = pruneOf(pruned, vdir)
    assert(prune.keptStatic < prune.total,
      s"pushed range must prune the optimized version's files: $prune")
    assert(pruned.count() == 101)
  }

  test("foreign TIMESTAMP_MILLIS files collect no bounds and never prune") {
    val dir = tmpDir("tsms")
    val base = 1704067200L
    val withTs = corpus.select(col("id"),
      timestamp_seconds(lit(base) + col("id")).as("ts"))
    val prev = spark.conf.getOption(
      "spark.sql.parquet.outputTimestampType").getOrElse("INT96")
    try {
      // the foreign-writer unit: INT64 annotated MILLIS — decoding
      // its stats as micros would shrink bounds 1000x and prune
      // files that HOLD matching rows (the r14 advice's row-loss)
      spark.conf.set("spark.sql.parquet.outputTimestampType",
        "TIMESTAMP_MILLIS")
      writeSortedWithStats(withTs, dir, Seq("id"), 8, Seq("ts"))
    } finally
      spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    // MILLIS-annotated timestamps carry no trustworthy micros bound
    checkPrunes(dir, Prunes(col("ts").between(
      timestamp_seconds(lit(base + 60)),
      timestamp_seconds(lit(base + 120))), (k, t) => k == t, 61))
  }

  test("TIMESTAMP_NTZ stats decode to LocalDateTime and prune") {
    val dir = tmpDir("ntz")
    val base = 1704067200L
    val withTs = corpus.select(col("id"),
      timestamp_seconds(lit(base) + col("id"))
        .cast("timestamp_ntz").as("ts"))
    writeSortedWithStats(withTs, dir, Seq("id"), 8, Seq("ts"))
    def ldt(off: Long) = java.time.LocalDateTime.ofEpochSecond(
      base + off, 0, java.time.ZoneOffset.UTC)
    checkPrunes(dir, Prunes(col("ts").between(lit(ldt(60)), lit(ldt(120))),
      (k, t) => k < t, 61))
  }

  test("NaN bounds keep every file (parquet stats exclude NaN)") {
    val dir = tmpDir("nan")
    val withNaN = spark.range(100).select(col("id"),
      when(col("id") === 7, lit(Double.NaN))
        .otherwise(col("id").cast("double")).as("x"))
    writeSortedWithStats(withNaN, dir, Seq("id"), 4, Seq("x"))
    // Spark's semantics: NaN = NaN is TRUE — the row must survive, so
    // a NaN bound must not prune
    checkPrunes(dir, Prunes(col("x") === lit(Double.NaN),
      (k, t) => k == t, 1))
  }

  test("newerThanStore: the watermark gate prunes files; NULL watermark passes everything") {
    val dir = tmpDir("wm")
    writeSortedWithStats(corpus.select("id", "nv"), dir, Seq("id"),
      numFiles = 8, statsCols = Seq("id"))
    // processed high-water mark: ids <= 8999 seen — the daily
    // increment reads O(new files), not the store
    val processed = spark.range(9000).toDF("id")
    val inc = graft.etl.Snapshot.newerThanStore(spark, dir, "id",
      processed, col("id"))
    val prune = pruneOf(inc, dir)
    assert(prune.keptStatic < prune.total,
      s"watermark literal must prune at-or-before files: $prune")
    assert(inc.count() == 1000)
    assert(inc.agg(min("id")).head().getLong(0) == 9000)
    // bootstrap: an empty processed frame aggregates to a NULL
    // watermark, which must pass the FULL store through
    val boot = graft.etl.Snapshot.newerThanStore(spark, dir, "id",
      processed.where(lit(false)), col("id"))
    assert(boot.count() == 10000)
  }

  test("mergePartitioned refreshes a committed stats frame after the rewrite") {
    import spark.implicits._
    val dir = tmpDir("merge_stats")
    val base = spark.range(1000).select(
      col("id").as("k"), (col("id") % 4).cast("int").as("p"),
      lit(1L).as("v"), lit(0L).as("ts"))
    base.write.partitionBy("p").parquet(dir)
    writeStats(spark, dir, Seq("k"))
    val before = statsFrame(spark, dir).get.collect()
      .map(_.getString(0)).toSet
    // a change batch touching partition 1 only
    val changes = Seq((1L, 1, 99L, 5L), (401L, 1, 99L, 5L))
      .toDF("k", "p", "v", "ts")
    graft.etl.Merge.mergePartitioned(spark, dir, changes,
      Seq("k"), col("ts"), col("v"), partCol = "p")
    // the frame recommitted: vanished (rewritten) files dropped,
    // the rewrite's new files collected — verdicts prune again
    val after = statsFrame(spark, dir).get.collect()
      .map(_.getString(0)).toSet
    assert(after != before, "stats frame must be refreshed")
    val listed = listDataFiles(spark, dir).toSet
    assert(after == listed,
      "refreshed frame must cover exactly the store's files")
    // and the merged rows read right through a pruned read
    checkPrunes(dir, Prunes(col("k") === 401L, (k, t) => k < t, 1))
    assert(skipRead(dir).where(col("k") === 401L)
      .head().getAs[Long]("v") == 99L)
  }

  test("refreshStats: evolved append recommits the merged schema; tracked type change throws") {
    val dir = tmpDir("evolve")
    writeSortedWithStats(corpus.select("id", "v"), dir, Seq("id"),
      numFiles = 4, statsCols = Seq("id"))
    assert(committedSchema(spark, dir).get.fieldNames.toSeq ==
      Seq("id", "v"))
    // an appended file brings a NEW column: refresh must surface it
    // in the committed schema (previously the stale schema dropped
    // it from every skipping read forever)
    spark.range(20000, 20100).select(col("id"),
        (col("id") / 10.0).as("v"), lit("fresh").as("tag"))
      .coalesce(1).write.mode(SaveMode.Append).parquet(dir)
    assert(refreshStats(spark, dir, Seq("id")) == 1)
    val evolved = committedSchema(spark, dir).get
    assert(evolved.fieldNames.contains("tag"),
      "merged schema must carry the appended column")
    val got = skipRead(dir).where(col("tag") === "fresh")
    assert(got.count() == 100)

    // a TYPE change in a TRACKED column is loud corruption-prevention
    val dir2 = tmpDir("evolve2")
    writeSortedWithStats(corpus.select("id", "v"), dir2, Seq("id"),
      numFiles = 2, statsCols = Seq("id"))
    spark.range(5).select(col("id").cast("int").as("id"),
        (col("id") / 10.0).as("v"))
      .coalesce(1).write.mode(SaveMode.Append).parquet(dir2)
    val e = intercept[IllegalArgumentException](
      refreshStats(spark, dir2, Seq("id")))
    assert(e.getMessage.contains("changed type") ||
      e.getMessage.contains("do not merge"))
  }

  test("z-order: files tile BOTH dimensions and 2-D predicates prune") {
    val dir = tmpDir("zorder")
    // 100x100 uniform grid — the adversarial case for a 1-D sort
    val grid = spark.range(10000).select(
      (col("id") % 100).as("x"),
      (col("id") / 100).cast("long").as("y"), col("id"))
    writeZOrderedWithStats(grid, dir, Seq("x", "y"), numFiles = 16)
    // 16 files over a square → ~4x4 tiles: every file must be NARROW
    // in both dimensions (a 1-D sort would span the full 0..99 in y)
    val ranges = statsFrame(spark, dir).get
      .select("min_x", "max_x", "min_y", "max_y").collect()
      .map(r => (r.getLong(1) - r.getLong(0), r.getLong(3) - r.getLong(2)))
    assert(ranges.length == 16)
    // range-exchange boundaries SAMPLE the z space (run-dependent
    // seed), and a z range straddling a major quadrant boundary
    // legitimately touches opposite corners — so the guarantee is
    // statistical, not per-file: the 4 quadrant crossings bound the
    // wide files, MOST files are narrow in both dimensions, and the
    // mean tile area stays small (a 1-D sort gives 16 files of area
    // ~7x100 = the mean blows up in y)
    val wideX = ranges.count(_._1 > 60)
    val wideY = ranges.count(_._2 > 60)
    assert(wideX <= 4 && wideY <= 4,
      s"too many wide files: x=$wideX y=$wideY of ${ranges.length}")
    val meanArea = ranges.map { case (xs, ys) =>
      (xs + 1.0) * (ys + 1.0) }.sum / ranges.length
    assert(meanArea <= 4 * 26 * 26, f"mean tile area $meanArea%.0f")
    // a small 2-D box touches few tiles; the read is exact
    checkPrunes(dir, Prunes(
      col("x").between(10, 20) && col("y").between(80, 90),
      (k, t) => t == 16 && k <= 6, 11 * 11))
    // the z layout prunes on the NON-lead dimension where the 1-D
    // sort cannot: same corpus sorted by x, y-only predicate
    val dirX = tmpDir("xsorted")
    writeSortedWithStats(grid, dirX, Seq("x"), numFiles = 16,
      statsCols = Seq("x", "y"))
    val yOnly = col("y").between(0, 10)
    // the x-sorted layout cannot prune a y predicate; z-order must
    checkPrunes(dirX, Prunes(yOnly, (k, _) => k == 16, 11 * 100))
    checkPrunes(dir, Prunes(yOnly, (k, _) => k < 16, 11 * 100))
  }

  test("z-order: 3 columns (stride-4 spread) and a date column read exactly") {
    val dir = tmpDir("zorder3")
    val grid = spark.range(8000).select(
      (col("id") % 20).as("a"),
      ((col("id") / 20) % 20).cast("long").as("b"),
      date_add(lit(Date.valueOf("2024-01-01")),
        (col("id") / 400).cast("int")).as("d"), col("id"))
    writeZOrderedWithStats(grid, dir, Seq("a", "b", "d"), numFiles = 8)
    // a in 0..5 of 20, d in the first 8 of 20 days: 6/20 of 3200 rows
    checkPrunes(dir, Prunes(col("a").between(0, 5) &&
      col("d").between(lit("2024-01-01"), lit("2024-01-08")),
      (k, t) => k < t, 960))
  }

  test("VersionStore.optimizeSorted: compaction that serves pruned reads") {
    import graft.etl.VersionStore
    val root = tmpDir("optsorted")
    // v0: an UNSORTED, fragmented commit (8 hash-shuffled files)
    VersionStore.write(corpus.repartition(8), root)
    val v = VersionStore.optimizeSorted(spark, root, Seq("id"),
      targetFileMB = 1, extraStatsCols = Seq("d"), minFiles = 8)
    assert(v == 1L)
    val vdir = s"$root/v=$v"
    assert(statsCommitted(spark, vdir))
    // same rows, new layout
    assert(VersionStore.latest(spark, root).collect().toSet ==
      VersionStore.asOf(spark, root, 0).collect().toSet)
    // the compacted version prunes — v0 never could
    checkPrunes(vdir, Prunes(col("id").between(0, 500),
      (k, t) => k < t && k > 0, 501))
    // z-order variant tiles two columns
    val v2 = VersionStore.optimizeSorted(spark, root, Seq("id", "d"),
      targetFileMB = 1, zOrder = true, minFiles = 16)
    val v2dir = s"$root/v=$v2"
    assert(statsCommitted(spark, v2dir))
    // z-ordered optimize must prune the second column
    checkPrunes(v2dir, Prunes(
      col("d").between(lit("2024-01-01"), lit("2024-01-10")),
      (k, t) => k < t, 1000))
    assert(VersionStore.latest(spark, root).collect().toSet ==
      VersionStore.asOf(spark, root, 0).collect().toSet)
  }

  test("sorted layout: per-file ranges overlap only at boundaries") {
    val dir = tmpDir("disjoint")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 16,
      statsCols = Seq("id"))
    val ranges = statsFrame(spark, dir).get
      .select("min_id", "max_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(lo2 >= hi1, s"file ranges interleave: $hi1 vs $lo2")
      case _ =>
    }
  }

  // ---------------------------------------------------------------
  // r16: DYNAMIC FILE PRUNING (graft.io.SkipDataSource) — a runtime
  // JOIN-DERIVED filter drives the per-file stats verdicts on a
  // NON-partition tracked column. Measured by FILE COUNT from the
  // scan's own prune record, never by plan text (the r8 lesson).
  // ---------------------------------------------------------------

  /** Run `body` with DPP's benefit heuristic disarmed — these corpora
    * are KBs, far below the thresholds the heuristic was tuned for:
    * useStats=false switches to the fallback ratio, and the ratio
    * itself must be raised because a scan already shrunk by
    * PLAN-TIME pruning (partition dirs + file stats) estimates so
    * small that `0.5 × factSize > dimSize` fails at toy scale even
    * when the runtime prune is real. */
  private def withDppFallback[T](body: => T): T = {
    val kStats = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    val kRatio =
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio"
    val prevStats = spark.conf.getOption(kStats).getOrElse("true")
    val prevRatio = spark.conf.getOption(kRatio).getOrElse("0.5")
    try {
      spark.conf.set(kStats, "false")
      spark.conf.set(kRatio, "10000")
      body
    } finally {
      spark.conf.set(kStats, prevStats)
      spark.conf.set(kRatio, prevRatio)
    }
  }

  /** The prune witness of `df`'s own executed SkipScan over `dir` —
    * r17: records ride the scan INSTANCE (read via the executed
    * plan), so concurrent/interleaved scans never clobber each other. */
  private def pruneOf(df: DataFrame, dir: String): graft.io.SkipScan.Prune =
    graft.io.SkipScan.prunesIn(df).collectFirst {
      case (d, p) if d == dir => p
    }.getOrElse(fail(s"no SkipScan over $dir in the executed plan"))

  test("dynamic file pruning: join-driven runtime filter prunes on a non-partition column") {
    val dir = tmpDir("dfp")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 16,
      statsCols = Seq("id"))
    // the dim: every fact key tagged with its INGEST BATCH (monotone
    // ids make batch ranges contiguous — the auto-increment shape
    // every production ingest has). The filter is on `batch`, a
    // column the fact never sees: constraint propagation cannot turn
    // it into a plan-time literal on the join key, so any file
    // pruning is necessarily RUNTIME, driven by the join
    val dimDir = tmpDir("dfp_dim")
    spark.range(10000).select(col("id").as("dk"),
      (col("id") / 625).cast("long").as("batch"))
      .write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).where(col("batch") === 5)

    // execute, then read the prune record IMMEDIATELY: each new
    // QueryExecution over the source builds a fresh scan (fresh
    // registry entry), so the record must be read right after the
    // action whose execution it describes
    val (rows, prune, plan) = withDppFallback {
      val j = skipRead(dir).join(dim, col("id") === col("dk"))
        .select("id", "v", "batch")
      val r = j.collect() // j's OWN QueryExecution: the filter fires
      (r, pruneOf(j, dir),
        j.queryExecution.executedPlan.toString)
    }
    assert(rows.length == 625)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a runtime filter in the plan:\n${plan.take(3000)}")
    assert(prune.runtimeFilterSeen, "runtime filter never delivered")
    assert(prune.total == 16 && prune.keptStatic == 16)
    // 625 contiguous ids over 16 disjoint 625-row files: at most 2
    assert(prune.keptRuntime <= 2,
      s"join-driven prune too weak: kept ${prune.keptRuntime} of 16")
    // identity against the plain unpruned join
    val oracle = spark.read.parquet(dir)
      .join(dim, col("id") === col("dk")).select("id", "v", "batch")
    assert(rows.toSet == oracle.collect().toSet)
  }

  test("dynamic file pruning: scattered dim keys keep every file, rows stay right") {
    val dir = tmpDir("dfp_scatter")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 16,
      statsCols = Seq("id"))
    // keys hitting EVERY file's range (every 10th id — denser than
    // any sampled range boundary): min/max can prove nothing — the
    // prune must keep all 16 and the result must still be exact
    // (the conservatism half of the contract)
    val dimDir = tmpDir("dfp_scatter_dim")
    spark.range(10000).select(col("id").as("dk"),
      (col("id") % 10).as("m"))
      .write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).where(col("m") === 7)
    val (rows, prune) = withDppFallback {
      val j = skipRead(dir).join(dim, col("id") === col("dk"))
        .select("id", "v")
      val r = j.collect()
      (r, pruneOf(j, dir))
    }
    assert(prune.runtimeFilterSeen && prune.keptRuntime == 16,
      s"scattered keys must keep all files, kept ${prune.keptRuntime}")
    assert(rows.map(_.getLong(0)).sorted.toSeq ==
      (0L until 10000L).filter(_ % 10 == 7))
  }

  test("SkipDataSource: plan-time literal filters prune without any join") {
    val dir = tmpDir("dfp_static")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 16,
      statsCols = Seq("id"))
    val df = skipRead(dir).where(col("id").between(1000, 1999))
    assert(df.collect().length == 1000) // collect: df's OWN execution
    val prune = pruneOf(df, dir)
    assert(!prune.runtimeFilterSeen)
    assert(prune.keptStatic <= 3,
      s"literal prune too weak: kept ${prune.keptStatic} of 16")
    assert(skipRead(dir).where(col("id").between(1000, 1999))
      .select(sum("id")).as[Long].head() == (1000L to 1999L).sum)
    // column pruning reaches the inner parquet scan: a 1-col read
    assert(skipRead(dir).select("v").where(col("id") < 10)
      .count() == 10)
  }

  test("VersionStore.latestIndexed: DPP composes with the versioned store") {
    import graft.etl.VersionStore
    val root = tmpDir("vs_dfp")
    VersionStore.write(corpus.repartition(8), root)
    val v = VersionStore.optimizeSorted(spark, root, Seq("id"),
      targetFileMB = 1, minFiles = 16)
    val vdir = s"$root/v=$v"
    assert(statsCommitted(spark, vdir))
    // the dim selects one contiguous ingest batch; the join must
    // prune the VERSION's file list at runtime
    val dimDir = tmpDir("vs_dfp_dim")
    spark.range(10000).select(col("id").as("dk"),
      (col("id") / 625).cast("long").as("batch"))
      .write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).where(col("batch") === 3)
    val (rows, prune) = withDppFallback {
      val j = VersionStore.latestIndexed(spark, root)
        .join(dim, col("id") === col("dk")).select("id", "v")
      val r = j.collect()
      (r, pruneOf(j, vdir))
    }
    assert(rows.length == 625)
    assert(prune.runtimeFilterSeen && prune.keptRuntime < prune.total,
      s"versioned DPP did not prune: $prune")
    // a stats-less root falls back to the plain read, no error
    val root2 = tmpDir("vs_dfp_plain")
    VersionStore.write(corpus.limit(100), root2)
    assert(VersionStore.latestIndexed(spark, root2).count() == 100)
  }

  test("SkipDataSource: a join on an untracked column neither prunes nor breaks") {
    val dir = tmpDir("dfp_untracked")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 16,
      statsCols = Seq("id"))
    // join key `s` carries no stats: filterAttributes don't cover it,
    // Spark plants no runtime filter, the scan reads everything, the
    // join is exact
    val dimDir = tmpDir("dfp_untracked_dim")
    spark.range(100).select(
      format_string("s%05d", col("id")).as("ds"),
      (col("id") % 10).as("m")).write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).where(col("m") === 3)
    val (rows, prune) = withDppFallback {
      val j = skipRead(dir).join(dim, col("s") === col("ds"))
        .select("id", "s")
      val r = j.collect()
      (r, pruneOf(j, dir))
    }
    assert(!prune.runtimeFilterSeen && prune.keptRuntime == 16)
    assert(rows.map(_.getLong(0)).sorted.toSeq ==
      (0L until 100L by 10).map(_ + 3))
  }

  // ---------------------------------------------------------------
  // r17: the FULL Delta read shape in ONE V2 scan — hive-partition
  // directory pruning + file-stats pruning + runtime (join-driven)
  // filters against a single construction-time listing; per-scan
  // prune witnesses; the fat-key cost gate.
  // ---------------------------------------------------------------

  test("partitioned store: ONE V2 scan prunes directories, files, then runtime files — by measured count") {
    val dir = tmpDir("dfp_part")
    // 4 hive partitions (p = id / 2500), ~4 range-sorted files inside
    // each; stats committed at the root (the q181 layout)
    corpus.withColumn("p", (col("id") / 2500).cast("int"))
      .repartitionByRange(16, col("p"), col("id"))
      .sortWithinPartitions("p", "id")
      .write.partitionBy("p").parquet(dir)
    DataSkipping.writeStats(spark, dir, Seq("id"))
    // narrow dim slice (125 contiguous ids at the START of p=2's
    // range) — margins ~500 ids wide vs repartitionByRange's sampled
    // boundaries, so every level's strict decrease is robust
    val dimDir = tmpDir("dfp_part_dim")
    spark.range(10000).select(col("id").as("dk"),
      (col("id") / 125).cast("long").as("batch"))
      .write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).where(col("batch") === 40)
    // broadcast(dim) EXPLICITLY (the r16 lesson, doubly so here: the
    // plan-time prune shrinks the fact estimate below the dim's, so
    // Spark would otherwise build on the FACT side and
    // reuseBroadcastOnly would silently drop the runtime filter)
    val (rows, prune) = withDppFallback {
      val j = skipRead(dir)
        .where(col("p") === 2 && col("id") < 6000)
        .join(broadcast(dim), col("id") === col("dk"))
        .select("id", "v", "p")
      val r = j.collect()
      (r, pruneOf(j, dir))
    }
    assert(rows.length == 125 && rows.forall(_.getInt(2) == 2))
    assert(prune.total >= 12, s"layout degenerate: ${prune.total} files")
    // level 1: the p literal drops whole DIRECTORIES
    assert(prune.keptPartition < prune.total,
      s"directory prune missing: $prune")
    // level 2: the id range drops FILES inside the kept directory
    assert(prune.keptStatic < prune.keptPartition,
      s"stats prune did not compose: $prune")
    // level 3: the join-delivered key set drops MORE files
    assert(prune.runtimeFilterSeen &&
      prune.keptRuntime < prune.keptStatic,
      s"runtime prune did not compose: $prune")
    // identity, including the reconstituted partition column
    val oracle = spark.read.parquet(dir)
      .where(col("p") === 2 && col("id") < 6000)
      .join(dim, col("id") === col("dk")).select("id", "v", "p")
    assert(rows.toSet == oracle.collect().toSet)
  }

  test("prune witnesses are per scan instance: an interleaved second scan never clobbers the first") {
    val dir = tmpDir("dfp_iso")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 16,
      statsCols = Seq("id"))
    val dimDir = tmpDir("dfp_iso_dim")
    spark.range(10000).select(col("id").as("dk"),
      (col("id") / 625).cast("long").as("batch")).write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).where(col("batch") === 5)
    withDppFallback {
      val joined = skipRead(dir).join(dim, col("id") === col("dk"))
        .select("id", "v")
      assert(joined.collect().length == 625)
      // a SECOND scan over the same store, constructed and executed
      // AFTER the first — under the r16 dir-keyed registry its
      // construction reset runtimeFilterSeen for the whole store and
      // clobbered the first scan's witness
      val literal = skipRead(dir).where(col("id").between(0, 624))
      assert(literal.collect().length == 625)
      val pJoin = pruneOf(joined, dir)
      val pLit = pruneOf(literal, dir)
      assert(pJoin.runtimeFilterSeen && pJoin.keptRuntime <= 2,
        s"first scan's witness clobbered: $pJoin")
      assert(!pLit.runtimeFilterSeen && pLit.keptStatic <= 2,
        s"second scan's witness wrong: $pLit")
    }
  }

  test("prune witnesses stay per-instance under CONCURRENT scans of one store") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val dir = tmpDir("dfp_conc")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 16,
      statsCols = Seq("id"))
    val dimDir = tmpDir("dfp_conc_dim")
    spark.range(10000).select(col("id").as("dk"),
      (col("id") / 625).cast("long").as("batch")).write.parquet(dimDir)
    withDppFallback {
      implicit val ec: ExecutionContext = ExecutionContext.global
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      def run(batch: Int): Future[(Int, graft.io.SkipScan.Prune)] =
        Future {
          val dim = spark.read.parquet(dimDir)
            .where(col("batch") === batch)
          val j = skipRead(dir).join(dim, col("id") === col("dk"))
            .select("id")
          // blocking{}: the global pool sizes itself to cores and a
          // barrier-parked worker is invisible to it — on a 1-core
          // runner both futures would need the single worker and the
          // barrier would never trip (Await dies at 180 s instead)
          scala.concurrent.blocking { barrier.await() } // align the two executions
          val n = j.collect().length
          (n, pruneOf(j, dir))
        }
      val fa = run(2)
      val fb = run(11)
      val (na, pa) = Await.result(fa, 180.seconds)
      val (nb, pb) = Await.result(fb, 180.seconds)
      assert(na == 625 && nb == 625)
      // <= 4: sampled range boundaries can land a 625-key window on
      // 3-4 files (r16 lesson: never assert exact per-file splits)
      assert(pa.runtimeFilterSeen && pa.keptRuntime <= 4,
        s"scan A's witness wrong under concurrency: $pa")
      assert(pb.runtimeFilterSeen && pb.keptRuntime <= 4,
        s"scan B's witness wrong under concurrency: $pb")
    }
  }

  test("SkipDataSource edges: stats-less store reads exact, empty projection counts, null partition stays conservative") {
    // (a) a store with NO committed stats: every verdict is
    // keep-unknown — full listing, exact rows, no error
    val bare = tmpDir("dfp_bare")
    corpus.repartition(4).write.parquet(bare)
    val bareDf = skipRead(bare).where(col("id") < 100)
    assert(bareDf.collect().length == 100)
    val pBare = pruneOf(bareDf, bare)
    assert(pBare.keptStatic == pBare.total && pBare.total > 0)

    // (b) an empty projection (count(*) shape) through the pruned
    // scan — the reader runs with an empty read schema
    val dir = tmpDir("dfp_countstar")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 16,
      statsCols = Seq("id"))
    assert(skipRead(dir).where(col("id") < 625).count() == 625)

    // (c) hive null partition (__HIVE_DEFAULT_PARTITION__): files
    // under it carry NO usable partition bound — a p literal keeps
    // them (conservatism: the filter still runs on rows), while
    // `p IS NULL` prunes every NON-null directory exactly (their
    // partition-value stats say nullCount = 0)
    val np = tmpDir("dfp_nullpart")
    corpus.withColumn("p",
        when(col("id") % 5 === 0, lit(null))
          .otherwise(pmod(col("id"), lit(2L))).cast("int"))
      .repartition(4).write.partitionBy("p").parquet(np)
    DataSkipping.writeStats(spark, np, Seq("id"))
    val nullRows = skipRead(np).where(col("p").isNull)
    assert(nullRows.collect().length == 2000)
    val pNull = pruneOf(nullRows, np)
    assert(pNull.keptStatic < pNull.total,
      s"IS NULL must prune the non-null directories: $pNull")
    val litRows = skipRead(np).where(col("p") === 1)
    assert(litRows.collect().length == 4000)
    // identity against the stock partitioned read, all three shapes
    assert(skipRead(np).collect().map(_.toSeq).toSet ==
      spark.read.parquet(np).collect().map(_.toSeq).toSet)
  }

  test("runtime-filter cost gate: a fat delivered key set is declined, rows stay exact") {
    val dir = tmpDir("dfp_fat")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 16,
      statsCols = Seq("id"))
    val dimDir = tmpDir("dfp_fat_dim")
    spark.range(10000).select(col("id").as("dk"),
      (col("id") / 625).cast("long").as("batch")).write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).where(col("batch") === 5)
    val (rows, prune) = withDppFallback {
      val j = spark.read.format("graft.io.SkipDataSource")
        .option("maxRuntimeFilterKeys", "100") // 625 delivered > 100
        .load(dir).join(dim, col("id") === col("dk")).select("id", "v")
      val r = j.collect()
      (r, pruneOf(j, dir))
    }
    assert(prune.runtimeFilterSeen,
      "the filter must still be DELIVERED (the gate declines the " +
        "file pass, not the delivery)")
    assert(prune.runtimeKeysDeclined > 0L,
      s"decline not recorded: $prune")
    assert(prune.keptRuntime == prune.keptStatic &&
      prune.keptRuntime == 16,
      s"a declined delivery must not prune: $prune")
    assert(rows.map(_.getLong(0)).sorted.toSeq ==
      (3125L until 3750L), "rows must stay exact under the decline")
  }

  // ---------------------------------------------------------------
  // One skipping read: the snapshot rule, and stats reads that Spark
  // does not log as ignored paths.
  // ---------------------------------------------------------------

  test("a skipping read serves its load()-time snapshot: one stats load per frame, appends wait for a new load") {
    import graft.etl.VersionStore
    import graft.obs.Meter
    val root = tmpDir("snap_vs")
    VersionStore.write(corpus.repartition(8), root)
    VersionStore.optimizeSorted(spark, root, Seq("id"), minFiles = 8)
    // a stats load collects the committed frame (SkipScan.loadStats),
    // one job and one stage; building the frame runs none
    def statsLoads(c: Meter.Charge): Int = c.stages.values
      .count(_.name.startsWith("collect at SkipDataSource.scala"))
    val sc = spark.sparkContext
    val (df, atLoad) = Meter.measure(sc, "snapshot-load")(
      VersionStore.latestIndexed(spark, root)
        .where(col("id").between(100, 200)))
    val (_, acts) = Meter.measure(sc, "snapshot-actions") {
      assert(df.collect().length == 101)
      assert(df.count() == 101) // a derived frame: a second scan
    }
    assert(statsLoads(atLoad) + statsLoads(acts) == 1,
      s"stats loaded ${statsLoads(atLoad)} times at load, " +
        s"${statsLoads(acts)} times over two actions")

    // a frame held across an append serves the files of its load()
    val dir = tmpDir("snap_flat")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 8,
      statsCols = Seq("id"))
    val held = skipRead(dir).where(col("id") >= 0)
    spark.range(20000, 20100).select(
        col("id"), (col("id") / 10.0).as("v"),
        format_string("s%05d", col("id")).as("s"),
        date_add(lit(Date.valueOf("2024-01-01")), 3).as("d"),
        col("id").as("nv"))
      .coalesce(1).write.mode(SaveMode.Append).parquet(dir)
    assert(held.count() == 10000)
    assert(pruneOf(held, dir).total == 8)
    // a new load() sees the appended file
    assert(skipRead(dir).where(col("id") >= 0).count() == 10100)
  }

  test("stats reads and refreshes start no schema job") {
    import graft.obs.Meter
    val dir = tmpDir("stats_jobs")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 8,
      statsCols = Seq("id", "s"))
    val sc = spark.sparkContext
    def jobs(name: String)(body: => Unit): Int =
      Meter.measure(sc, s"stats-jobs-$name")(body)._2.jobs
    // a load() collects the committed frame once: its schema comes
    // from the stats file's footer
    assert(jobs("statsFrame")(statsFrame(spark, dir).get) == 0)
    assert(jobs("load")(skipRead(dir)) == 1)
    // a one-file append: the committed frame's collect, then the one
    // write whose task opens the new footer once
    corpus.where(col("id") < 10).coalesce(1)
      .write.mode(SaveMode.Append).parquet(dir)
    assert(jobs("refresh")(
      assert(refreshStats(spark, dir, Seq("id")) == 1)) == 2)
    assert(jobs("no-change")(
      assert(refreshStats(spark, dir, Seq("id")) == 0)) == 1)
    // the refreshed frame covers the appended file and prunes on it
    assert(statsFrame(spark, dir).get.count() == 9)
    checkPrunes(dir,
      Prunes(col("id").between(9000, 9100), (k, t) => t == 9 && k == 1, 101))
  }

  test("stats-frame reads log no ignored-path warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val ignored = "All paths were ignored"
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[CoreLogger]
    /** The DataSource log lines `body` emits. */
    def logged(body: => Unit): Seq[String] = {
      val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val app = new AbstractAppender("graft-datasource-capture", null,
          null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          lines.add(e.getMessage.getFormattedMessage)
      }
      app.start()
      val prev = logger.getLevel
      logger.addAppender(app)
      if (!logger.isEnabled(Level.WARN)) logger.setLevel(Level.WARN)
      try body
      finally {
        logger.removeAppender(app)
        if (logger.getLevel != prev) logger.setLevel(prev)
        app.stop()
      }
      lines.asScala.toSeq
    }
    val dir = tmpDir("nowarn")
    writeSortedWithStats(corpus, dir, Seq("id"), numFiles = 4,
      statsCols = Seq("id"))
    val quiet = logged {
      assert(skipRead(dir).where(col("id") < 100).collect().length == 100)
      corpus.where(col("id") < 10).coalesce(1)
        .write.mode(SaveMode.Append).parquet(dir)
      assert(refreshStats(spark, dir, Seq("id")) == 1)
      assert(statsFrame(spark, dir).get.count() == 5)
    }
    assert(!quiet.exists(_.contains(ignored)), quiet.mkString("\n"))
    // the capture is live: a read rooted at the underscore directory
    // itself is the warning's shape
    val control = logged(spark.read.parquet(s"$dir/_filestats").count())
    assert(control.exists(_.contains(ignored)),
      s"the capture saw no $ignored warning: $control")
  }
}
