package graft.io

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, RowOrdering}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, RangeBridge}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** File-level min/max DATA SKIPPING — the Delta/Iceberg column-stats
  * pruning analog for this library's plain-parquet stores. The
  * reference's Delta tables get file-stats pruning for free from the
  * format (OPTIMIZE/ZORDER + the transaction log's per-file stats,
  * ukg_tbl_optmztn.py:24-75's other half); the repo's stores pruned
  * only on partition DIRECTORIES until r14. This module completes the
  * lakehouse read path: a per-file stats frame written at commit
  * time, and a read that prunes the FILE LIST before any footer of a
  * skipped file is opened.
  *
  * Three pieces:
  *   - [[writeStats]]/[[refreshStats]] — per-file `min/max/nullCount`
  *     for a declared column set, from the parquet FOOTERS (row-group
  *     statistics merged per file): METADATA-ONLY, no data pages are
  *     read. One executor pass opens each new footer once for its row
  *     count, bounds and Spark schema, inside the job that writes the
  *     frame; a refresh opens only the footers the committed frame has
  *     never seen. One commit ([[commitStats]]) lands the frame and
  *     the data schema marker-last under `dir/_filestats` (underscore
  *     prefix: invisible to Spark data reads of `dir`), and
  *     [[statsFrame]] reads it back with its schema pinned from the
  *     stats file's footer, so no read or refresh starts a schema job.
  *   - [[SkipDataSource]] — the read: `spark.read.format(
  *     "graft.io.SkipDataSource").load(dir)` pushes the query's
  *     literal filters (and Spark's runtime join filters) into a scan
  *     that decides them against the stats frame and hands Spark only
  *     the SURVIVING files. Pruning is a SUPERSET contract: every file
  *     that may hold a matching row survives, and the engine still
  *     applies the data predicate on top. Conservatism is structural —
  *     a file missing from the stats frame (late append, foreign
  *     writer), a column whose footer carries no usable statistics, or
  *     a null min/max all KEEP the file. Stats can only remove work,
  *     never rows.
  *   - [[writeSorted]] / [[zOrderLayout]] — the layout half:
  *     range-repartition + sort on the skipping columns (or on their
  *     interleaved z value) before the write, so per-file value
  *     ranges are near-disjoint and a point/range predicate keeps
  *     O(matching) files instead of all of them. The same layout
  *     makes parquet's own ROW-GROUP stats selective inside each
  *     surviving file — Spark's scan skips row groups for free once
  *     the data is sorted.
  *
  * Which files are data is [[FooterSchema.dataFiles]]'s rule, here as
  * everywhere in graft's stores.
  *
  * Scale shape at 100 TB: the stats frame is one row per data file
  * (a 100 TB table at 256 MB files ≈ 400k rows — megabytes), read
  * once per `load()` on the driver exactly like a Delta log
  * checkpoint; the skip decision is an in-memory pass over it, never
  * a data scan. The driver-side file list is the same contract every
  * Spark file index (and [[PartitionedStore.filesPerPartition]])
  * already carries.
  *
  * Supported stats column types: integral, float/double, string,
  * date, timestamp (micros). DECIMAL and nested types are rejected at
  * collection (declare a DOUBLE/scaled-long surface column instead —
  * the repo-wide decimal-portability discipline). INT96 timestamps
  * carry no parquet stats; such columns collect null stats and simply
  * never prune (conservative, documented). */
object DataSkipping {

  private val StatsDir = "_filestats"
  private val StatsMarker = "_STATS_OK"
  private val SchemaFile = "_DATA_SCHEMA.json"

  /** The data files under `dir` by path, at every level a partitioned
    * layout adds ([[FooterSchema.dataFilesUnder]]): `_filestats` and
    * the markers are hidden names, so they never list. */
  def listDataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val root = new Path(dir)
    FooterSchema.dataFilesUnder(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
      .map(_.getPath.toString)
  }

  private def statsColType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  /** One file's footer, opened once: its row count, (min, max, nulls)
    * per tracked column merged over its row groups, and the footer's
    * file metadata (its schema). None min/max = no usable stats
    * (absent, INT96, all-null, or unsupported physical type) — the
    * pruner keeps such files. */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration,
                          file: String, cols: Seq[(String, DataType)])
  : (Long, Map[String, (Option[Any], Option[Any], Option[Long])],
     FileMetaData) = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val byCol = cols.map { case (name, dt) =>
        // one Option-folded merge over the file's row groups; ANY
        // group with unusable stats poisons the FILE to "no stats"
        // (conservative — a partial bound is not a bound)
        var mn: Option[Any] = None
        var mx: Option[Any] = None
        var nulls: Option[Long] = Some(0L)
        var ok = true
        blocks.foreach { b =>
          val chunk = b.getColumns.asScala
            .find(_.getPath.toDotString == name)
          chunk match {
            case Some(c) =>
              val st = c.getStatistics
              if (st == null || st.isEmpty || !st.isNumNullsSet) ok = false
              else {
                nulls = nulls.map(_ + st.getNumNulls)
                if (st.hasNonNullValue) {
                  val phys = c.getPrimitiveType
                  decode(st.genericGetMin.asInstanceOf[AnyRef],
                    phys, dt) match {
                    case Some(v) =>
                      mn = Some(mn.fold(v)(m => minOf(m, v, dt)))
                    case None => ok = false
                  }
                  decode(st.genericGetMax.asInstanceOf[AnyRef],
                    phys, dt) match {
                    case Some(v) =>
                      mx = Some(mx.fold(v)(m => maxOf(m, v, dt)))
                    case None => ok = false
                  }
                }
                // all-null group: contributes nulls, no bounds — fine
              }
            case None => ok = false // column absent: schema evolution
          }
        }
        if (!ok) name -> (None, None, None)
        else name -> (mn, mx, nulls)
      }.toMap
      (rows, byCol, reader.getFooter.getFileMetaData)
    } finally reader.close()
  }

  private def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(StandardCharsets.UTF_8),
      b.getBytes(StandardCharsets.UTF_8))

  private[graft] def cmp(a: Any, b: Any, dt: DataType): Int = dt match {
    // strings compare in UTF-8 BYTE order — the order parquet wrote
    // the stats in and the order Spark's UTF8String comparisons use;
    // java.lang.String.compareTo (UTF-16 units) disagrees above the
    // BMP, which would make a "min" not a lower bound
    case StringType => utf8Cmp(a.asInstanceOf[String], b.asInstanceOf[String])
    case ByteType => a.asInstanceOf[Byte] compare b.asInstanceOf[Byte]
    case ShortType => a.asInstanceOf[Short] compare b.asInstanceOf[Short]
    case IntegerType => a.asInstanceOf[Int] compare b.asInstanceOf[Int]
    case LongType => a.asInstanceOf[Long] compare b.asInstanceOf[Long]
    case FloatType =>
      java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case DoubleType =>
      java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case DateType =>
      a.asInstanceOf[java.sql.Date].compareTo(b.asInstanceOf[java.sql.Date])
    case TimestampType =>
      a.asInstanceOf[java.sql.Timestamp]
        .compareTo(b.asInstanceOf[java.sql.Timestamp])
    case TimestampNTZType =>
      a.asInstanceOf[java.time.LocalDateTime]
        .compareTo(b.asInstanceOf[java.time.LocalDateTime])
    case other => sys.error(s"unsupported stats type $other")
  }
  private def minOf(a: Any, b: Any, dt: DataType): Any =
    if (cmp(a, b, dt) <= 0) a else b
  private def maxOf(a: Any, b: Any, dt: DataType): Any =
    if (cmp(a, b, dt) >= 0) a else b

  /** Whether the parquet column's LOGICAL annotation says its INT64
    * values are microsecond timestamps. A TIMESTAMP_MILLIS file
    * (foreign writer, or `spark.sql.parquet.outputTimestampType=
    * TIMESTAMP_MILLIS`) reads back as the SAME Spark TimestampType,
    * so decoding its millis as micros would shrink every bound 1000×
    * and prune files that contain matching rows — the annotation, not
    * the Spark type, decides the unit. NANOS/MILLIS/absent → no
    * trustworthy bound. */
  private def isMicrosTimestamp(
      t: org.apache.parquet.schema.PrimitiveType): Boolean =
    t.getLogicalTypeAnnotation match {
      case ts: org.apache.parquet.schema.LogicalTypeAnnotation
                 .TimestampLogicalTypeAnnotation =>
        ts.getUnit ==
          org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS
      case _ => false
    }

  private def isDateAnnotated(
      t: org.apache.parquet.schema.PrimitiveType): Boolean =
    t.getLogicalTypeAnnotation.isInstanceOf[
      org.apache.parquet.schema.LogicalTypeAnnotation
        .DateLogicalTypeAnnotation]

  /** Physical→external decode for a stats value. None = this
    * (physical, logical-annotation, Spark-type) pairing carries no
    * trustworthy bound — INT96 timestamps and INT64 MILLIS/NANOS
    * timestamps are the canonical cases; the file is kept. External
    * types match Spark's row externals: TimestampType →
    * java.sql.Timestamp (micros = instant), TimestampNTZType →
    * java.time.LocalDateTime (micros read as a LOCAL datetime, no
    * zone shift — Spark's NTZ external type; a Timestamp here would
    * both break createDataFrame and skew by the session zone). */
  private def decode(v: AnyRef,
                     pt: org.apache.parquet.schema.PrimitiveType,
                     dt: DataType): Option[Any] =
    (pt.getPrimitiveTypeName, dt) match {
    case (PrimitiveTypeName.INT32, ByteType) =>
      Some(v.asInstanceOf[java.lang.Integer].intValue.toByte)
    case (PrimitiveTypeName.INT32, ShortType) =>
      Some(v.asInstanceOf[java.lang.Integer].intValue.toShort)
    case (PrimitiveTypeName.INT32, IntegerType) =>
      Some(v.asInstanceOf[java.lang.Integer].intValue)
    case (PrimitiveTypeName.INT32, DateType) if isDateAnnotated(pt) =>
      Some(java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[java.lang.Integer].longValue)))
    case (PrimitiveTypeName.INT64, LongType) =>
      Some(v.asInstanceOf[java.lang.Long].longValue)
    case (PrimitiveTypeName.INT64, TimestampType)
        if isMicrosTimestamp(pt) =>
      val us = v.asInstanceOf[java.lang.Long].longValue
      val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      Some(ts)
    case (PrimitiveTypeName.INT64, TimestampNTZType)
        if isMicrosTimestamp(pt) =>
      val us = v.asInstanceOf[java.lang.Long].longValue
      Some(java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC))
    case (PrimitiveTypeName.FLOAT, FloatType) =>
      Some(v.asInstanceOf[java.lang.Float].floatValue)
    case (PrimitiveTypeName.DOUBLE, DoubleType) =>
      Some(v.asInstanceOf[java.lang.Double].doubleValue)
    case (PrimitiveTypeName.BINARY, StringType) =>
      Some(v.asInstanceOf[Binary].toStringUsingUTF8)
    case _ => None // INT96 / MILLIS / NANOS land here: no bound, keep
  }

  /** `cols` typed from `schema`; each must be a supported flat type. */
  private def statsTypes(schema: StructType,
                         cols: Seq[String]): Seq[(String, DataType)] = {
    require(cols.nonEmpty, "declare at least one stats column")
    cols.map { c =>
      val f = schema.find(_.name == c).getOrElse(
        sys.error(s"stats column '$c' not in data schema " +
          schema.fieldNames.mkString("[", ", ", "]")))
      require(statsColType(f.dataType),
        s"stats column '$c' has unsupported type ${f.dataType} — " +
          "declare a double/long/string/date surface column instead")
      c -> f.dataType
    }
  }

  /** The stats frame's layout: one row per file — `file, rows` + per
    * tracked column `min_<c>, max_<c>, nulls_<c>` (min/max in the
    * column's own type). */
  private def statsSchema(typed: Seq[(String, DataType)]): StructType =
    StructType(
      StructField("file", StringType, nullable = false) +:
        StructField("rows", LongType, nullable = false) +:
        typed.flatMap { case (c, dt) => Seq(
          StructField(s"min_$c", dt, nullable = true),
          StructField(s"max_$c", dt, nullable = true),
          StructField(s"nulls_$c", LongType, nullable = true))
        })

  /** The tracked columns of a stats frame's schema, typed. */
  private[io] def tracked(stats: StructType): Seq[(String, DataType)] =
    stats.fields.toSeq.collect { case f if f.name.startsWith("min_") =>
      f.name.stripPrefix("min_") -> f.dataType }

  /** The one stats commit: `kept` rows of a committed frame plus a row
    * per `fresh` file, written under `dir/_filestats` with the data
    * schema and committed marker-last ([[MarkerCommit]]: a crash
    * leaves a marker-less frame that readers ignore, so the store
    * degrades to unpruned reads, never to wrong ones). The fresh rows
    * come from one executor pass, inside the write's job, that opens
    * each footer once for its row count, `typed` bounds and Spark
    * schema. `dataSchema` makes the recorded data schema from those
    * schemas (by file; None where one does not convert); a throw there
    * commits nothing. A fresh file is recorded by its listed path, or,
    * when `dir` is about to be renamed to `recordUnder`, by the path
    * the rename gives it — else no lookup would hit after the move. */
  private def commitStats(spark: SparkSession, dir: String,
                          typed: Seq[(String, DataType)], fresh: Seq[String],
                          kept: Seq[Row],
                          dataSchema: Seq[(String, Option[StructType])] => StructType,
                          recordUnder: Option[String] = None): Unit = {
    val sc = spark.sparkContext
    val recorded = recordUnder.fold(fresh.map(f => f -> f)) { to =>
      val fs = new Path(dir).getFileSystem(sc.hadoopConfiguration)
      val from = fs.makeQualified(new Path(dir)).toString
      val dst = fs.makeQualified(new Path(to)).toString
      fresh.map(f => f -> (dst + f.stripPrefix(from)))
    }
    val schemas = sc.collectionAccumulator[(String, Option[StructType])]
    val confB = sc.broadcast(
      new SerializableConfiguration(sc.hadoopConfiguration))
    val flags = FooterSchema.flags(spark)
    val typedLocal = typed // avoid closing over the outer frame
    val pass = sc.parallelize(recorded,
      math.min(recorded.size, sc.defaultParallelism).max(1)).map {
      case (f, as) =>
        val (n, byCol, meta) = footerStats(confB.value.value, f, typedLocal)
        schemas.add(as -> Try(FooterSchema.sparkSchema(meta, flags)).toOption)
        Row.fromSeq(as +: (n: java.lang.Long) +: typedLocal.flatMap {
          case (c, _) =>
            val (mn, mx, nulls) = byCol(c)
            Seq(mn.orNull, mx.orNull, nulls.map(Long.box).orNull)
        })
    }
    val frame = spark.createDataFrame(
      sc.parallelize(kept, 1).union(pass), statsSchema(typed))
    val out = s"$dir/$StatsDir"
    val tmp = s"$out.tmp"
    MarkerCommit.deleteRecursively(tmp)
    try {
      StoreWriter(frame.coalesce(1)).mode(SaveMode.Overwrite).parquet(tmp)
      MarkerCommit.touch(s"$tmp/$SchemaFile", dataSchema(
        schemas.value.asScala.toSeq.distinct.sortBy(_._1)).json)
    } catch { case NonFatal(e) =>
      MarkerCommit.deleteRecursively(tmp)
      throw e
    }
    MarkerCommit.commitSwap(out, tmp, StatsMarker)
  }

  /** Collect and commit the stats frame of every data file under
    * `dir` for `cols`, with the schema `dir` reads with. Call after the
    * data commit; stats are derived metadata, so losing them is a
    * performance event, not a correctness one. */
  def writeStats(spark: SparkSession, dir: String,
                 cols: Seq[String]): Unit =
    writeStatsRelocated(spark, dir, dir, cols)

  /** [[writeStats]] for a directory that is ABOUT TO MOVE — the
    * version-commit path: the data sits in a `.building` temp that an
    * atomic rename will turn into `finalDir`, and the stats ride that
    * rename, recording each file by its path under `finalDir`. */
  def writeStatsRelocated(spark: SparkSession, dataDir: String,
                          finalDir: String, cols: Seq[String]): Unit = {
    val schema = FooterSchema.schema(spark, dataDir)
    val files = listDataFiles(spark, dataDir)
    require(files.nonEmpty, s"no data files under $dataDir")
    commitStats(spark, dataDir, statsTypes(schema, cols), files, Nil,
      _ => schema, Some(finalDir).filter(_ != dataDir))
  }

  /** Incremental stats upkeep after appends — the daily-ingest path:
    * footer-read ONLY the files the committed frame has never seen,
    * drop rows for files that vanished (compaction), keep every
    * other row as-is, and recommit. Cost is O(new files), not
    * O(store) — [[writeStats]] re-reads every footer and is the
    * bootstrap/schema-evolution path. The tracked column set is the
    * frame's own (derived from its `min_*` columns). Returns the
    * number of files newly collected. A dir with no committed frame
    * falls back to a full [[writeStats]] over `colsIfBootstrap`. */
  def refreshStats(spark: SparkSession, dir: String,
                   colsIfBootstrap: Seq[String]): Int = {
    statsFrame(spark, dir) match {
      case None =>
        writeStats(spark, dir, colsIfBootstrap)
        listDataFiles(spark, dir).size
      case Some(sf) =>
        val old = sf.collect()
        val fileIdx = sf.schema.fieldIndex("file")
        val all = listDataFiles(spark, dir)
        val allSet = all.toSet
        val knownRows = old.filter(r => allSet(r.getString(fileIdx)))
        val known = knownRows.map(_.getString(fileIdx)).toSet
        val fresh = all.filterNot(known)
        if (fresh.isEmpty && knownRows.length == old.length) return 0
        val typed = tracked(sf.schema)
        val base = committedSchema(spark, dir)
          .getOrElse(FooterSchema.schema(spark, dir))
        commitStats(spark, dir, typed, fresh, knownRows.toSeq,
          evolved(dir, base, typed, _))
        fresh.size
    }
  }

  /** SCHEMA-EVOLUTION enforcement for [[refreshStats]]: the committed
    * schema `base` (standing in for every already-seen file) unioned
    * with the FRESH files' footer schemas, so an appended file's NEW
    * column becomes readable. A TYPE change in ANY shared column is
    * rejected loudly — for a tracked column the kept stats rows hold
    * the old type, and for a data column a silent type fork corrupts
    * every unioning reader. */
  private def evolved(dir: String, base: StructType,
                      typed: Seq[(String, DataType)],
                      fresh: Seq[(String, Option[StructType])]): StructType = {
    val merged = fresh.foldLeft(base) { case (acc, (file, schema)) =>
      val s = schema.getOrElse(throw new IllegalArgumentException(
        s"refreshStats: the footer schema of $file does not convert " +
          "to a Spark schema"))
      val accT = acc.fields.map(f => f.name -> f.dataType).toMap
      val fields = FooterSchema.nullable(s).asInstanceOf[StructType].fields
      fields.foreach(f => accT.get(f.name).foreach(t => require(
        t == f.dataType,
        s"refreshStats: column '${f.name}' changed type " +
          s"($t -> ${f.dataType}) in appended file $file under $dir — " +
          "recommit stats with writeStats after a deliberate schema " +
          "migration")))
      StructType(acc.fields ++ fields.filterNot(f => accT.contains(f.name)))
    }
    typed.foreach { case (c, committed) =>
      val now = merged.find(_.name == c).map(_.dataType)
      require(now.contains(committed),
        s"refreshStats: tracked column '$c' changed type " +
          s"($committed -> ${now.fold("absent")(_.toString)}) — " +
          "recommit stats with writeStats after a deliberate " +
          "schema migration")
    }
    merged
  }

  /** The data schema recorded at stats-commit time, if present.
    * Appends after the stats commit read fine through it as long as
    * they don't CHANGE columns (standard parquet missing-column =
    * null semantics); schema evolution should recommit stats. */
  def committedSchema(spark: SparkSession,
                      dir: String): Option[StructType] =
    if (!statsCommitted(spark, dir)) None
    else MarkerCommit.read(s"$dir/$StatsDir/$SchemaFile")
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Whether `dir` carries a committed stats frame — the cheap
    * (one-marker) bootstrap gate; the marker lands LAST in
    * [[writeStats]], so its presence implies the full sorted-write +
    * stats sequence completed. */
  def statsCommitted(spark: SparkSession, dir: String): Boolean =
    MarkerCommit.markerExists(s"$dir/$StatsDir", StatsMarker)

  /** The committed stats frame, if one exists (marker-gated), with its
    * schema pinned from the stats file's footer ([[FooterSchema]]), so
    * building it starts no job. Read through its data files: Spark
    * ignores a read root whose leaf name starts with `_` and logs a
    * warning for every such read. */
  def statsFrame(spark: SparkSession, dir: String): Option[DataFrame] = {
    val out = s"$dir/$StatsDir"
    if (!MarkerCommit.markerExists(out, StatsMarker)) None
    else {
      val p = new Path(out)
      val listing = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).toSeq
      val files = FooterSchema.dataFiles(listing)
      if (files.isEmpty) None
      else Some(spark.read.schema(FooterSchema.schema(spark, out, listing))
        .parquet(files.map(_.getPath.toString): _*))
    }
  }

  /** The max of `column` (read as Spark type `dt`) over the parquet
    * footers under `path` (a file or a directory), merged on the
    * driver — no Spark job, no data page. None when a file's footer
    * carries no usable max for it. */
  def footerMax(spark: SparkSession, path: String, column: String,
                dt: DataType): Option[Any] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val maxes = listDataFiles(spark, path)
      .map(f => footerStats(conf, f, Seq(column -> dt))._2(column)._2)
    if (maxes.isEmpty || maxes.exists(_.isEmpty)) None
    else Some(maxes.flatten.reduce(maxOf(_, _, dt)))
  }


  /** The LAYOUT half of skipping: range-repartition on `sortCols`
    * into `numFiles` write tasks and sort within each, so per-file
    * ranges are near-disjoint (one boundary value may straddle two
    * files) and parquet row-group stats inside each file are
    * selective too. A range predicate over the lead sort column then
    * keeps O(matching range) files. The boundaries are sampled from
    * the input (one extra pass over the batch, see [[rangeLayout]]) —
    * the usual price of a sorted layout, paid at write time where it
    * belongs. */
  def writeSorted(df: DataFrame, dir: String, sortCols: Seq[String],
                  numFiles: Int,
                  mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(sortCols.nonEmpty && numFiles >= 1,
      "writeSorted needs sort columns and a positive file count")
    StoreWriter(rangeLayout(df, sortCols, numFiles)).mode(mode).parquet(dir)
  }

  /** Reservoir points per output file for [[rangeLayout]]'s sample:
    * ten times `repartitionByRange`'s default, so an evenly split
    * input of up to 3,000 rows per file is taken whole and gets exact
    * quantile boundaries. */
  private val SamplePointsPerFile = 1000
  private val LayoutSeed = 42
  private val SlotCol = "__range_slot"

  /** `df` range-partitioned on `sortCols` (ascending, nulls first)
    * into `numFiles` partitions, in key order, and sorted within
    * each. The boundaries come from the input alone: a reservoir
    * sample under a fixed seed ([[RangeBridge.bounds]], the
    * boundaries `repartitionByRange` would pick), where
    * `repartitionByRange` seeds its sample with the RDD id, so the
    * same input laid out its files differently depending on how many
    * RDDs the session had made before. Each row's range index picks
    * an int key that Spark's hash partitioning sends to exactly that
    * partition, so range k lands in partition k. */
  private[graft] def rangeLayout(df: DataFrame, sortCols: Seq[String],
                                 numFiles: Int): DataFrame = {
    require(!df.columns.contains(SlotCol), s"column name $SlotCol is reserved")
    // one struct key for any column count: its comparison orders
    // null fields first, as the sort and the range exchange do
    val key = struct(sortCols.map(col): _*)
    val keys = df.select(key)
    val keyType = keys.schema.head.dataType
    val bounds = RangeBridge.bounds(
      keys.queryExecution.toRdd.map(_.copy()), numFiles,
      SamplePointsPerFile, LayoutSeed)(
      RowOrdering.createNaturalAscendingOrdering(Seq(keyType)),
      scala.reflect.classTag[InternalRow])
      .map(r => ColumnBridge.column(Literal(r.get(0, keyType), keyType)))
    val slots = slotKeys(numFiles)
    // binary search over the boundaries: a key above bounds(mid) lies
    // in a range past mid
    def slot(lo: Int, hi: Int): Column =
      if (lo == hi) lit(slots(lo))
      else {
        val mid = (lo + hi) / 2
        when(key > bounds(mid), slot(mid + 1, hi)).otherwise(slot(lo, mid))
      }
    df.withColumn(SlotCol, slot(0, bounds.length))
      .repartition(numFiles, col(SlotCol))
      .sortWithinPartitions(sortCols.map(col): _*)
      .drop(SlotCol)
  }

  /** For each of `n` partitions, an int that Spark's hash
    * partitioning into `n` partitions sends to exactly it. */
  private def slotKeys(n: Int): Array[Int] = {
    val keys = Array.fill(n)(-1)
    var found = 0
    var v = 0
    while (found < n) {
      val p = HashPartitioning(Seq(Literal(v)), n).partitionIdExpression
        .eval().asInstanceOf[Int]
      if (keys(p) < 0) { keys(p) = v; found += 1 }
      v += 1
    }
    keys
  }

  /** Sorted write + committed stats in one call — the full
    * skipping-ready commit for a plain-directory store. */
  def writeSortedWithStats(df: DataFrame, dir: String,
                           sortCols: Seq[String], numFiles: Int,
                           statsCols: Seq[String]): Unit = {
    writeSorted(df, dir, sortCols, numFiles)
    writeStats(df.sparkSession, dir, statsCols)
  }

  // -----------------------------------------------------------------
  // Z-ORDER clustering — the multi-column layout half (the Delta
  // OPTIMIZE ZORDER analog). A lexicographic sort serves ONE lead
  // column: files are narrow in it and span the full domain of every
  // other. Interleaving the bits of k columns' scaled ranks makes
  // each file a near-rectangular tile in k-space — per-file min/max
  // stay narrow in EVERY clustered column, so a predicate on any
  // subset of them prunes. The z value is a WRITE-TIME ordering key
  // only: it is dropped before the write, data columns are untouched,
  // and skipping still derives from TRUE footer stats — a bad z
  // mapping can only cost selectivity, never correctness.
  // -----------------------------------------------------------------

  /** A clustered column mapped to a monotone DOUBLE (date →
    * epoch-day, timestamp → micros, strings → leading-7-byte rank,
    * numerics as-is). Doubles carry 53 mantissa bits — far more than
    * the 16 the scaling keeps, and never truncate sub-integer
    * resolution the way a long cast would. */
  private def monotoneDouble(c: String, dt: DataType): Column = dt match {
    case DateType => unix_date(col(c)).cast(DoubleType)
    case TimestampType | TimestampNTZType =>
      unix_micros(col(c)).cast(DoubleType)
    case StringType =>
      // leading 7 UTF-8 bytes as an unsigned big-endian rank —
      // preserves byte order on the prefix (56 bits < the 64 a
      // signed long holds, so no sign wrap); coarse, but the z value
      // is layout-only (see the section comment)
      val padded = rpad(substring(encode(col(c), "UTF-8"), 1, 7),
        7, Array[Byte](0))
      conv(hex(padded), 16, 10).cast(LongType).cast(DoubleType)
    case _ => col(c).cast(DoubleType)
  }

  /** Spread the low 16 bits of `x` so consecutive bits land
    * `stride` apart (the classic morton spread, stride 2 or 4). */
  private def spreadBits(x: Column, stride: Int): Column = {
    require(stride == 2 || stride == 4, "2-4 clustered columns")
    val steps = if (stride == 2)
      Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L),
        (1, 0x55555555L))
    else
      Seq((24, 0x000000FF000000FFL), (12, 0x000F000F000F000FL),
        (6, 0x0303030303030303L), (3, 0x1111111111111111L))
    steps.foldLeft(x) { case (v, (sh, mask)) =>
      shiftleft(v, sh).bitwiseOR(v).bitwiseAND(lit(mask))
    }
  }

  /** The interleaved z value over `cols`, scaling each column's
    * monotone form to 16 bits against its OWN min/max (computed in
    * one pass over `df` — a write-time cost). 2 columns → 32-bit z,
    * 3–4 columns → 48/64-bit. */
  private def zOrderValue(df: DataFrame,
                          cols: Seq[(String, DataType)]): Column = {
    require(cols.size >= 2 && cols.size <= 4,
      "z-order wants 2-4 columns; one column is writeSorted's job")
    val mono = cols.map { case (c, dt) => c -> monotoneDouble(c, dt) }
    val aggs = mono.flatMap { case (c, m) =>
      Seq(min(m).as(s"mn_$c"), max(m).as(s"mx_$c")) }
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    val stride = if (cols.size == 2) 2 else 4
    mono.zipWithIndex.map { case ((c, m), i) =>
      val mnIdx = bounds.fieldIndex(s"mn_$c")
      val scaled =
        // null bounds = empty frame (or all-null column): constant z
        if (bounds.isNullAt(mnIdx) ||
            bounds.isNullAt(bounds.fieldIndex(s"mx_$c"))) lit(0L)
        else {
          val lo = bounds.getAs[Double](s"mn_$c")
          val hi = bounds.getAs[Double](s"mx_$c")
          if (hi == lo) lit(0L)
          else least(greatest((m - lit(lo)) / lit(hi - lo) * lit(65535.0),
            lit(0.0)), lit(65535.0)).cast(LongType)
        }
      shiftleft(spreadBits(scaled, stride), i)
    }.reduce(_ bitwiseOR _)
  }

  /** `df` laid out in `numFiles` partitions by the interleaved z value
    * of `zCols` ([[rangeLayout]] on it, then dropped): each partition
    * a near-rectangular tile of k-space, data columns untouched. The
    * one z-order layout, for [[writeZOrderedWithStats]] and
    * [[graft.etl.VersionStore.optimizeSorted]]. */
  private[graft] def zOrderLayout(df: DataFrame, zCols: Seq[String],
                                  numFiles: Int): DataFrame = {
    val typed = zCols.map { c =>
      val f = df.schema.find(_.name == c).getOrElse(
        sys.error(s"z-order column '$c' not in schema"))
      c -> f.dataType
    }
    require(!df.columns.contains(ZCol), s"column name $ZCol is reserved")
    rangeLayout(df.withColumn(ZCol, zOrderValue(df, typed)), Seq(ZCol),
      numFiles).drop(ZCol)
  }

  private val ZCol = "__z"

  /** Z-ordered write + committed stats: [[zOrderLayout]], then stats
    * on the clustered columns (plus `extraStatsCols`). Files tile
    * k-space, so predicates on ANY clustered column prune — the
    * multi-column counterpart of [[writeSortedWithStats]]. */
  def writeZOrderedWithStats(df: DataFrame, dir: String,
                             zCols: Seq[String], numFiles: Int,
                             extraStatsCols: Seq[String] = Nil): Unit = {
    StoreWriter(zOrderLayout(df, zCols, numFiles))
      .mode(SaveMode.Overwrite).parquet(dir)
    writeStats(df.sparkSession, dir, (zCols ++ extraStatsCols).distinct)
  }
}
