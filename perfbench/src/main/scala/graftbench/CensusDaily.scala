package graftbench

import java.nio.file.Files
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{Audit, Batching, VersionStore}
import graft.io.{CsvIngest, FileSource, FileSync}
import graft.operators.{IntervalJoin, RollingWindow}
import graft.util.Retry

/** census_daily: the paper's flagship job at daily-drop size.
  *
  * Closed loop, one client. Each op is one day: the day's dirty CSV
  * files land, and the op runs from landing until the day's census
  * counts are posted — unprocessed-file detection, cleansing ingest,
  * audit columns, versioned append, zone explosion, interval
  * classification, the census count (dim snapshot, watermark, latest
  * file, count) over the store's latest snapshot, batch assignment and
  * the degrading post. At this size planning, codegen and the gaps
  * between jobs set the latency, not data volume. */
final class CensusDaily(val runner: Runner) extends Workload {
  import CensusDaily._

  private val spark = runner.spark
  private val tr = runner.tracer
  private val seed = runner.args.seed
  private val landing = runner.args.work.resolve("landing")
  private val zonesDir = runner.args.work.resolve("zones")
  private val dimPath = runner.args.work.resolve("dim.csv")
  private val storeRoot = runner.args.work.resolve("store").toString
  private val source = new FileSource.Local(landing, ".csv")
  private val dim = genDim(seed)
  private val processed = mutable.ArrayBuffer.empty[(String, Timestamp)]
  private var day = 0
  private var posted = mutable.ArrayBuffer.empty[Seq[Posting]]

  val headline = "day"
  val aux = "commit"
  def headlineSamples: Int = runner.samples(headline).size

  def generate(): String = {
    Gen.writeFile(dimPath, dimCsv(dim))
    Files.createDirectories(landing)
    Files.createDirectories(zonesDir)
    val h = new Gen.Hasher().add(dimCsv(dim))
    (0 until FingerprintDays).foreach { d =>
      val g = genDay(seed, d, dim)
      g.files.foreach { case (n, b, t) => h.add(n).add(b).add(t.toString) }
      h.add(g.zonesCsv)
    }
    h.hex
  }

  def setup(): Unit = {
    runner.warm = true
    (0 until WarmDays).foreach(_ => step())
    runner.warm = false
  }

  def step(): Unit = {
    val d = day
    day += 1
    val g = genDay(seed, d, dim)
    land(d, g)
    val zonesPath = zonesDir.resolve(f"zones_d$d%05d.csv").toString
    runner.op(headline) {
      val t0 = System.nanoTime()
      posted = mutable.ArrayBuffer.empty[Seq[Posting]]
      val log = spark.createDataFrame(processed.toSeq)
        .toDF("name", "last_modified")
      val entries = tr.span("io.FileSync.newEntries") {
        FileSync.newEntries(spark, source, log).collect()
          .map(r => (r.getString(0), r.getTimestamp(1))).toSeq
      }
      val glob = landing.toString + entries.map(_._1).sorted
        .mkString("/{", ",", "}")
      val cleansed = tr.span("io.CsvIngest.readCleansed") {
        tr.force(CsvIngest.readCleansed(spark, glob, CensusSchema, IngestOpts))
      }
      val audited = tr.span("etl.Audit.withAuditColumns") {
        tr.force(Audit.withAuditColumns(cleansed,
          Audit.runIdFrom(lit(Timestamp.valueOf(g.runTs))), "perfbench"))
      }
      tr.span("etl.VersionStore.write") {
        VersionStore.write(audited, storeRoot)
      }
      runner.checkpoint(aux, (System.nanoTime() - t0) / 1e9)
      val zones = tr.span("operators.RollingWindow.explodeZones") {
        tr.force(RollingWindow.explodeZones(
          CsvIngest.read(spark, zonesPath, ZoneSchema),
          col("start_ts"), col("end_ts"), ZoneWindow))
      }
      val classified = tr.span("operators.IntervalJoin.classify") {
        tr.force(IntervalJoin.classify(VersionStore.latest(spark, storeRoot),
          zones, Seq("dept_id"), col("census_ts"), col("z_start"), col("z_end")))
      }
      val counts = tr.span("bench.census_count") {
        tr.force(censusCount(classified,
          CsvIngest.read(spark, dimPath.toString, DimSchema,
            CsvIngest.Options(keyCols = Seq("dept_id")))))
      }
      val rows = tr.span("etl.Batching.assign") {
        Batching.assign(counts,
          concat_ws("|", col("location"), col("plan_type")), BatchSize)
          .collect()
      }
      val batches = rows.map(r => (r.getAs[Long]("batch_id"),
          Posting(r.getAs[String]("location"), r.getAs[String]("plan_type"),
            r.getAs[Long]("census_cnt"))))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.map(_._2).sortBy(p => p.location + "|" + p.planType).toSeq)
      val outcome = tr.span("util.Retry.postWithDegradation") {
        Retry.postWithDegradation(batches)(b => posted += b)
      }
      (entries, outcome)
    } { case (entries, outcome) =>
      val names = entries.map(_._1).sorted
      if (names != g.files.map(_._1).sorted)
        Some(s"day $d: newEntries gave ${names.mkString(",")}")
      else if (!outcome.fullySucceeded)
        Some(s"day $d: ${outcome.failedItems.size} postings failed")
      else if (posted.toSeq != g.expectedBatches)
        Some(s"day $d: posted ${posted.toSeq} expected ${g.expectedBatches}")
      else None
    }
    processed ++= g.files.map { case (n, _, t) =>
      (n, Timestamp.from(t.toInstant))
    }
    if (tr.traced) {
      tr.record("io.FileSync.files_new", g.files.size.toDouble)
      val all = CsvIngest.readCleansed(spark, landing.toString + "/census_d" +
        f"$d%05d_*.csv", CensusSchema, IngestOpts.copy(keyCols = Nil)).count()
      val kept = CsvIngest.readCleansed(spark, landing.toString + "/census_d" +
        f"$d%05d_*.csv", CensusSchema, IngestOpts).count()
      tr.record("io.CsvIngest.rows_in", all.toDouble)
      tr.record("io.CsvIngest.rows_dropped", (all - kept).toDouble)
      if (all != g.rowsIn || all - kept != g.rowsDropped)
        runner.failLate(s"day $d: rows_in $all/${g.rowsIn}, " +
          s"dropped ${all - kept}/${g.rowsDropped}")
    }
    // the previous day's files have been gated out once; retire them so
    // the listing stays two days deep however long the run is
    if (d > 0) {
      g.files.indices.foreach(k =>
        Files.deleteIfExists(landing.resolve(fileName(d - 1, k))))
      Files.deleteIfExists(zonesDir.resolve(f"zones_d${d - 1}%05d.csv"))
    }
  }

  private def land(d: Int, g: Day): Unit = {
    Gen.writeFile(zonesDir.resolve(f"zones_d$d%05d.csv"), g.zonesCsv)
    g.files.foreach { case (n, b, t) =>
      val p = landing.resolve(n)
      Gen.writeFile(p, b)
      Files.setLastModifiedTime(p, t)
    }
  }
}

object CensusDaily {
  /** Shape of the sf0.1 `customer` and `orders` tables, which play the
    * department dim and the census facts (as in `CensusPipeline`):
    * 15,000 customers, five market segments of near-equal size (the
    * locations), 8.88% with a balance at or below zero (invalid in the
    * dim), none without a segment; 150,000 orders over 2,405 days, so
    * 62.37 a day (p10 52, p90 73, as a Poisson count gives), spread
    * uniformly over the customers (6 to 14 orders each, p10 to p90). */
  val NDepts = 15000
  val Locations = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val InvalidShare = 0.0888
  val RowsPerDay = 62.37
  val FilesPerDay = 4
  val ZoneWindow = 1
  val BatchSize = 4
  /** Untimed warm-up days. With fewer, the measured days are still on
    * the JIT and codegen warm-up curve, and a run's median depends on
    * how far along it its window sits. */
  val WarmDays = 8
  val FingerprintDays = 4
  private val Base = LocalDateTime.of(2024, 3, 1, 0, 0)
  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  val CensusSchema: StructType = StructType(Seq(
    StructField("rec_id", LongType), StructField("dept_id", LongType),
    StructField("census_ts", TimestampType), StructField("file_ts", TimestampType),
    StructField("unit", StringType), StructField("note", StringType)))
  val ZoneSchema: StructType = StructType(Seq(
    StructField("dept_id", LongType), StructField("zone_id", IntegerType),
    StructField("start_ts", TimestampType), StructField("end_ts", TimestampType)))
  val DimSchema: StructType = StructType(Seq(
    StructField("dept_id", LongType), StructField("location", StringType),
    StructField("active", IntegerType)))
  val IngestOpts: CsvIngest.Options = CsvIngest.Options(
    keyCols = Seq("rec_id", "dept_id"), repairBareNewlines = true)

  final case class Dept(id: Long, location: Option[String], active: Boolean)
  final case class Posting(location: String, planType: String, count: Long)
  final case class Zone(dept: Long, start: LocalDateTime, end: LocalDateTime)
  final case class Fact(dept: Long, ts: LocalDateTime, fileTs: LocalDateTime)

  /** One day's drop: files (name, bytes, mtime), the zones snapshot,
    * and the ground truth computed from the generated records. */
  final case class Day(files: Seq[(String, Array[Byte], FileTime)],
                       zonesCsv: Array[Byte], runTs: LocalDateTime,
                       rowsIn: Long, rowsDropped: Long,
                       expectedBatches: Seq[Seq[Posting]])

  def fileName(d: Int, k: Int): String = f"census_d$d%05d_f$k.csv"

  /** The census count in `CensusPipeline.censusCount`'s shape: valid
    * dim snapshot, a trailing watermark as a one-row aggregate, the
    * latest file, then a count per location (and plan type).
    * `CensusPipeline.censusCount` itself is bound to the `orders` and
    * `customer` tables, so this is the benchmark's own query over
    * graft's output, traced as `bench.census_count`, not as a graft
    * operator. */
  def censusCount(classified: DataFrame, dimSnapshot: DataFrame): DataFrame = {
    val dep = dimSnapshot.where(col("active") === 1 && col("location").isNotNull)
      .select("dept_id", "location")
    val wm = classified.agg(
      (max(col("census_ts")) - expr("INTERVAL 1 DAY")).as("wm"))
    val facts = classified
      .join(broadcast(wm), col("census_ts") > col("wm"))
      .join(dep, "dept_id")
    val latest = facts.agg(max(col("file_ts")).as("latest_file"))
    facts.join(broadcast(latest), col("file_ts") === col("latest_file"))
      .groupBy(col("location"), col("plan_type"))
      .agg(count(col("rec_id")).as("census_cnt"))
  }

  def genDim(seed: Long): Seq[Dept] = {
    val r = Gen.rng(seed, "census_daily/dim")
    (1 to NDepts).map { i =>
      Dept(i.toLong, Some(Locations(r.nextInt(Locations.size))),
        r.nextDouble() >= InvalidShare)
    }
  }

  def dimCsv(dim: Seq[Dept]): Array[Byte] =
    ("dept_id,location,active\n" + dim.map(d =>
      s"${d.id},${d.location.getOrElse("")},${if (d.active) 1 else 0}\n")
      .mkString).getBytes("UTF-8")

  private def ts(t: LocalDateTime) = t.format(Fmt)

  def genDay(seed: Long, d: Int, dim: Seq[Dept]): Day = {
    val r = Gen.rng(seed, "census_daily/day", d)
    val day0 = Base.plusDays(d.toLong)
    val zones = (1 to NDepts).flatMap { dept =>
      val j = r.nextInt(60).toLong
      Seq(Zone(dept, day0.plusHours(7).plusMinutes(j), day0.plusHours(19).plusMinutes(j)),
        // the night zone ends before it starts: it wraps past midnight
        Zone(dept, day0.plusHours(19).plusMinutes(j), day0.plusHours(7).plusMinutes(j)))
    }
    val zonesCsv = ("dept_id,zone_id,start_ts,end_ts\n" + zones.zipWithIndex.map {
      case (z, i) => s"${z.dept},${i % 2},${ts(z.start)},${ts(z.end)}\n"
    }.mkString).getBytes("UTF-8")
    val header = CensusSchema.fieldNames.mkString(",")
    var rowsIn = 0L
    var dropped = 0L
    val facts = mutable.ArrayBuffer.empty[Fact]
    val rows = Gen.poisson(r, RowsPerDay)
    val files = (0 until FilesPerDay).map { k =>
      val fileTs = day0.plusHours(6L * (k + 1)).minusMinutes(1)
      val sb = new StringBuilder(header + "\r\n")
      val inFile = rows / FilesPerDay + (if (k < rows % FilesPerDay) 1 else 0)
      (0 until inFile).foreach { i =>
        if (k % 2 == 0 && i == inFile / 2) sb ++= header + "\r\n"
        val rec = d * 100000L + k * 1000L + i
        val dept = 1L + r.nextInt(NDepts)
        // dirt the generator injects; the tables are clean
        val stale = r.nextDouble() < 0.05
        val back = if (stale) 86400L * (2 + r.nextInt(4)) + r.nextInt(21600)
          else r.nextInt(21600).toLong
        val t = fileTs.minusSeconds(back)
        val nullKey = r.nextDouble() < 0.03
        val note = r.nextInt(10) match {
          case 0 | 1 => "\"Bed " + r.nextInt(40) + ", east wing\""
          case 2 => "\"first line\nsecond line\""
          case _ => "unit note " + r.nextInt(1000)
        }
        val unit = "U" + r.nextInt(9)
        sb ++= s"${if (nullKey) "" else rec.toString},$dept,${ts(t)},${ts(fileTs)},$unit,$note\r\n"
        rowsIn += 1
        if (nullKey) dropped += 1 else facts += Fact(dept, t, fileTs)
      }
      (fileName(d, k), sb.toString.getBytes("UTF-8"),
        FileTime.from(fileTs.toInstant(ZoneOffset.UTC)))
    }
    Day(files, zonesCsv, day0, rowsIn, dropped, expected(facts.toSeq, zones, dim))
  }

  /** The day's posted batches, computed in plain Scala. */
  private def expected(facts: Seq[Fact], zones: Seq[Zone],
                       dim: Seq[Dept]): Seq[Seq[Posting]] = {
    val zonesOf = zones.groupBy(_.dept)
    val classified = for {
      f <- facts
      z <- zonesOf(f.dept)
      off <- 0 to ZoneWindow
      zs = z.start.plusDays(off.toLong)
      ze = (if (z.end.isBefore(z.start)) z.end.plusDays(1) else z.end).plusDays(off.toLong)
      if !ze.isBefore(f.ts)
    } yield (f, if (!f.ts.isBefore(zs) && !f.ts.isAfter(ze)) "ACTUAL" else "PLAN")
    val wm = classified.map(_._1.ts).max.minusDays(1)
    val valid = dim.collect { case Dept(id, Some(loc), true) => id -> loc }.toMap
    val kept = classified.filter { case (f, _) =>
      f.ts.isAfter(wm) && valid.contains(f.dept) }
    val latest = kept.map(_._1.fileTs).max
    val counts = kept.filter(_._1.fileTs == latest)
      .groupBy { case (f, p) => (valid(f.dept), p) }
      .map { case ((loc, p), xs) => Posting(loc, p, xs.size.toLong) }
      .toSeq.sortBy(p => p.location + "|" + p.planType)
    counts.grouped(BatchSize).toSeq
  }
}
