package graftbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{Merge, VersionStore}

/** store_upsert: writes beside reads on the versioned store.
  *
  * Closed loop, one client, a fixed seeded interleave. Each change
  * batch of upserts and deletes (keys Zipf-skewed towards the newest)
  * is one `Merge.mergeVersioned` commit, followed by point and range
  * lookups through `VersionStore.latestIndexed` and one time-travel
  * read through `VersionStore.asOf`. Every `MaintainEvery`-th commit
  * runs `optimizeSorted` and `vacuum` inline. A merge leaves the newest
  * version without skipping stats until maintenance re-sorts it, so
  * read cost, write cost and space trade against each other. */
final class StoreUpsert(val runner: Runner) extends Workload {
  import StoreUpsert._

  private val spark = runner.spark
  private val tr = runner.tracer
  private val seed = runner.args.seed
  private val root = runner.args.work.resolve("store").toString
  private val rnd = Gen.rng(seed, "store_upsert/lookups")
  private val base: TreeMap[Long, Rec] = genBase(seed)
  /** Ground truth: the table at each version still on disk. */
  private val states = mutable.LinkedHashMap.empty[Long, TreeMap[Long, Rec]]
  private var batch = 0
  private var lastSpaceAmp = 0.0
  private var lastSpaceAmpRows = 0.0

  val headline = "read"
  val aux = "merge"
  def headlineSamples: Int = runner.samples(headline).size

  def generate(): String = {
    val h = new Gen.Hasher()
    base.valuesIterator.foreach(r => h.add(r.toString))
    var st = base
    (0 until FingerprintBatches).foreach { b =>
      val ch = genChanges(seed, b, st)
      ch.foreach(c => h.add(c.toString))
      st = fold(st, ch)
    }
    h.hex
  }

  def setup(): Unit = {
    val v0 = VersionStore.write(toDf(base.values.toSeq), root)
    states(v0) = base
    val v1 = VersionStore.optimizeSorted(spark, root, Seq("o_orderkey"),
      targetFileMB = 1, minFiles = Files_)
    states(v1) = base
    runner.warm = true
    step()
    runner.warm = false
  }

  /** One maintenance cycle: `MaintainEvery` commits and their lookups.
    * A run always measures whole cycles, so its mix of lookups on
    * sorted and unsorted versions is the same whatever its length. */
  def step(): Unit = (0 until MaintainEvery).foreach(_ => commit())

  /** One commit and the lookups that follow it. */
  private def commit(): Unit = {
    val b = batch
    batch += 1
    val before = states.last._2
    val changes = genChanges(seed, b, before)
    val after = fold(before, changes)
    val maintain = (b + 1) % MaintainEvery == 0
    val changedRows = changes.map(_.key).distinct
      .count(k => before.contains(k) || after.contains(k))
    val (v, maint) = runner.op(aux, if (maintain) "maintain" else aux) {
      val v = tr.span("etl.Merge.mergeVersioned") {
        Merge.mergeVersioned(spark, root, changesDf(changes),
          Seq("o_orderkey"), col("ts"), col("gen"), Some("is_delete"))
      }
      val maint = if (!maintain) None else {
        val o = tr.span("etl.VersionStore.optimizeSorted") {
          VersionStore.optimizeSorted(spark, root, Seq("o_orderkey"),
            targetFileMB = 1, minFiles = Files_)
        }
        val dropped = tr.span("etl.VersionStore.vacuum") {
          VersionStore.vacuum(spark, root, KeepLast)
        }
        Some((o, dropped))
      }
      (v, maint)
    } { case (v, maint) =>
      if (states.contains(v)) Some(s"merge $b reused version $v")
      else maint match {
        case Some((o, _)) if o != v + 1 => Some(s"optimize gave $o after $v")
        case Some((o, dropped)) =>
          val want = (states.keys.toSeq :+ v :+ o).sorted.dropRight(KeepLast)
          if (dropped.sorted == want) None
          else Some(s"vacuum dropped ${dropped.sorted}, expected $want")
        case None => None
      }
    }
    states(v) = after
    tr.record("etl.write_amp", after.size.toDouble / math.max(1, changedRows))
    maint.foreach { case (o, dropped) =>
      states(o) = after
      dropped.foreach(states.remove)
      lastSpaceAmp = spaceAmp(o)
      lastSpaceAmpRows = states.values.map(_.size).sum.toDouble / after.size
    }
    // warm-up commits in the middle of a cycle skip their lookups: the
    // first and the maintenance commit already run every lookup kind
    if (!runner.warm || b == 0 || maintain)
      (0 until Lookups).foreach(i => lookup(b, i))
  }

  private def lookup(b: Int, i: Int): Unit = {
    val latestV = states.last._1
    val latest = states.last._2
    val kmax = latest.lastKey
    // point, point, range on the latest version, then a range as of an
    // earlier version still on disk
    val (v, state, lo, hi) = i match {
      case 0 | 1 =>
        val k = if (rnd.nextBoolean()) kmax - 4L * rnd.nextInt(200)
          else 1L + 4L * rnd.nextInt(BaseRows)
        (latestV, latest, k, k)
      case 2 =>
        val lo = 1L + 4L * rnd.nextInt(BaseRows)
        (latestV, latest, lo, lo + 4L * RangeKeys)
      case _ =>
        val older = states.keys.toSeq.dropRight(1)
        val pick = if (older.isEmpty) latestV else older(rnd.nextInt(older.size))
        val lo = 1L + 4L * rnd.nextInt(BaseRows)
        (pick, states(pick), lo, lo + 4L * RangeKeys)
    }
    val pred = col("o_orderkey").between(lo, hi)
    runner.op(headline) {
      if (v == latestV) tr.span("etl.VersionStore.latestIndexed") {
        val df = VersionStore.latestIndexed(spark, root).where(pred)
        val rows = df.collect()
        if (tr.traced) tr.record("io.DataSkipping.scan_ratio",
          filesScanned(df).toDouble / math.max(1, dataFiles(v).size))
        rows
      } else tr.span("etl.VersionStore.asOf") {
        VersionStore.asOf(spark, root, v).where(pred).collect()
      }
    } { rows =>
      val got = rows.map(fromRow).sortBy(_.key).toSeq
      val want = state.range(lo, hi + 1).values.toSeq
      if (got == want) None
      else Some(s"lookup [$lo, $hi] at v$v: ${got.size} rows, expected ${want.size}")
    }
  }

  private def dataFiles(v: Long) = {
    val s = Files.list(Paths.get(root, s"v=$v"))
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.endsWith(".parquet") && !n.startsWith("_")
    }.toSeq finally s.close()
  }

  /** Bytes under the store root over the latest version's data bytes. */
  private def spaceAmp(v: Long): Double =
    Gen.treeBytes(Paths.get(root)).toDouble /
      math.max(1L, dataFiles(v).map(Files.size).sum)

  private def filesScanned(df: DataFrame): Long = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }

  private def toDf(recs: Seq[Rec]): DataFrame =
    spark.createDataFrame(
      recs.map(r => Row(r.key, r.cust, r.status, r.price,
        java.sql.Date.valueOf(r.day))).asJava, Schema)

  private def changesDf(ch: Seq[Change]): DataFrame =
    spark.createDataFrame(ch.map(c => Row(c.rec.key, c.rec.cust,
      c.rec.status, c.rec.price, java.sql.Date.valueOf(c.rec.day), c.ts, c.gen,
      c.delete)).asJava,
      ChangeSchema)

  /** Space amplification after the latest maintenance: by bytes, and by
    * rows over the versions on disk. The byte ratio moves in its fifth
    * digit between runs of one seed, because row order inside a merge's
    * output files (and so their compressed size) is not fixed; the row
    * ratio repeats exactly. */
  override def extraEndToEnd(): Map[String, Double] =
    Map("space_amp" -> lastSpaceAmp, "space_amp_rows" -> lastSpaceAmpRows)

  override def witnesses(): Map[String, Any] =
    Map("commits" -> batch, "versions_on_disk" -> states.size)
}

object StoreUpsert {
  val BaseRows = 20000
  val BatchRows = 200
  val Lookups = 4
  val RangeKeys = 50
  val MaintainEvery = 4
  val KeepLast = 3
  val Files_ = 8
  val FingerprintBatches = 6
  private val Day0 = LocalDate.of(2024, 1, 1)
  private val Statuses = Array("O", "F", "P")

  final case class Rec(key: Long, cust: Long, status: String, price: Double,
                       day: LocalDate)
  final case class Change(rec: Rec, ts: Int, gen: Int, delete: Boolean) {
    def key: Long = rec.key
  }

  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType), StructField("o_orderdate", DateType)))
  val ChangeSchema: StructType = StructType(Schema.fields ++ Seq(
    StructField("ts", IntegerType), StructField("gen", IntegerType),
    StructField("is_delete", BooleanType)))

  private def rec(r: java.util.SplittableRandom, key: Long): Rec =
    Rec(key, 1L + r.nextInt(1500), Statuses(r.nextInt(3)),
      r.nextInt(50000000) / 100.0, Day0.plusDays(r.nextInt(2400).toLong))

  def fromRow(r: Row): Rec = Rec(r.getLong(0), r.getLong(1), r.getString(2),
    r.getDouble(3), r.get(4) match {
      case d: java.sql.Date => d.toLocalDate
      case d: LocalDate => d
    })

  /** The `orders`-shaped base table: keys 1, 5, 9, ... like TPC-H's
    * sparse order keys. */
  def genBase(seed: Long): TreeMap[Long, Rec] = {
    val r = Gen.rng(seed, "store_upsert/base")
    TreeMap.from((0 until BaseRows).map { i =>
      val k = 1L + 4L * i
      k -> rec(r, k)
    })
  }

  private val zipf = new Gen.Zipf(4000, 1.1)

  /** Change batch `b` against the table as it stands before it: keys
    * Zipf-skewed towards the newest, a tenth fresh inserts, a tenth
    * deletes; within-batch repeats resolve by (ts, gen). */
  def genChanges(seed: Long, b: Int, st: TreeMap[Long, Rec]): Seq[Change] = {
    val r = Gen.rng(seed, "store_upsert/changes", b)
    val newest = st.lastKey
    (0 until BatchRows).map { g =>
      val u = r.nextDouble()
      val key =
        if (u < 0.1) newest + 4L * (1 + r.nextInt(3 * BatchRows))
        else math.max(1L, newest - 4L * (zipf.sample(r) - 1))
      Change(rec(r, key), b, g, delete = u >= 0.1 && u < 0.2)
    }
  }

  /** Apply a change batch in order: the sequential-fold ground truth. */
  def fold(st: TreeMap[Long, Rec], ch: Seq[Change]): TreeMap[Long, Rec] =
    ch.sortBy(c => (c.ts, c.gen)).foldLeft(st) { (m, c) =>
      if (c.delete) m - c.key else m.updated(c.key, c.rec)
    }
}
