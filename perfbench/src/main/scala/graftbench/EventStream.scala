package graftbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{ForeachWriter, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graft.CodegenBridge
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.operators.CensusPipeline
import graft.streaming.EventPipelines

/** event_stream: the only workload that runs `graft.streaming`.
  *
  * Closed loop, one client. `streamHourlyCensus` (update mode) and
  * `streamDedup` run continuously, each on its own MemoryStream. One op
  * takes the next micro-batch of a seeded model of the `events` table
  * (a share arriving late within the watermark, a share re-sent as
  * duplicates) and feeds it to each query in turn: append, then wait
  * until that query is idle again. Sinks stamp each row on arrival; a
  * row's emit lag runs from its query's append to that stamp. A closed
  * loop keeps a slow trigger from piling a backlog onto the next ones,
  * so a noisy host moves the lag by its own slowdown, not by a runaway
  * queue. Feeding the queries in turn keeps them from racing for the
  * four task slots, which would make each one's lag depend on whose
  * job the scheduler took first, and gives each its own compile
  * count. */
final class EventStream(val runner: Runner) extends Workload {
  import EventStream._

  private val spark = runner.spark
  private val tr = runner.tracer
  private val emissions: IndexedSeq[Emission] =
    genEmissions(runner.args.seed, MaxBatches * BatchEvents)
  /** One source per query: a MemoryStream tracks a single reader's
    * committed offsets. Every batch is appended to both. */
  private var sources: Seq[MemoryStream[Event]] = Nil
  private var queries: Seq[StreamingQuery] = Nil
  private var batch = 0
  private val received = mutable.ArrayBuffer.empty[SinkRow]
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  val headline = "emit_lag"
  val aux = "dedup_lag"
  def headlineSamples: Int = runner.samples(headline).size

  def generate(): String = {
    val h = new Gen.Hasher()
    emissions.take(FingerprintEmissions).foreach(e => h.add(e.toString))
    h.hex
  }

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(e.progress)
  }

  def setup(): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.streams.addListener(listener)
    Sink.clear()
    sources = Seq(MemoryStream[Event], MemoryStream[Event])
    queries = Seq(
      EventPipelines.streamHourlyCensus(sources(0).toDS().toDF())
        .writeStream.queryName("streamHourlyCensus").outputMode("update")
        .trigger(Trigger.ProcessingTime(0L)).foreach(new Sink("hourly"))
        .start(),
      EventPipelines.streamDedup(sources(1).toDS().toDF(), "ts", Seq("event_id"))
        .writeStream.queryName("streamDedup").outputMode("append")
        .trigger(Trigger.ProcessingTime(0L)).foreach(new Sink("dedup"))
        .start())
    tr.adopt(queries.map(_.runId.toString))
    // the first triggers plan, compile and open their state stores, and
    // the JIT needs a dozen or so before a trigger's cost settles
    runner.warm = true
    val t0 = System.nanoTime()
    while (batch < WarmBatches && System.nanoTime() - t0 < WarmLimitNs) step()
    runner.warm = false
  }

  def step(): Unit = {
    val b = batch
    batch += 1
    val events = emissions.slice(b * BatchEvents, (b + 1) * BatchEvents)
      .map(_.event)
    progress.clear()
    // per query: (append stamp, compiles while it ran alone)
    val fed = runner.op("batch") {
      sources.zip(queries).map { case (src, q) =>
        val cg0 = CodegenBridge.compileCount
        val t0 = Clock.nowUs
        src.addData(events: _*)
        q.processAllAvailable()
        (t0, CodegenBridge.compileCount - cg0)
      }
    } { _ => None }
    val rows = Sink.drain()
    rows.foreach { case SinkRow(tag, _, arrivedUs) =>
      val hourly = tag == "hourly"
      runner.checkpoint(if (hourly) headline else aux,
        (arrivedUs - fed(if (hourly) 0 else 1)._1) / 1e6)
    }
    received ++= rows
    if (tr.traced) {
      progress.asScala.foreach(record)
      queries.zip(fed).foreach { case (q, (_, cg)) =>
        tr.record(s"streaming.${q.name}.compiles", cg.toDouble)
      }
    }
  }

  /** Per-trigger phases of a traced op. */
  private def record(p: StreamingQueryProgress): Unit = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1000.0 }
    def s(k: String) = d.getOrElse(k, 0.0)
    val q = s"streaming.${p.name}"
    tr.record(s"$q.trigger_s", s("triggerExecution"))
    tr.record(s"$q.plan_s", s("queryPlanning"))
    tr.record(s"$q.wal_s", s("walCommit") + s("commitOffsets"))
    tr.record(s"$q.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
    tr.record(s"$q.state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1000.0)
  }

  override def finalChecks(): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    val sent = emissions.take(batch * BatchEvents)
    // the hourly stream, drained: the last update of each group
    val finalHourly = mutable.Map.empty[(String, Long), (Long, Double)]
    val dedupIds = mutable.ArrayBuffer.empty[Long]
    received.foreach { case SinkRow(tag, r, _) =>
      if (tag == "hourly")
        finalHourly((r.getString(0), r.getTimestamp(1).getTime * 1000L)) =
          (r.getLong(2), r.getDouble(3))
      else dedupIds += r.getAs[Long]("event_id")
    }
    val truth = expectedHourly(sent)
    if (finalHourly.toMap != truth)
      problems += s"streamHourlyCensus drained to ${finalHourly.size} groups " +
        s"that differ from the ${truth.size} expected"
    import spark.implicits._
    val twin = CensusPipeline.hourlyAgg(sent.map(_.event).toDS().toDF())
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime * 1000L) ->
        (r.getLong(2), r.getDouble(3))).toMap
    if (twin != truth)
      problems += "the batch twin hourlyAgg differs from the expected counts"
    val distinct = sent.map(_.id).distinct
    if (dedupIds.size != distinct.size || dedupIds.toSet != distinct.toSet)
      problems += s"streamDedup emitted ${dedupIds.size} rows for " +
        s"${distinct.size} distinct events"
    problems.toSeq
  }

  override def witnesses(): Map[String, Any] =
    Map("batches" -> batch, "events" -> batch * BatchEvents)

  override def close(): Unit = {
    queries.foreach(_.stop())
    spark.streams.removeListener(listener)
  }
}

object EventStream {
  val BatchEvents = 200
  val WarmBatches = 12
  val WarmLimitNs = 40000000000L
  /** Enough batches for the longest run the loop allows. */
  val MaxBatches = 600
  val FingerprintEmissions = 5000
  /** Shape of the sf0.1 `events` table: 100,000 events from 1,500
    * users over 30 days. Gaps between event times are exponential with
    * a mean of 25.92 s (p10 2.7 s, median 17.8 s, p90 59.8 s), so a
    * 200-event batch spans about 86 minutes and hourly windows close
    * and are evicted every batch. The five types are equally common
    * (19.8% to 20.3%), users are too (45 to 99 events each; the top
    * tenth of users send 12.3%), and values are exponential with a
    * mean of 49.87 (median 34.77, p99 228.08), in cents. */
  val MeanGapMs = 25920.0
  val Users = 1500
  val MeanValue = 49.87
  private val Types = Array("signup", "purchase", "view", "click", "error")
  private val SimBaseUs = 1704067200000000L // 2024-01-01T00:00:00Z

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  /** One append: a fresh event or a duplicate re-send of one. */
  final case class Emission(id: Long, tsUs: Long, user: Long,
                            eventType: String, value: Double) {
    def hourUs: Long = tsUs - Math.floorMod(tsUs, 3600000000L)
    def event: Event =
      Event(id, new Timestamp(tsUs / 1000L), user, eventType, value)
  }

  /** Shared stamp clock of the client and the sinks. */
  object Clock {
    private val base = System.nanoTime()
    def nowUs: Long = (System.nanoTime() - base) / 1000L
  }

  final case class SinkRow(tag: String, row: Row, arrivedUs: Long)

  /** Stamps every row on arrival. Runs on executor threads of the same
    * JVM, hence the shared queue. */
  final class Sink(tag: String) extends ForeachWriter[Row] {
    def open(partitionId: Long, epochId: Long): Boolean = true
    def process(r: Row): Unit = Sink.rows.add(SinkRow(tag, r, Clock.nowUs))
    def close(e: Throwable): Unit = ()
  }
  object Sink {
    val rows = new ConcurrentLinkedQueue[SinkRow]()
    def clear(): Unit = rows.clear()
    /** Every row received since the last drain, in arrival order. */
    def drain(): Seq[SinkRow] =
      Iterator.continually(rows.poll()).takeWhile(_ != null).toSeq
  }

  /** The emission sequence: `n` appends. The table is in event-time
    * order and has no duplicate ids, so the late arrivals and re-sends
    * the watermarks exist for are injected: a twentieth of events
    * arrive up to 20 minutes late and a twentieth are re-sent 5 to 40
    * appends (about 2 to 17 minutes of event time) later. Both stay
    * inside the one-hour dedup and two-hour census watermarks. */
  def genEmissions(seed: Long, n: Int): IndexedSeq[Emission] = {
    val r = Gen.rng(seed, "event_stream/events")
    def exp(mean: Double) = -mean * math.log(1.0 - r.nextDouble())
    val out = mutable.ArrayBuffer.empty[Emission]
    val resend = mutable.PriorityQueue.empty[(Int, Long)](Ordering.by(x => (-x._1, -x._2)))
    val byId = mutable.Map.empty[Long, Emission]
    var id = 0L
    var tsUs = SimBaseUs
    while (out.size < n) {
      if (resend.nonEmpty && resend.head._1 <= out.size) {
        out += byId(resend.dequeue()._2)
      } else {
        tsUs += 1000L * math.round(exp(MeanGapMs))
        val late = if (r.nextInt(20) == 0) 1000L * r.nextLong(1200000L) else 0L
        val e = Emission(id, tsUs - late, 1L + r.nextInt(Users),
          Types(r.nextInt(Types.length)), math.round(exp(MeanValue) * 100) / 100.0)
        out += e
        if (r.nextInt(20) == 0) {
          byId(id) = e
          resend.enqueue((out.size + 5 + r.nextInt(36), id))
        }
        id += 1
      }
    }
    out.toIndexedSeq
  }

  /** Counts and exact sums per (type, hour) over every append, re-sends
    * included, computed in plain Scala. */
  def expectedHourly(em: Seq[Emission]): Map[(String, Long), (Long, Double)] =
    em.groupBy(e => (e.eventType, e.hourUs)).map { case (k, xs) =>
      k -> (xs.size.toLong, xs.map(e => BigDecimal(e.value)).sum.toDouble)
    }
}
