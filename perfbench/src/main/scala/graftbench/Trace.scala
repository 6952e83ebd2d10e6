package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.CodegenBridge
import org.apache.spark.sql.graftbench.EngineBridge
import org.apache.spark.storage.StorageLevel

/** Spans around the benchmark's calls into graft, and the Spark
  * engine work done under each of them.
  *
  * A traced op runs every call in a span (name, start, end, parent,
  * op id) and each span under its own Spark job group, so the
  * listener below can charge jobs, stages, task time and planning
  * time to it. Lazy results are run to completion (and cached) at the
  * span boundary through [[force]], so their jobs land in the span
  * that built them. An untraced op pays none of this: `span` is a
  * plain call and `force` returns its argument.
  *
  * All state is touched from the client thread and the listener-bus
  * thread, hence the `synchronized` blocks. */
final class Tracer(spark: SparkSession, cores: Int, listen: Boolean) {

  final class Span(val id: Int, val name: String, val parent: Int,
                   val op: Int, val start: Long) {
    var end = 0L
    var compiles = 0L
  }

  /** Engine work charged to one job group. */
  final class Acc {
    var jobs, stages = 0
    var planMs, taskMs, gcMs, cpuNs, shuffleBytes, spillBytes = 0L
    val jobTimes = mutable.ArrayBuffer.empty[(Long, Long)] // wall ms
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opId = -1
  private var opTraced = false
  private var opStartMs = 0L
  private var opCompiles0 = 0L
  private val forced = mutable.ArrayBuffer.empty[DataFrame]
  private var adopted: Seq[String] = Nil

  private val accs = mutable.Map.empty[String, Acc]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, String]

  /** Per-op values, by metric name, of the traced ops. */
  val perOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def acc(g: String): Acc = accs.getOrElseUpdate(g, new Acc)
  private def opGroup(op: Int) = s"op-$op"
  private def spanGroup(s: Span) = s"span-${s.id}"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Tracer.JobGroupKey)))
        .filter(_ != Tracer.Untraced)
      g.foreach { g =>
        jobGroup(e.jobId) = g
        jobStart(e.jobId) = e.time
        acc(g).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      for (g <- jobGroup.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
        acc(g).jobTimes += ((t0, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageGroup.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
        val a = acc(g)
        a.taskMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          s.jobGroupId.filter(_ != Tracer.Untraced)
            .foreach(execGroup(s.executionId) = _)
        case s: SparkListenerSQLExecutionEnd =>
          execGroup.remove(s.executionId).foreach { g =>
            acc(g).planMs += EngineBridge.planMillis(s)
          }
        case _ => ()
      }
    }
  }
  if (listen) spark.sparkContext.addSparkListener(listener)

  def traced: Boolean = opTraced

  /** Job groups charged to whichever op is running: a continuous
    * query's run id, whose jobs start on the query's own thread. */
  def adopt(groups: Seq[String]): Unit = synchronized { adopted = groups }

  /** Start op `id`; when `on`, its calls are traced. */
  def beginOp(id: Int, on: Boolean): Unit = synchronized {
    // work of adopted groups between traced ops belongs to no op
    adopted.foreach(accs.remove)
    opId = id
    opTraced = on
    opStartMs = System.currentTimeMillis()
    opCompiles0 = CodegenBridge.compileCount
    setGroup(if (on) opGroup(id) else Tracer.Untraced)
  }

  /** Run `body` as span `name` of the current op. */
  def span[T](name: String)(body: => T): T =
    if (!opTraced) body
    else {
      val s = synchronized {
        val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id),
          opId, System.nanoTime())
        spans += s
        stack = s :: stack
        s
      }
      val cg0 = CodegenBridge.compileCount
      setGroup(spanGroup(s))
      try body
      finally synchronized {
        s.end = System.nanoTime()
        s.compiles = CodegenBridge.compileCount - cg0
        stack = stack.tail
        setGroup(stack.headOption.fold(opGroup(opId))(spanGroup))
      }
    }

  /** Run a lazy result to completion inside the current span and hand
    * back its cached form, so its jobs are charged here rather than to
    * whichever later call first consumes it. */
  def force(df: DataFrame): DataFrame =
    if (!opTraced) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.write.format("noop").mode("overwrite").save()
      synchronized(forced += p)
      p
    }

  /** Record a per-op value for a per-layer metric of a traced op. */
  def record(name: String, v: Double): Unit = synchronized {
    if (opTraced)
      perOp.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
  }

  /** Close the current op: drop its forced caches and, when traced,
    * turn its spans and job groups into per-op metric values. */
  def endOp(): Unit = {
    val endMs = System.currentTimeMillis()
    val compiles = CodegenBridge.compileCount - opCompiles0
    setGroup(Tracer.Untraced)
    synchronized { forced.foreach(_.unpersist(blocking = true)); forced.clear() }
    if (opTraced) {
      EngineBridge.drainListeners(spark.sparkContext)
      synchronized {
        val mine = spans.filter(_.op == opId)
        val spanAcc = mine.map(s => s.id -> accs.remove(spanGroup(s))).toMap
        val all = accs.remove(opGroup(opId)).toSeq ++ spanAcc.values.flatten ++
          adopted.flatMap(accs.remove)
        val wallS = (endMs - opStartMs) / 1000.0
        recordEngine(all, wallS, compiles)
        record("sched.gap_s", math.max(0.0,
          wallS - covered(all.flatMap(_.jobTimes), opStartMs, endMs) / 1000.0))
        // a span's self time excludes its child spans; one op may call
        // the same function more than once, so values sum per name
        val byName = mutable.LinkedHashMap.empty[String, (Double, Double, Double)]
        mine.foreach { s =>
          val kids = mine.filter(_.parent == s.id).map(k => k.end - k.start).sum
          val self = (s.end - s.start - kids) / 1e9
          val jobs = spanAcc(s.id).fold(0)(_.jobs)
          val (a, b, c) = byName.getOrElse(s.name, (0.0, 0.0, 0.0))
          byName(s.name) = (a + self, b + jobs, c + s.compiles)
        }
        byName.foreach { case (n, (self, jobs, cg)) =>
          record(s"$n.s", self)
          record(s"$n.jobs", jobs)
          record(s"$n.compiles", cg)
        }
      }
    }
  }

  private def recordEngine(all: Seq[Acc], wallS: Double, compiles: Long): Unit = {
    val taskS = all.map(_.taskMs).sum / 1000.0
    record("driver.plan_s", all.map(_.planMs).sum / 1000.0)
    record("driver.compiles", compiles.toDouble)
    record("sched.jobs", all.map(_.jobs).sum.toDouble)
    record("sched.stages", all.map(_.stages).sum.toDouble)
    record("exec.task_s", taskS)
    record("exec.cpu_s", all.map(_.cpuNs).sum / 1e9)
    record("exec.gc_s", all.map(_.gcMs).sum / 1000.0)
    record("exec.busy_ratio", if (wallS > 0) taskS / (wallS * cores) else 0.0)
    record("exec.shuffle_mb", all.map(_.shuffleBytes).sum / 1048576.0)
    record("exec.spill_mb", all.map(_.spillBytes).sum / 1048576.0)
  }


  private def setGroup(g: String): Unit =
    spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)

  /** Milliseconds of [lo, hi] covered by at least one interval. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** The spans kept in memory, one JSON object each. */
  def spansJson: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.start,
      "end_ns" -> s.end, "compiles" -> s.compiles))
  }
}

object Tracer {
  private val JobGroupKey = "spark.jobGroup.id"
  private val Untraced = "untraced"
}
