package graft.obs

import scala.collection.immutable.SortedMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graft.ListenerBridge

/** Charges Spark work to the job group it ran under, along the chain
  * group → job → stage → task: a job carries its group in its
  * properties and names its stages when it starts, and a task names its
  * stage when it ends. Jobs under no group are not charged; a group's
  * charge is kept until [[take]].
  *
  * A group is set per thread (`SparkContext.setJobGroup`) and
  * inherited by the threads Spark starts for that thread's query
  * (broadcasts, subqueries), so a group names one caller's work even
  * on a shared session.
  *
  *   val (rows, c) = Meter.measure(sc, "load")(df.collect())
  *   c.jobs; c.spillBytes
  */
final class Meter private (sc: SparkContext) extends SparkListener {
  import Meter._

  private val charges = mutable.Map.empty[String, Charge]
  private val jobs = mutable.Map.empty[Int, (String, Long)] // group, start ms
  private val stageGroup = mutable.Map.empty[Int, String]

  private def charge(group: String)(f: Charge => Charge): Unit =
    charges(group) = f(charges.getOrElse(group, Charge()))

  private def stage(id: Int)(f: Stage => Stage): Unit =
    stageGroup.get(id).foreach(charge(_)(c =>
      c.copy(stages = c.stages.updated(id, f(c.stages.getOrElse(id, Stage(id)))))))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).foreach { g =>
      jobs(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
      charge(g)(c => c.copy(jobs = c.jobs + 1))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (g, t0) =>
      charge(g)(c => c.copy(jobMs = c.jobMs + math.max(0L, e.time - t0)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stage(i.stageId)(_.copy(name = i.name.takeWhile(_ != '\n'),
      submittedMs = i.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stage(i.stageId)(_.copy(tasks = i.numTasks,
      completedMs = i.completionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ms = Option(e.taskInfo).fold(0L)(_.duration)
    val m = Option(e.taskMetrics)
    def of(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.fold(0L)(f)
    val written = of(_.shuffleWriteMetrics.recordsWritten)
    stage(e.stageId)(s => s.copy(taskMs = s.taskMs + ms,
      cpuNs = s.cpuNs + of(_.executorCpuTime),
      inputRecords = s.inputRecords + of(_.inputMetrics.recordsRead),
      shuffleReadRecords = s.shuffleReadRecords + of(_.shuffleReadMetrics.recordsRead),
      shuffleWriteRecords = s.shuffleWriteRecords + written))
    stageGroup.get(e.stageId).foreach(charge(_)(c => c.copy(
      spillBytes = c.spillBytes + of(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      peakTaskMemBytes = math.max(c.peakTaskMemBytes, of(_.peakExecutionMemory)),
      maxTaskShuffleWrites = math.max(c.maxTaskShuffleWrites, written))))
  }

  /** Everything charged to `group` so far, after every event already
    * posted has been delivered; the group starts again from zero. */
  def take(group: String): Charge = {
    ListenerBridge.waitUntilEmpty(sc)
    synchronized {
      stageGroup.filterInPlace((_, g) => g != group)
      jobs.filterInPlace { case (_, (g, _)) => g != group }
      charges.remove(group).getOrElse(Charge())
    }
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object Meter {

  private val GroupKey = "spark.jobGroup.id"

  /** One stage's share of a [[Charge]]. Times are epoch milliseconds;
    * `taskMs` is the tasks' wall time, `cpuNs` their executor CPU. */
  final case class Stage(id: Int, name: String = "", submittedMs: Long = 0L,
                         completedMs: Long = 0L, tasks: Int = 0, taskMs: Long = 0L,
                         cpuNs: Long = 0L, inputRecords: Long = 0L,
                         shuffleReadRecords: Long = 0L, shuffleWriteRecords: Long = 0L) {
    def wallMs: Long = math.max(0L, completedMs - submittedMs)
  }

  /** The work charged to one job group: its jobs and their summed wall
    * time, the stages it submitted (by id), spilled bytes, and the
    * largest per-task peak execution memory and shuffle-write records. */
  final case class Charge(jobs: Int = 0, jobMs: Long = 0L,
                          stages: SortedMap[Int, Stage] = SortedMap.empty,
                          spillBytes: Long = 0L, peakTaskMemBytes: Long = 0L,
                          maxTaskShuffleWrites: Long = 0L)

  /** A meter listening on `sc` until [[Meter.close]]. */
  def apply(sc: SparkContext): Meter = {
    val m = new Meter(sc)
    sc.addSparkListener(m)
    m
  }

  /** Runs `body` on this thread under job group `group` and returns its
    * result with the work charged to the group. The thread's job group
    * is cleared afterwards. */
  def measure[T](sc: SparkContext, group: String)(body: => T): (T, Charge) = {
    val m = Meter(sc)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try {
      val out = body
      (out, m.take(group))
    } finally {
      sc.clearJobGroup()
      m.close()
    }
  }
}
