package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.graft.ListenerBridge

/** Plan/pushdown audit tool: for each query (args, or all), print the
  * isolated cold and warm wall time, the warm run's job and stage
  * table, and the formatted physical plan. Source for PERF.md; also
  * how plan regressions get caught between rounds. The stage table
  * splits a query's wall clock into jobs, stages and tasks — the
  * measure-first tool for separating fixed scheduling overhead from
  * data work at small SFs.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sf dir> runMain graft.Explain [out.txt] [query ...]
  */
object Explain {

  /** Per-stage timings, collected from the listener bus. */
  private final case class St(var name: String = "", var submitted: Long = 0,
                              var completed: Long = 0, var tasks: Int = 0,
                              var taskTime: Long = 0, var inRec: Long = 0,
                              var srRec: Long = 0, var swRec: Long = 0,
                              var cpu: Long = 0)

  /** Jobs and stages seen since the last [[reset]]. */
  private final class StageListener extends SparkListener {
    val stages = new ConcurrentHashMap[Int, St]
    val jobs = new ConcurrentHashMap[Int, (Long, Long)]
    def reset(): Unit = { stages.clear(); jobs.clear() }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = stages.computeIfAbsent(e.stageInfo.stageId, _ => St())
      s.name = e.stageInfo.name.takeWhile(_ != '\n')
      s.submitted = System.currentTimeMillis()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stages.computeIfAbsent(e.stageInfo.stageId, _ => St())
      s.completed = System.currentTimeMillis()
      s.tasks = e.stageInfo.numTasks
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stages.get(e.stageId)
      if (s != null && e.taskInfo != null) {
        s.taskTime += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          s.inRec += m.inputMetrics.recordsRead
          s.srRec += m.shuffleReadMetrics.recordsRead
          s.swRec += m.shuffleWriteMetrics.recordsWritten
          s.cpu += m.executorCpuTime / 1000000L
        }
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, (System.currentTimeMillis(), 0L))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val v = jobs.get(e.jobId)
      if (v != null) jobs.put(e.jobId, (v._1, System.currentTimeMillis()))
    }

    /** The summary line and one line per stage. */
    def table(): Seq[String] = {
      val js = jobs.asScala.toSeq.sortBy(_._1)
      val ss = stages.asScala.toSeq.sortBy(_._1)
      val jobWall = js.map { case (_, (a, b)) => math.max(0L, b - a) }.sum
      val stageWall = ss.map(s => math.max(0L,
        s._2.completed - s._2.submitted)).sum
      val summary =
        f"jobs=${js.size} jobwall=${jobWall / 1e3}%.2f s stages=${ss.size} " +
          f"stagewall=${stageWall / 1e3}%.2f s " +
          f"tasktime=${ss.map(_._2.taskTime).sum / 1e3}%.2f s"
      summary +: ss.map { case (id, s) =>
        f"  stage $id%3d ${s.tasks}%4d tasks " +
          f"wall=${math.max(0L, s.completed - s.submitted) / 1e3}%6.2f s " +
          f"tasktime=${s.taskTime / 1e3}%6.2f s cpu=${s.cpu / 1e3}%6.2f s " +
          f"in=${s.inRec}%9d sr=${s.srRec}%9d sw=${s.swRec}%9d " +
          f"${s.name.take(60)}"
      }
    }
  }

  def main(args: Array[String]): Unit = {
    // first arg is the output path unless it names a query
    val (out, rest) =
      if (args.headOption.exists(_.startsWith("q_")))
        ("/tmp/explain.txt", args.toSeq)
      else (args.headOption.getOrElse("/tmp/explain.txt"), args.drop(1).toSeq)
    val names = if (rest.nonEmpty) rest
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = Harness.sfDir()
    val spark = Harness.session(logLevel = "ERROR")
    val probe = new StageListener
    spark.sparkContext.addSparkListener(probe)
    val sb = new StringBuilder
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // noop write so projection expressions actually execute
      // (count() would prune them). Timed twice: `cold` matches the
      // Bench condition (nothing cached, codegen fresh); `warm` is the
      // steady-state recompute cost, and runs under the stage table
      // (codegen and JIT are then out of the decomposition). The sweep
      // *between* the two runs also frees checkpoint blocks
      // (clearCache can't see them — CheckpointBridge): without it, a
      // query that materializes persisted frames while it is built
      // (the iterative ones) hands its warm run a fully-populated
      // cache and the "warm" number measures a cache read, not the
      // query (the round-2 PERF.md q_dedup_clusters 2.74 s vs BENCH
      // 18.9 s discrepancy).
      def run(): Unit =
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val cold = Harness.timed(run())
      Harness.sweep(spark)
      ListenerBridge.waitUntilEmpty(spark.sparkContext)
      probe.reset()
      val warm = Harness.timed(run())
      ListenerBridge.waitUntilEmpty(spark.sparkContext)
      val stageTable = probe.table()
      val n = fn(spark, sfDir).count()
      sb.append(
        f"==== $name%s rows=$n%d cold_sec=$cold%.3f warm_sec=$warm%.3f ====%n")
      stageTable.foreach(l => sb.append(l).append('\n'))
      sb.append(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("\n")
      Harness.sweep(spark)
      println(f"[explain] $name%s cold=$cold%.3f warm=$warm%.3f rows=$n%d " +
        stageTable.head)
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[explain] wrote $out")
    spark.stop()
  }
}
