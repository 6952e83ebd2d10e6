package graft

import java.nio.file.{Files, Paths}

import graft.obs.Meter

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

  /** The summary line and one line per stage of a query's charge. */
  private def table(c: Meter.Charge): Seq[String] = {
    val ss = c.stages.values.toSeq
    val summary =
      f"jobs=${c.jobs} jobwall=${c.jobMs / 1e3}%.2f s stages=${ss.size} " +
        f"stagewall=${ss.map(_.wallMs).sum / 1e3}%.2f s " +
        f"tasktime=${ss.map(_.taskMs).sum / 1e3}%.2f s"
    summary +: ss.map { s =>
      f"  stage ${s.id}%3d ${s.tasks}%4d tasks " +
        f"wall=${s.wallMs / 1e3}%6.2f s " +
        f"tasktime=${s.taskMs / 1e3}%6.2f s cpu=${s.cpuNs / 1e9}%6.2f s " +
        f"in=${s.inputRecords}%9d sr=${s.shuffleReadRecords}%9d " +
        f"sw=${s.shuffleWriteRecords}%9d ${s.name.take(60)}"
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
      val (warm, charge) =
        Meter.measure(spark.sparkContext, s"explain-$name")(Harness.timed(run()))
      val stageTable = table(charge)
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
