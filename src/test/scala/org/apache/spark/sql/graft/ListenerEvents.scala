package org.apache.spark.sql.graft

import java.util.Properties

import org.apache.spark.Success
import org.apache.spark.TaskState
import org.apache.spark.executor.{ExecutorMetrics, TaskMetrics}
import org.apache.spark.resource.ResourceProfile
import org.apache.spark.scheduler._

/** Hand-built scheduler events, for specs that feed a listener
  * directly: task metrics can only be set from inside Spark's package. */
object ListenerEvents {

  def stage(id: Int, tasks: Int = 1): StageInfo =
    new StageInfo(id, 0, s"stage $id", tasks, Nil, Nil, "",
      resourceProfileId = ResourceProfile.DEFAULT_RESOURCE_PROFILE_ID)

  def jobStart(jobId: Int, group: String, stageIds: Seq[Int]): SparkListenerJobStart = {
    val p = new Properties
    p.setProperty("spark.jobGroup.id", group)
    SparkListenerJobStart(jobId, 0L, stageIds.map(stage(_)), p)
  }

  /** A finished task of `stageId` that ran `ms` milliseconds. */
  def taskEnd(stageId: Int, ms: Long = 5L, memSpill: Long = 0L, diskSpill: Long = 0L,
              peakMem: Long = 0L, shuffleWrites: Long = 0L): SparkListenerTaskEnd = {
    val m = TaskMetrics.empty
    m.incMemoryBytesSpilled(memSpill)
    m.incDiskBytesSpilled(diskSpill)
    m.setPeakExecutionMemory(peakMem)
    m.shuffleWriteMetrics.incRecordsWritten(shuffleWrites)
    val info = new TaskInfo(0L, 0, 0, 0, 0L, "driver", "localhost",
      TaskLocality.PROCESS_LOCAL, false)
    info.markFinished(TaskState.FINISHED, ms)
    SparkListenerTaskEnd(stageId, 0, "ResultTask", Success, info,
      new ExecutorMetrics, m)
  }
}
