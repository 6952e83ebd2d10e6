package graft

import org.apache.spark.HashPartitioner
import org.apache.spark.scheduler.SparkListenerStageSubmitted
import org.apache.spark.sql.graft.ListenerEvents._

import graft.obs.Meter

class MeterSpec extends GraftSuite {

  private def sc = spark.sparkContext

  test("a collect charges exactly its own jobs, stages and tasks") {
    val rdd = sc.parallelize(1 to 100, 3).map(_ * 2)
    val ((sum, n), c) = Meter.measure(sc, "meter-own") {
      (rdd.collect().sum, rdd.count())
    }
    assert(sum == 10100 && n == 100)
    assert(c.jobs == 2)
    assert(c.stages.size == 2 && c.stages.values.forall(_.tasks == 3))
    assert(c.stages.values.forall(s => s.completedMs >= s.submittedMs && s.name.nonEmpty))
    assert(c.spillBytes == 0L && c.maxTaskShuffleWrites == 0L)
    // the group is cleared on the way out
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("a job under another group on another thread is not charged") {
    val m = Meter(sc)
    try {
      sc.setJobGroup("meter-mine", "mine", interruptOnCancel = false)
      val other = new Thread(() => {
        sc.setJobGroup("meter-other", "other", interruptOnCancel = false)
        sc.parallelize(1 to 10, 2).count()
        sc.parallelize(1 to 10, 2).count()
      })
      other.start()
      sc.parallelize(1 to 10, 2).count()
      other.join()
      val mine = m.take("meter-mine")
      assert(mine.jobs == 1 && mine.stages.size == 1)
      assert(m.take("meter-other").jobs == 2)
      // a taken group starts again from zero
      assert(m.take("meter-mine") == Meter.Charge())
    } finally {
      sc.clearJobGroup()
      m.close()
    }
  }

  test("spill, peak memory and per-task shuffle writes add up as counted by hand") {
    val m = Meter(sc)
    try {
      m.onJobStart(jobStart(901, "meter-hand", Seq(9010, 9011)))
      m.onJobStart(jobStart(902, "meter-else", Seq(9020)))
      m.onStageSubmitted(SparkListenerStageSubmitted(stage(9010, tasks = 2)))
      Seq(
        taskEnd(9010, memSpill = 100, diskSpill = 5, peakMem = 1000, shuffleWrites = 7),
        taskEnd(9010, ms = 3, peakMem = 3000, shuffleWrites = 2),
        taskEnd(9011, memSpill = 50, diskSpill = 50, peakMem = 2000, shuffleWrites = 9),
        taskEnd(9020, memSpill = 1L << 30, peakMem = 1L << 30, shuffleWrites = 99),
        taskEnd(9099, memSpill = 1L << 30, peakMem = 1L << 30, shuffleWrites = 99)
      ).foreach(m.onTaskEnd)
      val c = m.take("meter-hand")
      assert(c.jobs == 1)
      assert(c.spillBytes == 100 + 5 + 50 + 50)
      assert(c.peakTaskMemBytes == 3000)
      assert(c.maxTaskShuffleWrites == 9)
      assert(c.stages.keys.toSeq == Seq(9010, 9011))
      val s = c.stages(9010)
      assert(s.name == "stage 9010" && s.taskMs == 5 + 3 && s.shuffleWriteRecords == 9)
      assert(c.stages(9011).shuffleWriteRecords == 9)
      assert(m.take("meter-else").spillBytes == 1L << 30)
    } finally m.close()
  }

  test("max per-task shuffle writes shows a skewed map side, the stage sum the total") {
    // partition 0 (0..249) keeps all 250 rows, the other three 25 each
    val rdd = sc.parallelize(0 until 1000, 4)
      .filter(i => i < 250 || i % 10 == 0).map(i => (i, i))
      .partitionBy(new HashPartitioner(2))
    val (n, c) = Meter.measure(sc, "meter-skew")(rdd.count())
    assert(n == 325L && c.jobs == 1)
    assert(c.maxTaskShuffleWrites == 250L)
    val Seq(map, reduce) = c.stages.values.toSeq
    assert(map.tasks == 4 && map.shuffleWriteRecords == 325L)
    assert(reduce.tasks == 2 && reduce.shuffleReadRecords == 325L)
  }
}
