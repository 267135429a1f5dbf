package graft.tools

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Work-based per-query profile: jobs, stages, tasks, shuffle bytes,
  * executor CPU time — metrics a noisy (CPU-steal-prone) host cannot
  * distort the way it distorts wall clock. Dev tool for the
  * optimization rounds; not part of the driver contract.
  * Usage: runMain graft.tools.JobStats [name,name,...] */
object JobStats {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args(0).split(",").toSeq
                else graft.SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.create("JobStats")
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufWrite = new AtomicLong(0L)
    val cpuNs = new AtomicLong(0L)
    val detail = sys.env.get("SPARK_GRAFT_STAGE_DETAIL").contains("1")
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shufWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        if (detail) {
          val i = s.stageInfo
          val ms = for {a <- i.completionTime; b <- i.submissionTime} yield a - b
          println(f"  STAGE ${i.stageId}%4d wall=${ms.getOrElse(-1L)}%6dms " +
            f"cpu=${i.taskMetrics.executorCpuTime / 1e6}%8.0fms " +
            f"tasks=${i.numTasks}%4d ${i.name.linesIterator.next().take(110)}")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // one untimed run to warm codegen, then the measured run
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
      Thread.sleep(200) // let listener events drain
      jobs.set(0); stages.set(0); tasks.set(0); shufWrite.set(0L); cpuNs.set(0L)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // drain
      println(f"JOBSTATS $name wall=$wall%.3f jobs=${jobs.get} stages=${stages.get} " +
        f"tasks=${tasks.get} shuffleMB=${shufWrite.get / 1e6}%.1f cpuSec=${cpuNs.get / 1e9}%.2f")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
