package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One timed interval of the run: a query, one of its three layers
  * (compose, plan, execute), a stream trigger, or an output check. */
final case class Span(name: String, kind: String, parent: String,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Trace {
  final case class Job(id: Int, timeMs: Long, stages: Seq[Int])
  final case class Stage(tasks: Int, runMs: Long, cpuNs: Long, deserMs: Long,
                         gcMs: Long, shufWrite: Long, shufRead: Long,
                         spill: Long, input: Long)
}

/** Span recorder plus a `SparkListener` that keeps per-job and per-stage
  * facts. Jobs are attributed to spans afterwards by their submission
  * time, so jobs fired from the program's own worker threads (the
  * overlapped index writes) land in the right layer too. Everything stays
  * in memory until the run ends. */
final class Trace(val listening: Boolean) extends SparkListener {
  import Trace._

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.Map.empty[Int, Stage]
  @volatile private var jobsEnded = 0

  def span[T](name: String, kind: String, parent: String)(body: => T): T = {
    // a 2 ms gap keeps each job's millisecond submit time inside one span
    if (listening) Thread.sleep(2)
    val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
    try body
    finally spans += Span(name, kind, parent, ms0, System.currentTimeMillis(), ns0,
                          System.nanoTime())
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages(i.stageId) = Stage(i.numTasks, m.executorRunTime, m.executorCpuTime,
      m.executorDeserializeTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead)
  }

  /** Waits until the listener bus has delivered every job end. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (synchronized(jobsEnded < jobs.size) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // stage completions trail their job ends
  }

  /** Jobs whose submission falls inside `s`. */
  def jobsIn(s: Span): Seq[Job] = synchronized {
    jobs.filter(j => j.timeMs >= s.startMs && j.timeMs <= s.endMs).toSeq
  }

  def stagesOf(js: Seq[Job]): Seq[Stage] = synchronized {
    js.flatMap(_.stages).distinct.flatMap(stages.get)
  }
}
