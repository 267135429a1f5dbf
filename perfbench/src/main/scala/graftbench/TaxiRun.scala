package graftbench

import java.io.{File, PrintWriter}
import org.apache.spark.sql.SparkSession

/** The streaming workload: `TaxiJobs.task4` over a generated feed, in two
  * phases of one query.
  *
  *   - backlog: the files already staged in `input` are drained,
  *     `files_per_trigger` files a trigger (throughput);
  *   - live: the generator process `gen` (argument list, separated by
  *     `|`) writes the remaining files on a wall-clock schedule, and the
  *     query keeps up with it (latency).
  *
  * Options: input= output= checkpoint= warm= warm_per_trigger= gen= files_per_trigger=
  *   out= work= cpus=
  * Every progress event (`recentProgress`, which keeps them all: see
  * [[Main.session]]) goes to `<out>.progress.jsonl`. */
object TaxiRun {
  import Main._

  def apply(spark: SparkSession, o: Map[String, String]): Unit = {
    val work = o("work")
    // set-up: a short run over a few files, in many small triggers, warms
    // codegen and the JIT
    val warm = graft.streaming.TaxiJobs.task4(spark, o("warm"), s"$work/warm-out",
      Some(s"$work/warm-cp"), o("warm_per_trigger").toInt)
    warm.processAllAvailable()
    warm.stop()
    // run.py checks only the trend lines printed after this mark
    println("graftbench: timed query starts")

    val stat0 = cpuStat()
    val startMs = System.currentTimeMillis()
    val q = graft.streaming.TaxiJobs.task4(spark, o("input"), o("output"),
      Some(o("checkpoint")), o("files_per_trigger").toInt)
    q.processAllAvailable()

    val gen = new ProcessBuilder(o("gen").split('|').toSeq: _*)
      .redirectErrorStream(true)
      .redirectOutput(new File(work, "gen-live.log"))
      .start()
    val genExit = try gen.waitFor() finally gen.destroyForcibly()
    q.processAllAvailable()
    val endMs = System.currentTimeMillis()
    val stat1 = cpuStat()
    q.stop()

    val w = new PrintWriter(o("out") + ".progress.jsonl", "UTF-8")
    try q.recentProgress.foreach(p => w.println(p.json.replace('\n', ' '))) finally w.close()
    writeJson(o("out"), Map(
      "mode" -> "taxi", "timed_start_ms" -> startMs, "timed_end_ms" -> endMs, "gen_exit" -> genExit,
      "error" -> q.exception.map(e => String.valueOf(e.getMessage).take(300)),
      "steal_jiffies" -> (stat1._1 - stat0._1), "busy_jiffies" -> (stat1._2 - stat0._2),
      "rss_peak_mb" -> rssPeakMb(), "cpus" -> spark.sparkContext.defaultParallelism))
  }
}
