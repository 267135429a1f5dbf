package graft.streaming

import graft.Sessions
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Runnable Structured Streaming jobs reproducing the reference's three
  * taxi programs (SURVEY.md §3), with their golden-file sinks.
  *
  * Divergence from the reference, by design (SURVEY §7.4 faithful-bug
  * policy): the reference's foreachBatch sinks issue N+1 `collect()`s per
  * batch and re-trigger the batch DAG each time (`Task2.py:57-62`,
  * `Task3.py:97-103`, `Task4.py:133-155`), and Task3/Task4 write the
  * batch-global FIRST row into every per-hour file (unfiltered-collect
  * bug). Here each sink collects ONCE and formats driver-side, writing
  * the intended per-window values — matching the sane subset of the
  * reference's golden files.
  *
  * Each job starts through [[StreamLifecycle.start]], so a checkpoint on
  * the local file system is written through [[LocalCheckpointFileManager]]
  * (no process started per checkpoint file) unless the session names its
  * own manager. Checkpoints written before that resume unchanged.
  */
object TaxiJobs {

  private def write(dir: String, name: String, body: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), body.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
  }

  /** Task2/Task3 golden filename stem: hour 0 maps to 24
    * (`Task2.py:60`, `Task3.py:99`). */
  private def hourStamp(hour: Int): Long = (if (hour == 0) 24 else hour) * 360000L

  /** Task2: hourly counts → one `output-{stamp}` file per updated window,
    * body = bare count (`Task2.py:54-63`). */
  def task2(spark: SparkSession, input: String, output: String,
            checkpoint: Option[String] = None,
            maxFilesPerTrigger: Int = 60): StreamingQuery = {
    val counts = TaxiPipelines.hourlyCounts(
      TaxiPipelines.scanGreen22(spark, input, streaming = true, maxFilesPerTrigger))
    StreamLifecycle.start(spark, counts.writeStream
      .outputMode("update")
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select("hour", "count").collect().foreach { r =>
          write(output, s"output-${hourStamp(r.getInt(0))}", r.getLong(1).toString)
        }
      }, checkpoint)
  }

  /** Task3: hourly per-HQ counts → one `output3-{stamp}` file per updated
    * hour, body = `('citigroup', n)` / `('goldman', n)` lines
    * (`Task3.py:94-104`; citigroup listed first as in the reference's
    * golden files, `none` excluded). */
  def task3(spark: SparkSession, input: String, output: String,
            checkpoint: Option[String] = None,
            maxFilesPerTrigger: Int = 60): StreamingQuery = {
    val counts = TaxiPipelines.hourlyHqCounts(
      TaxiPipelines.scanSplit24(spark, input, streaming = true, maxFilesPerTrigger))
    StreamLifecycle.start(spark, counts.writeStream
      .outputMode("update")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.select("hour", "headquarters", "count").collect()
          .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
        rows.groupBy(_._1).foreach { case (hour, hqRows) =>
          // Merge with any counts already on disk: a batch updates only
          // the windows it touched, so the final batch for an hour may
          // carry one HQ but not the other. (The reference overwrites —
          // and its golden files show exactly this partial-update
          // artifact, SURVEY §5.2b.)
          val name = s"output3-${hourStamp(hour)}"
          val path = Paths.get(output, name)
          val existing: Map[String, Long] =
            if (Files.exists(path))
              "\\('(\\w+)', (\\d+)\\)".r
                .findAllMatchIn(Files.readString(path))
                .map(m => m.group(1) -> m.group(2).toLong).toMap
            else Map.empty
          val byHq = existing ++ hqRows.map(t => t._2 -> t._3).toMap
          val body = Seq("citigroup", "goldman")
            .flatMap(hq => byHq.get(hq).map(n => s"('$hq', $n)"))
            .mkString("\n")
          if (body.nonEmpty) write(output, name, body)
        }
      }, checkpoint)
  }

  /** Task4: 10-minute per-HQ windows; per batch, the intra-batch trend
    * rule fires for windows whose count ≥ 10 and ≥ 2× the window 600 s
    * earlier → one `part-{timestamp*100}` file per fired window end
    * (`Task4.py:120-162`), body = `(hq, (count, timestamp, prev))` lines.
    * The sink collects the update batch once and applies the rule to those
    * rows on the driver ([[TaxiPipelines.trendingRows]]), so a trigger runs
    * one Spark job; [[TaxiPipelines.trending]] is the DataFrame form it is
    * checked against. */
  def task4(spark: SparkSession, input: String, output: String,
            checkpoint: Option[String] = None,
            maxFilesPerTrigger: Int = 60): StreamingQuery = {
    val counts = TaxiPipelines.tenMinHqCounts(
      TaxiPipelines.scanSplit24(spark, input, streaming = true, maxFilesPerTrigger))
    StreamLifecycle.start(spark, counts.writeStream
      .outputMode("update")
      .foreachBatch { (df: DataFrame, _: Long) =>
        // The whole batch is collected: Spark fails the trigger's state
        // commit if a partition is left unconsumed.
        val updates = df.select("headquarters", "count", "timestamp").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
        TaxiPipelines.trendingRows(updates.toSeq).groupBy(_._3).foreach { case (ts, rows) =>
          val body = rows.sortBy(_._1)
            .map { case (hq, n, t, p) => s"($hq, ($n, $t, $p))" }
            .mkString("\n")
          // Midnight mapping per the reference: `(24 if ts == 0 else ts) * 100`
          // (`Task4.py:136-137`) — a window ending at 00:00 stamps part-2400.
          write(output, s"part-${(if (ts == 0) 24L else ts.toLong) * 100L}", body)
          rows.foreach { case (hq, n, t, p) =>
            println(s"The number of arrivals to $hq has doubled from $p to $n at $t!")
          }
        }
      }, checkpoint)
  }
}

/** `Task2.py` as a runnable app. */
object Task2Job {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.create("Task2")
    if (StateStores.rocksDbRequested) StateStores.useRocksDb(spark)
    TaxiJobs.task2(spark,
      args.lift(0).getOrElse("taxi-data"),
      args.lift(1).getOrElse("output")).awaitTermination()
  }
}

/** `Task3.py` as a runnable app. */
object Task3Job {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.create("Task3")
    if (StateStores.rocksDbRequested) StateStores.useRocksDb(spark)
    TaxiJobs.task3(spark,
      args.lift(0).getOrElse("taxi-data"),
      args.lift(1).getOrElse("output")).awaitTermination()
  }
}

/** `Task4.py` as a runnable app (`--input --checkpoint --output` CLI,
  * `Task4.py:9-18`). */
object Task4Job {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spark = Sessions.create("Task4")
    if (StateStores.rocksDbRequested) StateStores.useRocksDb(spark)
    TaxiJobs.task4(spark,
      opts.getOrElse("input", "taxi-data"),
      opts.getOrElse("output", "output"),
      Some(opts.getOrElse("checkpoint", "checkpoint"))).awaitTermination()
  }
}
