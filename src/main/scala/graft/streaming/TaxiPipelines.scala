package graft.streaming

import graft.functions.PointInPolygon.classifyHq
import graft.schemas.TaxiSchemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pure DataFrame transforms for the three taxi pipelines — shared between
  * the streaming jobs ([[TaxiJobs]]) and batch/e2e tests. Each transform
  * works identically on a `read` or `readStream` source (Structured
  * Streaming's core contract), which is what makes the final-value tests
  * meaningful.
  */
object TaxiPipelines {

  /** Streaming (or batch) scan of the heterogeneous taxi CSV feed.
    * `maxFilesPerTrigger=60` reproduces the reference's ~1-hour-of-event-
    * time micro-batches (`Task2.py:40`); file pickup order is arbitrary,
    * which the update-mode sinks must tolerate (SURVEY §2.1 S1). */
  def scan(spark: SparkSession, path: String,
           schema: org.apache.spark.sql.types.StructType,
           streaming: Boolean = true,
           maxFilesPerTrigger: Int = 60): DataFrame = {
    if (streaming)
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
    else
      spark.read.schema(schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
  }

  /** Task2 (`/root/reference/Task2.py:44-51`): hourly dropoff counts via a
    * 1-hour tumbling event-time window; `hour` = hour of window end. */
  def hourlyCounts(df: DataFrame): DataFrame =
    df.groupBy(window(col("Lpep_dropoff_datetime"), "1 hours").as("window"))
      .count()
      .withColumn("hour", hour(col("window.end")))

  /** The split-24 overlay coalesce (`Task3.py:78-83`, `Task4.py:102-109`):
    * pick the per-type real dropoff coords, then geo-classify. The
    * reference routes coords through an identity Python UDF that
    * stringifies float32s (SURVEY §2.4 U2); here the float32 → double cast
    * happens directly in the classify expression — same values, no
    * Python/string hop. */
  def classified(df: DataFrame): DataFrame =
    df.withColumn("long",
        when(col("type") === "yellow", col("Yellow_Dropoff_longitude"))
          .otherwise(col("Green_Dropoff_longitude")))
      .withColumn("lat",
        when(col("type") === "yellow", col("Yellow_Dropoff_latitude"))
          .otherwise(col("Green_Dropoff_latitude")))
      .withColumn("headquarters", classifyHq(col("long"), col("lat")))

  /** Task3 (`Task3.py:84-90`): hourly counts per headquarters. */
  def hourlyHqCounts(df: DataFrame): DataFrame =
    classified(df)
      .groupBy(window(col("Lpep_dropoff_datetime"), "1 hours").as("window"),
               col("headquarters"))
      .count()
      .withColumn("hour", hour(col("window.end")))

  /** Task4 aggregation (`Task4.py:110-116`): 10-minute windows per
    * headquarters; `timestamp` = seconds-of-day of the window end (wraps
    * at midnight — 600-second adjacency intentionally breaks there,
    * SURVEY §7.4). */
  def tenMinHqCounts(df: DataFrame): DataFrame =
    classified(df)
      .groupBy(window(col("Lpep_dropoff_datetime"), "10 minutes").as("window"),
               col("headquarters"))
      .count()
      .withColumn("timestamp",
        hour(col("window.end")) * 3600 + minute(col("window.end")) * 60)

  /** Task4 trend detector (`Task4.py:124-132`), applied to one update-mode
    * micro-batch: windows whose count ≥ 10 and ≥ 2× the same-HQ window
    * 600 s earlier *within this batch's updates* — the intra-batch scoping
    * is the reference's semantics, preserved. Output: headquarters,
    * count, timestamp, prev_count. */
  def trending(batch: DataFrame): DataFrame = {
    val prev = batch.select(
      col("headquarters").as("headquarters_1"),
      col("count").as("count_1"),
      col("timestamp").as("timestamp_1"))
    batch.join(prev,
        col("timestamp") - col("timestamp_1") === 600 &&
        col("headquarters") =!= "none" &&
        col("headquarters") === col("headquarters_1") &&
        col("count") >= 10 &&
        col("count") - col("count_1") >= col("count_1"),
        "inner")
      .select(col("headquarters"), col("count"), col("timestamp"),
              col("count_1").as("prev_count"))
  }

  /** [[trending]]'s rule over update rows already on the driver:
    * `(headquarters, count, timestamp)` in, one `(headquarters, count,
    * timestamp, prev_count)` out for every pair the inner self-join
    * returns. [[TaxiJobs.task4]]'s sink applies it to the batch it
    * collects; the DataFrame form is the independent check. */
  def trendingRows(batch: Seq[(String, Long, Int)]): Seq[(String, Long, Int, Long)] = {
    val byWindow = batch.groupBy { case (hq, _, ts) => (hq, ts) }
    for {
      (hq, n, ts) <- batch if hq != null && hq != "none" && n >= 10
      (_, p, _) <- byWindow.getOrElse((hq, ts - 600), Nil) if n - p >= p
    } yield (hq, n, ts, p)
  }

  /** Word count transform (`Client.py:22-24` as Structured Streaming):
    * explode space-split tokens, grouped count. Applied per micro-batch in
    * foreachBatch to reproduce DStream `reduceByKey`'s batch-local
    * semantics (SURVEY §2.9). */
  def wordCount(lines: DataFrame): DataFrame =
    lines.select(explode(split(col("value"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word"))
      .count()

  // Convenience scans with the right schema per task.
  def scanGreen22(spark: SparkSession, path: String, streaming: Boolean = true,
                  maxFilesPerTrigger: Int = 60): DataFrame =
    scan(spark, path, TaxiSchemas.green22, streaming, maxFilesPerTrigger)
  def scanSplit24(spark: SparkSession, path: String, streaming: Boolean = true,
                  maxFilesPerTrigger: Int = 60): DataFrame =
    scan(spark, path, TaxiSchemas.split24, streaming, maxFilesPerTrigger)
}
