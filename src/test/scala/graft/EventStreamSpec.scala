package graft

import java.nio.file.Files
import graft.streaming.EventStreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stream == batch equivalence for the watermarked window agg and the
  * custom keyed-state operator, driven by a real multi-batch file stream
  * (events split into 4 time-ranged parquet files, 1 file per trigger,
  * arbitrary pickup order). */
class EventStreamSpec extends AnyFunSuite with TestSpark.TempDirs {
  lazy val spark = TestSpark.spark

  /** events staged as 4 range-partitioned parquet files, with modification
    * times set so the file source picks them up in chronological order —
    * an out-of-order feed would (correctly) drop whole late files once the
    * watermark passes them, making the expected set order-dependent. */
  private lazy val stagedDir: String = {
    val dir = tempDir("evstream").toString
    Tables.eventsLtz(spark, TestSpark.sf)
      .repartitionByRange(4, col("ts"))
      .write.mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      // range partition i holds the i-th time slice; stamp mtimes ascending
      Files.setLastModifiedTime(f.toPath,
        java.nio.file.attribute.FileTime.fromMillis(1000L * (i + 1)))
    }
    dir
  }

  private def streamOf(dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
  }

  test("watermarked 10-min agg: append mode emits exactly the closed windows") {
    val q = EventStreamOps.watermarkedTenMin(streamOf(stagedDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("wm_out")
      .start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("wm_out").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap

    val batch = Tables.eventsLtz(spark, TestSpark.sf)
    val maxTs = batch.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val watermark = new java.sql.Timestamp(maxTs.getTime - 30 * 60 * 1000)
    val expected = batch
      .groupBy(window(col("ts"), "10 minutes"), col("event_type")).count()
      .where(col("window.end") <= lit(watermark))
      .select(col("window.start"), col("event_type"), col("count"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap

    assert(got == expected,
      s"emitted ${got.size} windows, expected ${expected.size}")
    assert(got.nonEmpty)
  }

  test("watermarked sliding agg: closed 10/5-min windows match the batch plan") {
    val q = EventStreamOps.watermarkedSliding(streamOf(stagedDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("slide_out")
      .start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("slide_out").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap

    val batch = Tables.eventsLtz(spark, TestSpark.sf)
    val maxTs = batch.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val watermark = new java.sql.Timestamp(maxTs.getTime - 30 * 60 * 1000)
    val expected = batch
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type")).count()
      .where(col("window.end") <= lit(watermark))
      .select(col("window.start"), col("event_type"), col("count"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap

    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("Trigger.AvailableNow drains the backlog and terminates on its own") {
    import org.apache.spark.sql.streaming.Trigger
    val q = EventStreamOps.watermarkedTenMin(streamOf(stagedDir))
      .writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .format("memory").queryName("an_out")
      .start()
    // AvailableNow processes exactly the data present at start, then stops
    assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    val n = spark.table("an_out").count()
    assert(n > 0)
    // same closed windows as the processAllAvailable run (same staged input)
    val reference = {
      val q2 = EventStreamOps.watermarkedTenMin(streamOf(stagedDir))
        .writeStream.outputMode("append").format("memory").queryName("an_ref").start()
      q2.processAllAvailable(); q2.stop()
      spark.table("an_ref").count()
    }
    assert(n === reference)
  }

  test("mapGroupsWithState running counts converge to batch per-user counts") {
    val q = EventStreamOps.runningUserCounts(streamOf(stagedDir))
      .writeStream.outputMode(EventStreamOps.runningCountsMode)
      .format("memory").queryName("uc_out")
      .start()
    q.processAllAvailable(); q.stop()

    // update mode re-emits a user on every batch that touches it; the
    // final (max) value per user is the converged running count
    val got = spark.table("uc_out").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).max).toMap
    val expected = Tables.eventsLtz(spark, TestSpark.sf)
      .groupBy(col("user_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("flatMapGroupsWithState sessionize == batch session_window on closed sessions") {
    val q = EventStreamOps.sessionizeStream(streamOf(stagedDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_stream")
      .start()
    q.processAllAvailable(); q.stop()

    // compare on (start, end, user, n); value sums can differ at ulp by
    // accumulation order and are covered by StreamingOpsSpec's fixture
    val got = spark.table("sess_stream").collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3))).toSet

    // batch sessionize inherits the parquet's timestamp flavor (NTZ this
    // round); cast to LTZ so the tuple compare below is type-homogeneous
    // with the stream side's java.sql.Timestamp
    val batch = graft.operators.EventOps.sessionize(spark, TestSpark.sf)
      .withColumn("session_start", col("session_start").cast("timestamp"))
      .withColumn("session_end", col("session_end").cast("timestamp"))
    val maxTs = Tables.eventsLtz(spark, TestSpark.sf)
      .agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val watermark = new java.sql.Timestamp(maxTs.getTime - 30 * 60 * 1000)
    val expected = batch
      .where(col("session_end") <= lit(watermark))
      .collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3))).toSet

    val extra = got -- expected
    val missing = expected -- got
    assert(extra.isEmpty && missing.isEmpty,
      s"got ${got.size} closed sessions, expected ${expected.size}; " +
      s"extra=${extra.take(3)} missing=${missing.take(3)}")
    assert(got.nonEmpty)
  }
}
