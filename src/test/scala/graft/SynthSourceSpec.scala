package graft

import graft.sources.SynthScan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SynthSourceSpec extends AnyFunSuite with TestSpark.TempDirs {
  lazy val spark = TestSpark.spark
  private val fmt = "graft.sources.SynthProvider"

  private def synth(rows: Long = 1000L): DataFrame =
    spark.read.format(fmt).option("rows", rows).option("partitions", 8).load()

  private def scanOf(df: DataFrame): SynthScan = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty, "no BatchScanExec in plan")
    scans.head.asInstanceOf[SynthScan]
  }

  test("batch read is deterministic and complete") {
    val df = synth(1000)
    assert(df.count() === 1000L)
    val again = synth(1000).orderBy("doc_id").collect()
    assert(synth(1000).orderBy("doc_id").collect() === again)
    assert(df.rdd.getNumPartitions === 8)
  }

  test("doc_id range filters reach partition planning") {
    val df = synth(1000).where(col("doc_id") >= 100 && col("doc_id") < 250)
    assert(scanOf(df).plannedRange === (100L, 250L))
    assert(df.count() === 150L)
    // an equality pin collapses the range to one row
    val one = synth(1000).where(col("doc_id") === 42)
    assert(scanOf(one).plannedRange === (42L, 43L))
    assert(one.count() === 1L)
  }

  test("non-pushable predicates stay post-scan and still apply") {
    val df = synth(200).where(col("lang") === "en" && col("doc_id") < 100)
    assert(scanOf(df).plannedRange === (0L, 100L)) // range pushed
    val rows = df.select("doc_id").collect().map(_.getLong(0))
    assert(rows.nonEmpty && rows.forall(id => id % 4 == 0)) // langOf: id % 4 == 0 → "en"
  }

  test("column pruning reaches the reader (SELECT doc_id reads 1 column)") {
    val df = synth(100).select("doc_id")
    assert(scanOf(df).readSchema().fieldNames.toSeq === Seq("doc_id"))
    assert(df.collect().map(_.getLong(0)).sorted === (0L until 100L).toArray)
  }

  test("collector sink: two-phase commit aggregates all tasks, partitioning-invariant") {
    import graft.sources.CollectorSink
    val ev = Tables.events(spark, TestSpark.sf).select(col("event_id"), col("user_id"))
    ev.repartition(8).write.format("graft.sources.CollectorSinkProvider")
      .option("name", "t8").mode("append").save()
    ev.coalesce(1).write.format("graft.sources.CollectorSinkProvider")
      .option("name", "t1").mode("append").save()
    val n = ev.count()
    val (rows8, sum8) = CollectorSink.results("t8")
    val (rows1, sum1) = CollectorSink.results("t1")
    assert(rows8 === n && rows1 === n)
    // xor-folded checksum must not depend on task layout or row order
    assert(sum8 === sum1)
  }

  test("synth stream → collector streaming sink: per-epoch commits total the table") {
    import graft.sources.CollectorSink
    CollectorSink.results.remove("stream1")
    CollectorSink.lastEpoch.remove("stream1")
    val q = spark.readStream.format(fmt)
      .option("rows", 250).option("partitions", 4).option("rowsPerBatch", 100)
      .load()
      .select(col("doc_id"))
      .writeStream.format("graft.sources.CollectorSinkProvider")
      .option("name", "stream1")
      .option("checkpointLocation",
        tempDir("collector_cp").toString)
      .start()
    try { q.processAllAvailable() } finally q.stop()
    val (rows, sum) = CollectorSink.results("stream1")
    assert(rows === 250L)
    // checksum equals a batch write of the same projection
    val batchDf = synth(250).select(col("doc_id"))
    batchDf.write.format("graft.sources.CollectorSinkProvider")
      .option("name", "batch1").mode("append").save()
    assert(sum === CollectorSink.results("batch1")._2)
  }

  test("stream offsets derive from the engine-supplied start, not instance state") {
    import graft.sources.{SynthOffset, SynthScan}
    import org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
    val scan = new SynthScan(0L, 350L, 4, 100L, graft.sources.SynthTable.schema)
    val ms = scan.toMicroBatchStream("unused")
      .asInstanceOf[SupportsTriggerAvailableNow]
    val limit = ms.getDefaultReadLimit
    def next(start: Long): Long =
      ms.latestOffset(SynthOffset(start), limit).asInstanceOf[SynthOffset].rowsServed
    assert(next(0L) === 100L)
    // a RESTORED checkpoint position (e.g. 300) must advance from there —
    // the old instance-counter scheme returned 100 < start (empty batches)
    assert(next(300L) === 350L)
    assert(next(350L) === 350L) // drained: end == start, never regresses
    assert(ms.reportLatestOffset().asInstanceOf[SynthOffset].rowsServed === 350L)
  }

  test("Trigger.AvailableNow drains the whole table in rowsPerBatch steps") {
    import org.apache.spark.sql.streaming.Trigger
    val q = spark.readStream.format(fmt)
      .option("rows", 350).option("partitions", 4).option("rowsPerBatch", 100)
      .load()
      .writeStream.format("memory").queryName("synth_avail_now")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    val total = spark.sql("SELECT count(*) FROM synth_avail_now").collect().head.getLong(0)
    assert(total === 350L)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4) // 100-row pacing held
  }

  test("streaming sink skips a re-delivered epoch (idempotent commit)") {
    import graft.sources.{CollectorCommit, CollectorSink}
    import org.apache.spark.sql.connector.write.WriterCommitMessage
    // drive the StreamingWrite commit path directly to force a replay,
    // which a live query only produces on failure recovery
    val props = new java.util.HashMap[String, String]()
    props.put("name", "epochtest")
    val table = new graft.sources.CollectorSinkProvider()
      .getTable(Tables.events(spark, TestSpark.sf).schema, Array.empty, props)
      .asInstanceOf[graft.sources.CollectorTable]
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "q"
      override def schema() = Tables.events(spark, TestSpark.sf).schema
      override def options() = new org.apache.spark.sql.util.CaseInsensitiveStringMap(props)
    }
    val sw = table.newWriteBuilder(info).build().toStreaming
    CollectorSink.results.remove("epochtest")
    CollectorSink.lastEpoch.remove("epochtest")
    val msgs: Array[WriterCommitMessage] = Array(CollectorCommit(10L, 0x5aL))
    sw.commit(0L, msgs)
    sw.commit(1L, msgs)
    sw.commit(1L, msgs) // replayed epoch: must be a no-op
    sw.commit(0L, msgs) // stale epoch: must be a no-op
    assert(CollectorSink.results("epochtest") === ((20L, 0L))) // 0x5a ^ 0x5a
  }

  test("micro-batch stream drains to the full table in rowsPerBatch steps") {
    import spark.implicits._
    val q = spark.readStream.format(fmt)
      .option("rows", 350).option("partitions", 4).option("rowsPerBatch", 100)
      .load()
      .groupBy($"lang").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("synth_counts")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val total = spark.sql("SELECT sum(n) FROM synth_counts").collect().head.getLong(0)
      assert(total === 350L)
      // 350 rows at 100/batch → at least 4 micro-batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
    } finally q.stop()
  }
}
