package graft.streaming

import graft.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Runnable, checkpointed form of [[DedupStream]] (template:
  * [[TaxiJobs]]): file-stream a directory of newly ingested documents
  * (parquet `(doc_id, text)` files dropped in over time) against a
  * corpus directory at rest, and write each micro-batch's near-duplicate
  * pairs to `output/epoch=N/`.
  *
  * Exactly-once across restarts without a transactional sink: foreachBatch
  * may REPLAY an epoch after a crash (the batch re-runs if it committed
  * to the sink but not yet to the checkpoint's commit log), so the sink
  * writes each epoch to its own `epoch=N` directory with `overwrite` —
  * a replayed epoch deterministically overwrites its own output and
  * nothing else. Readers see the union via partition discovery
  * (`spark.read.parquet(output)` exposes `epoch` as a partition column).
  * RecoverySpec kills the query between epochs and proves the restarted
  * run loses no pair and duplicates none.
  *
  * Scale: the corpus index + df relation are built once per process and
  * persisted; per-trigger work scales with the files admitted by
  * `maxFilesPerTrigger` (see [[DedupStream]] scaladoc).
  */
object DedupStreamJob {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def run(spark: SparkSession, corpusDir: String, inputDir: String,
          outputDir: String, checkpointDir: String,
          maxDf: Option[Long] = None,
          maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val corpus = spark.read.parquet(corpusDir).select("doc_id", "text")
    val idx = DedupStream.corpusIndex(corpus)
    val cdf = DedupStream.corpusShingleDf(idx).persist()
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(inputDir)
    // Release the per-run cached relations when THIS query terminates, so
    // repeated run() calls in one SparkSession (restart tests, notebooks)
    // don't accumulate cache blocks. [[StreamLifecycle.withRelease]]
    // covers the throwing-start() / terminated-before-listener races
    // (ADVICE r16) on top of the plain termination path.
    StreamLifecycle.withRelease(spark) {
      StreamLifecycle.start(spark, stream.writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, epochId: Long) =>
          DedupStream.screenBatch(batch.select("doc_id", "text"), idx, maxDf, Some(cdf))
            .write.mode("overwrite").parquet(s"$outputDir/epoch=$epochId")
        }, Some(checkpointDir))
    } { () => idx.unpersist(); cdf.unpersist() }
  }

  /** `--corpus --input --output --checkpoint [--max-df N]` CLI, same
    * option style as [[Task4Job]]. */
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spark = Sessions.create("DedupStream")
    if (StateStores.rocksDbRequested) StateStores.useRocksDb(spark)
    run(spark,
      opts.getOrElse("corpus", "corpus"),
      opts.getOrElse("input", "incoming"),
      opts.getOrElse("output", "output"),
      opts.getOrElse("checkpoint", "checkpoint"),
      opts.get("max-df").map(_.toLong)).awaitTermination()
  }
}
