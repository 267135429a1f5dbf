package graft.streaming

import graft.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{asc, desc}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's legacy DStream socket word count (`Client.py:15-28`)
  * rebuilt on Structured Streaming: socket source → explode/split →
  * per-batch grouped counts.
  *
  * DStream `reduceByKey` is batch-local (no cross-batch state), so the
  * counts are computed inside `foreachBatch` on each micro-batch alone —
  * `outputMode("complete")` would instead give cumulative counts
  * (SURVEY §1.1). 1-second processing-time trigger matches
  * `StreamingContext(sc, 1)`.
  *
  * The console sink is a driver-side collect, so the vocabulary brought
  * to the driver is CAPPED at `maxVocab` entries per batch (top-K by
  * count, word-ordered ties): an adversarial stream of unique tokens
  * costs the driver K rows, not the batch's distinct-word count. Words
  * past the cap are reported as an overflow COUNT (computed distributed,
  * never collected). The reference collects everything; at its own data
  * sizes the first 10k rows are everything, so console output matches.
  */
object WordCountJob {

  /** Default driver-side cap on collected words per batch. */
  val defaultMaxVocab = 10000

  def run(spark: SparkSession, host: String, port: Int,
          onBatch: (Seq[(String, Long)], Long, Long) => Unit = printBatch,
          maxVocab: Int = defaultMaxVocab): StreamingQuery = {
    val lines = spark.readStream
      .format("socket")
      .option("host", host)
      .option("port", port)
      .load()
    StreamLifecycle.start(spark, lines.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val counts = TaxiPipelines.wordCount(batch).persist()
        try {
          // TakeOrderedAndProject: driver receives at most maxVocab rows
          val top = counts.orderBy(desc("count"), asc("word")).limit(maxVocab)
            .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
          if (top.nonEmpty) {
            // only pay the distinct-count job when the cap was hit
            val overflow =
              if (top.size < maxVocab) 0L else counts.count() - top.size
            onBatch(top, overflow, id)
          }
        } finally counts.unpersist()
      }, None)
  }

  private def printBatch(counts: Seq[(String, Long)], overflow: Long,
                         id: Long): Unit = {
    println(s"-------------------------------------------\nBatch: $id")
    counts.sortBy(_._1).foreach { case (w, n) => println(s"($w, $n)") }
    if (overflow > 0) println(s"... and $overflow more words")
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.create("WordCount")
    spark.sparkContext.setLogLevel("ERROR")
    run(spark,
      args.lift(0).getOrElse("localhost"),
      args.lift(1).map(_.toInt).getOrElse(10002)).awaitTermination()
  }
}
