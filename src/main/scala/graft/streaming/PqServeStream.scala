package graft.streaming

import graft.Sessions
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming IVF-PQ serving: a stream of query vectors answered from the
  * composed IVF-PQ index (coarse cells prune, 8-byte PQ codes ADC-score,
  * exact rerank on the shortlist) — the quantized counterpart of
  * [[AnnServeStream]]'s LSH serve, and the memory story that matters at
  * 10⁹ corpus vectors: the per-trigger hot set is the probed cells'
  * CODES (8 bytes/vector) plus only the shortlist's real vectors, not
  * the corpus.
  *
  * Scale design:
  *   - the index ([[PqIndex]]) is built and persisted once; at rest its
  *     assignment relation IS the partitioning of the corpus (cell =
  *     partition ⇒ probing = partition pruning) and the codes relation
  *     is the compressed store every trigger joins against;
  *   - per-batch work scales with the BATCH: probes expand the query
  *     side only (nprobe rows/query), candidates come from the
  *     cell-keyed equi-join, the ADC LUT is a per-(query, block)
  *     broadcast — the corpus never reshuffles per trigger;
  *   - answers are per-query functions of the fixed index, so results
  *     are invariant to micro-batch boundaries by construction — pinned
  *     in StreamingOpsSpec against the one-shot serve and the batch
  *     [[Similarity.ivfPqServe]] kernel (shared code path, same
  *     `excludeSelf = false` serving semantics as [[AnnServeStream]]).
  */
object PqServeStream {

  /** The persisted relations of a corpus-at-rest IVF-PQ index: prepared
    * vectors (shortlist rerank only), refined coarse centroids, PQ
    * codebook, and the inverted-list postings (cell assignment WITH the
    * member PQ codes — r22: the vec_id-keyed assign-codes merge happens
    * once here, so serving triggers never pay it). */
  final case class PqIndex(vecs: DataFrame, cent: DataFrame,
                           postings: DataFrame, cbk: DataFrame,
                           nprobe: Int, shortlist: Int) {
    def unpersist(): Unit = { vecs.unpersist(); postings.unpersist() }
  }

  /** Build + persist the serving index over a raw `(vec_id, embedding)`
    * corpus. Training (Lloyd refinement of both quantizers, on the driver
    * from one collected sample) runs here, once — serving never
    * retrains, and training persists nothing. */
  def corpusIndex(corpus: DataFrame): PqIndex = {
    val e = SemDedupStream.prepVecs(corpus).persist()
    val idx = Similarity.ivfPqIndex(e)
    // the ladder rungs ([[Similarity.ivfPqParams]] probe count and the
    // r19 [[Similarity.ivfPqShortlistFor]] rerank shortlist) travel with
    // the index: serving must probe and rerank at the rungs the index
    // was trained for
    PqIndex(e, idx.cent, idx.postings.persist(), idx.cbk,
      idx.nprobe, idx.shortlist)
  }

  /** Answer one batch of `(vec_id, embedding)` query vectors from the
    * prebuilt index. Returns `(query_id, neighbor_id, rnk, score)` with
    * exact cosine scores on the reranked shortlist. Serving semantics:
    * query ids are an unrelated id space, no self-exclusion. */
  def serveBatch(queries: DataFrame, idx: PqIndex, k: Int = 5): DataFrame = {
    val q = SemDedupStream.prepVecs(queries).select(
      col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    Similarity.ivfPqServe(q, idx.vecs, idx.cent, idx.postings, idx.cbk,
      k, nprobe = idx.nprobe, excludeSelf = false,
      shortlist = idx.shortlist)
  }

  /** foreachBatch driver answering each micro-batch of `queries` (a
    * STREAMING `(vec_id, embedding)` frame) from the prepared index. */
  def start(queries: DataFrame, idx: PqIndex, k: Int = 5,
            checkpoint: Option[String] = None)
           (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    StreamLifecycle.start(queries.sparkSession, queries.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        onBatch(serveBatch(batch, idx, k), epochId)
      }, checkpoint)
  }
}

/** Runnable, checkpointed form of [[PqServeStream]] (template:
  * [[AnnServeJob]]): file-stream a directory of query-vector parquet
  * files against a corpus directory at rest — the quantized index is
  * trained once at startup — and write each micro-batch's top-k answers
  * to `output/epoch=N/`.
  *
  * Exactly-once across restarts without a transactional sink, exactly
  * as in [[DedupStreamJob]]: a replayed epoch deterministically
  * overwrites its own `epoch=N` directory and nothing else (the index
  * is a pure function of the corpus directory, so a restarted run
  * retrains the identical index and re-derives identical answers);
  * readers see the union via partition discovery. RecoverySpec kills
  * the query between epochs and proves the restarted run loses no
  * answer and duplicates none. */
object PqServeJob {

  def run(spark: org.apache.spark.sql.SparkSession, corpusDir: String,
          inputDir: String, outputDir: String, checkpointDir: String,
          k: Int = 5, maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val corpus = spark.read.parquet(corpusDir).select("vec_id", "embedding")
    val idx = PqServeStream.corpusIndex(corpus)
    val stream = spark.readStream.schema(AnnServeJob.querySchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(inputDir)
      .select("vec_id", "embedding")
    // Release the per-run persisted index when THIS query terminates;
    // [[StreamLifecycle.withRelease]] covers the throwing-start() /
    // terminated-before-listener races (ADVICE r16).
    StreamLifecycle.withRelease(spark) {
      PqServeStream.start(stream, idx,
        k, checkpoint = Some(checkpointDir)) { (answers, epochId) =>
        answers.write.mode("overwrite").parquet(s"$outputDir/epoch=$epochId")
      }
    }(() => idx.unpersist())
  }

  /** `--corpus --input --output --checkpoint [--k N]` CLI, same option
    * style as [[AnnServeJob]]. */
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spark = Sessions.create("PqServe")
    if (StateStores.rocksDbRequested) StateStores.useRocksDb(spark)
    run(spark,
      opts.getOrElse("corpus", "corpus"),
      opts.getOrElse("input", "queries"),
      opts.getOrElse("output", "output"),
      opts.getOrElse("checkpoint", "checkpoint"),
      opts.get("k").map(_.toInt).getOrElse(5)).awaitTermination()
  }
}
