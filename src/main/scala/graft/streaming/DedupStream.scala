package graft.streaming

import graft.functions.SortedIntersectSize.sortedIntersectSize
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming incremental dedup: every micro-batch of newly ingested
  * documents is screened against the corpus at rest, emitting the exact
  * 3-gram-Jaccard ≥ 0.8 pairs it forms with existing documents — the
  * streaming form of [[Dedup.incremental]], and the shape a production
  * ingest pipeline actually runs (the reference is a streaming system:
  * `Task2.py:36-42` readStream → transform → sink).
  *
  * Scale design:
  *   - the corpus index ([[corpusIndex]]) is built ONCE and persisted —
  *     at rest it is a complete shingle posting list, the relation a
  *     pre-bucketed index table would serve;
  *   - per micro-batch work scales with the BATCH: only the batch's rare
  *     prefix explodes (PPJoin one-sided guarantee — a qualifying pair's
  *     witness shingle must sit in the batch doc's prefix, so joining it
  *     against the corpus's FULL posting list loses nothing);
  *   - batch prefixes are ordered by CORPUS document frequency (via
  *     [[corpusShingleDf]]), not batch-local df. That makes candidate
  *     generation a PER-DOC function of (doc, corpus) — independent of
  *     which other docs share the micro-batch — so the emitted pair set
  *     is invariant to micro-batch boundaries for EVERY maxDf setting,
  *     not just the exact mode. Shingles absent from the corpus sort
  *     last and are dropped from the prefix, which is lossless: they are
  *     provably outside any qualifying partner's set, so removing them
  *     cannot remove a witness;
  *   - `maxDf` drops corpus-wide hot shingles from both sides under the
  *     SAME corpus-df statistic, exactly as [[Dedup.incrementalImpl]]
  *     does with its relation-wide df. The cutoff is candidate-gen-only
  *     (the verify runs on full shingle sets), so it can only LOSE pairs
  *     — deterministically: a pair is lost iff every witness in the
  *     batch doc's prefix has corpus df > maxDf.
  *
  * StreamingOpsSpec pins stream == batch: feeding the odd-id documents
  * through micro-batches against the even-id corpus emits exactly the
  * rows of the registered `dedup_incremental` query (maxDf = None), and
  * the maxDf path is pinned micro-batched == one-shot ⊆ exact.
  * [[DedupStreamJob]] is the runnable checkpointed form (RecoverySpec
  * proves restart loses and duplicates nothing).
  */
object DedupStream {

  /** The corpus-at-rest index relation: [[Dedup.rarityDocsOf]] over the
    * corpus, persisted — build once, screen every batch against it.
    * `corpus` must have `(doc_id, text)`. */
  def corpusIndex(corpus: DataFrame): DataFrame =
    Dedup.rarityDocsOf(Dedup.explodeDocs(corpus)).persist()

  /** Corpus-wide `(sh, df)` relation from a [[corpusIndex]] — the ONE
    * document-frequency statistic that governs prefix order and the
    * `maxDf` cutoff on both join sides. Persist when screening many
    * batches (one derivation, reused per trigger). */
  def corpusShingleDf(corpusIdx: DataFrame): DataFrame =
    corpusIdx.select(explode(col("byRarity")).as("e"))
      .select(col("e.sh").as("sh"), col("e.df").as("df"))
      .distinct()

  /** Batch-side doc relation with CORPUS-df-ordered prefixes:
    * `(doc_id, n_sh, shingles, prefix)` where `shingles` is sorted by
    * `sh` alone, as the verify kernel needs, and `prefix` is the first
    * `n − ceil(t·n) + 1` shingles by (corpus df asc, shingle asc),
    * minus corpus-absent shingles (lossless, see object scaladoc) and
    * minus `maxDf`-hot shingles (deterministic candidate thinning). */
  private def corpusOrderedDocs(newDocs: DataFrame, cdf: DataFrame,
                                maxDf: Option[Long]): DataFrame = {
    val absent = Long.MaxValue // sorts last; always outside the corpus
    val e = Dedup.explodeDocs(newDocs)
      .join(cdf, Seq("sh"), "left")
      .withColumn("df", coalesce(col("df"), lit(absent)))
    val pref = slice(col("byRarity"), lit(1), col("plen"))
    val cut = filter(pref, x => x.getField("df") <= lit(maxDf.getOrElse(absent - 1)))
    e.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("byRarity"),
           first(col("n_sh")).as("n_sh"))
      .withColumn("plen",
        (col("n_sh") - ceil(col("n_sh") * lit(Dedup.jaccardThreshold)) + 1).cast("int"))
      .select(col("doc_id"), col("n_sh"),
        sort_array(transform(col("byRarity"), x => x.getField("sh"))).as("shingles"),
        transform(cut, x => x.getField("sh")).as("prefix"))
  }

  /** Screen one batch of new documents against a prepared [[corpusIndex]].
    * Returns `(new_id, corpus_id, jaccard)` — every corpus document the
    * batch near-duplicates. Pure batch-side function, so the streaming
    * and batch forms share one definition. Pass a persisted
    * [[corpusShingleDf]] as `corpusDf` when calling repeatedly; it is
    * derived on the fly otherwise. */
  def screenBatch(newDocs: DataFrame, corpusIdx: DataFrame,
                  maxDf: Option[Long] = None,
                  corpusDf: Option[DataFrame] = None): DataFrame = {
    val t = Dedup.jaccardThreshold
    val cdf = corpusDf.getOrElse(corpusShingleDf(corpusIdx))
    val corpusKept = maxDf
      .map(m => corpusIdx.withColumn("shingles",
        transform(filter(col("byRarity"), x => x.getField("df") <= lit(m)),
                  x => x.getField("sh"))))
      .getOrElse(corpusIdx)
    val corpusPostings = corpusKept
      .select(col("doc_id").as("corpus_id"), col("n_sh").as("c_n"),
              explode(col("shingles")).as("sh"))
    val batchDocs = corpusOrderedDocs(newDocs, cdf, maxDf)
    val incomingPrefix = batchDocs.select(col("doc_id"), col("n_sh"),
      explode(col("prefix")).as("sh"))
    val cand = incomingPrefix.join(corpusPostings, "sh")
      .where(col("n_sh") >= col("c_n") * t && col("c_n") >= col("n_sh") * t)
      .select(col("doc_id").as("new_id"), col("corpus_id"))
      .distinct()
    cand
      .join(batchDocs.select(col("doc_id").as("new_id"),
        col("shingles").as("sa"), col("n_sh").as("na")), "new_id")
      .join(corpusIdx.select(col("doc_id").as("corpus_id"),
        col("shingles").as("sb"), col("n_sh").as("nb")), "corpus_id")
      .withColumn("inter", sortedIntersectSize(col("sa"), col("sb")))
      .withColumn("jaccard", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .where(col("jaccard") >= t)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** foreachBatch driver: starts the streaming query that screens each
    * micro-batch of `newDocs` (a STREAMING `(doc_id, text)` frame)
    * against the prepared index and hands the resulting pair frame to
    * `onBatch`. The corpus df relation is derived and persisted once,
    * not once per trigger — and released when THIS query terminates
    * (r16, the ADVICE r15 SemIndex lesson applied to its dedup twin:
    * the stream-lifetime persist previously outlived the stream, so
    * sessions restarting screeners accumulated cached relations).
    * `corpusIdx` itself stays persisted — the caller built and owns it. */
  def start(newDocs: DataFrame, corpusIdx: DataFrame,
            maxDf: Option[Long] = None)
           (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val cdfDf = corpusShingleDf(corpusIdx).persist()
    val cdf = Some(cdfDf)
    // [[StreamLifecycle.withRelease]] covers the throwing-start() and
    // terminated-before-listener races (ADVICE r16) — either would leak
    // the persisted corpus-shingle relation this release exists to plug.
    StreamLifecycle.withRelease(newDocs.sparkSession) {
      StreamLifecycle.start(newDocs.sparkSession, newDocs.writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, epochId: Long) =>
          onBatch(screenBatch(batch, corpusIdx, maxDf, cdf), epochId)
        }, None)
    }(() => cdfDf.unpersist())
  }
}
