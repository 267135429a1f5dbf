package graft.streaming

import graft.operators.Similarity
import graft.functions.VectorDot.vectorDot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming SemDeDup: every micro-batch of newly ingested embedding
  * vectors is screened against an IVF-cell-indexed corpus at rest,
  * emitting `(new_id, corpus_id, score)` for every corpus vector the
  * batch semantically duplicates (cosine ≥ [[Similarity.SemThreshold]]
  * within the shared cell) — the embedding-space twin of [[DedupStream]]
  * (cells play the role of shingle postings), and the streaming form of
  * the registered `sim_semdedup` batch kernel.
  *
  * Production semantics: the corpus at rest WINS — a new arrival that
  * near-duplicates a corpus vector is the one to drop, so pairs are
  * oriented (new, corpus) rather than (keep, drop) by id.
  *
  * Scale design, mirroring [[DedupStream]]:
  *   - the corpus index ([[corpusIndex]]) is built once and persisted:
  *     one corpus scan against the broadcast centroids, exactly the
  *     partitioning a vector corpus at rest would be bucketed by;
  *   - per-batch work scales with the BATCH: new vectors are assigned
  *     to cells by a broadcast-centroid map (no corpus shuffle), and the
  *     exact-cosine verify runs only on same-cell candidates via a cell
  *     equi-join;
  *   - cell assignment is PER-VECTOR (a function of the vector and the
  *     fixed centroids), so the emitted pair set is invariant to
  *     micro-batch boundaries by construction — pinned in
  *     StreamingOpsSpec (micro-batched == one-shot);
  *   - cross-cell near-dups are traded away exactly as in the batch
  *     SemDeDup approximation ([[Similarity.semDedup]] scaladoc).
  */
object SemDedupStream {

  /** `(vec_id, embedding)` → the `(vec_id, v, norm)` relation the cell
    * machinery consumes (doubles + precomputed norm). */
  private[graft] def prepVecs(raw: DataFrame): DataFrame =
    raw.withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("norm", sqrt(vectorDot(col("v"), col("v"))))
      .select(col("vec_id"), col("v"), col("norm"))

  /** A prepared corpus-at-rest index: the per-vector max-cosine cell
    * `assign`ment `(vec_id, cid, v, norm)` plus the `centroids` it was
    * built with. Centroids travel WITH the index (not re-derived from
    * it) because past [[Similarity.SemTrainedMinRows]] they are TRAINED
    * (the Lloyd hand-over, r15 — trained centroids are means, not corpus
    * vectors, so the old vec_id-prefix re-derivation cannot recover
    * them) and batch assignment must use bit-identical centroids or the
    * batch-boundary-invariance contract breaks. */
  final case class SemIndex(assign: DataFrame, centroids: DataFrame,
                            vecs: DataFrame) {
    /** Release the index's persisted relations (assignment + prepped
      * corpus vectors). Centroid training persists nothing: it runs on
      * the driver from one collected sample. */
    def unpersist(): Unit = { assign.unpersist(); vecs.unpersist() }
  }

  /** Build the corpus-at-rest index. The cell count rides the
    * [[Similarity.semPlanAtRest]] ladder (16 → 2,048 and doubling per ×4
    * corpus past the hand-over — [[Similarity.SemAtRestSteps]], trained
    * past the hand-over rung) — NOT the registered one-shot query's
    * retuned schedule (r18, VERDICT r17 #1): the at-rest form pays
    * assignment once and amortizes it across every micro-batch screen,
    * where per-batch cost ∝ expected cell size and smaller cells win
    * strictly, so this ladder keeps cell size (and per-batch screen
    * cost, which joins each new vector to ONE cell's members) bounded as
    * the at-rest corpus grows instead of drifting toward n/16. */
  def corpusIndex(corpus: DataFrame): SemIndex = {
    val e = prepVecs(corpus).persist()
    val cent = Similarity.semCentroidsAtRest(e, e.count())
    SemIndex(Similarity.cellAssignment(e, cent).persist(), cent, e)
  }

  /** Screen one batch of new `(vec_id, embedding)` vectors against a
    * prepared [[SemIndex]]. Returns `(new_id, corpus_id, score)`.
    * Pure batch-side function, shared by the streaming and batch forms. */
  def screenBatch(newVecs: DataFrame, idx: SemIndex): DataFrame = {
    val assignNew = Similarity.cellAssignment(prepVecs(newVecs), idx.centroids)
    assignNew.as("a").join(idx.assign.as("b"), col("a.cid") === col("b.cid"))
      .withColumn("score",
        round(vectorDot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")), 6))
      .where(col("score") >= Similarity.SemThreshold)
      .select(col("a.vec_id").as("new_id"), col("b.vec_id").as("corpus_id"), col("score"))
  }

  /** foreachBatch driver: starts the streaming query screening each
    * micro-batch of `newVecs` (a STREAMING `(vec_id, embedding)` frame)
    * against the prepared index. */
  def start(newVecs: DataFrame, corpusIdx: SemIndex)
           (onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    StreamLifecycle.start(newVecs.sparkSession, newVecs.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        onBatch(screenBatch(batch, corpusIdx), epochId)
      }, None)
}
