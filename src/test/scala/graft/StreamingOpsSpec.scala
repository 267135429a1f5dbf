package graft

import java.sql.Timestamp
import graft.streaming.EventStreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** MemoryStream-driven specs for the added streaming operators: batch
  * boundaries and watermark advancement are controlled explicitly, so
  * the asserts pin exact cross-batch state behavior. */
class StreamingOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dropDuplicatesWithinWatermark: cross-batch duplicate suppressed") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreamOps.dedupWithinWatermark(in.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      in.addData(
        Ev(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
        Ev(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0), // same-batch dup
        Ev(2, ts("2024-01-01 00:01:00"), 7, "click", 1.0))
      q.processAllAvailable()
      in.addData(
        Ev(1, ts("2024-01-01 00:02:00"), 7, "click", 1.0), // cross-batch dup
        Ev(3, ts("2024-01-01 00:03:00"), 8, "view", 2.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionize: closes on watermark, merges on touch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreamOps.sessionizeStream(in.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      in.addData(
        Ev(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
        Ev(2, ts("2024-01-01 00:30:00"), 7, "click", 2.0), // touch → same session
        Ev(3, ts("2024-01-01 00:05:00"), 8, "view", 4.0))
      q.processAllAvailable()
      // gap > 30 min for user 7 → new open session; old one closes once
      // the watermark (max ts − 30 min) passes 00:30 + 30 min
      in.addData(Ev(4, ts("2024-01-01 02:00:00"), 7, "click", 8.0))
      q.processAllAvailable()
      // push the watermark far ahead so every session times out
      in.addData(Ev(5, ts("2024-01-01 09:00:00"), 9, "click", 0.5))
      q.processAllAvailable()

      val got = spark.table("sess_out").collect()
        .map(r => (r.getLong(2), r.getTimestamp(0).toString,
                   r.getTimestamp(1).toString, r.getLong(3), r.getDouble(4)))
        .toSet
      assert(got == Set(
        (7L, "2024-01-01 00:00:00.0", "2024-01-01 01:00:00.0", 2L, 3.0),
        (7L, "2024-01-01 02:00:00.0", "2024-01-01 02:30:00.0", 1L, 8.0),
        (8L, "2024-01-01 00:05:00.0", "2024-01-01 00:35:00.0", 1L, 4.0)))
      // user 9's session is still open (nothing advanced the watermark past it)
    } finally q.stop()
  }

  test("stream-static join enriches each batch against the broadcast dimension") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dim = Seq((7L, "gold"), (8L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[Ev]
    val q = EventStreamOps.enrichWithDim(in.toDF(), dim)
      .select($"event_id", $"tier")
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      in.addData(
        Ev(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
        Ev(2, ts("2024-01-01 00:01:00"), 9, "view", 2.0)) // no dim row → null
      q.processAllAvailable()
      in.addData(Ev(3, ts("2024-01-01 00:02:00"), 8, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("enrich_out").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
      assert(got === Map(1L -> "gold", 2L -> null, 3L -> "silver"))
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join on the same data") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = EventStreamOps.attributionJoin(clicks.toDF(), purchases.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      val c = Seq(
        Ev(10, ts("2024-01-01 00:00:00"), 7, "click", 0),
        Ev(11, ts("2024-01-01 00:20:00"), 7, "click", 0),
        Ev(12, ts("2024-01-01 00:20:00"), 8, "click", 0),
        Ev(13, ts("2024-01-01 01:00:00"), 7, "click", 0))
      val p = Seq(
        Ev(20, ts("2024-01-01 00:25:00"), 7, "purchase", 0), // ← clicks 10, 11
        Ev(21, ts("2024-01-01 00:55:00"), 8, "click", 0),
        Ev(22, ts("2024-01-01 01:05:00"), 7, "purchase", 0)) // ← click 13
      clicks.addData(c: _*)
      purchases.addData(p: _*)
      q.processAllAvailable()

      val got = spark.table("attr_out").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      val batch = EventStreamOps.attributionJoin(c.toDF(), p.toDF()).collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(got == batch)
      assert(got == Set((20L, 10L), (20L, 11L), (22L, 13L)))
    } finally q.stop()
  }

  test("streaming incremental dedup emits exactly the batch pairs") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = TestSpark.sf
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val corpusIdx = graft.streaming.DedupStream.corpusIndex(
      docs.where(col("doc_id") % 2 === 0))
    val odds = docs.where(col("doc_id") % 2 === 1)
      .as[(Long, String)].collect().toSeq
    assert(odds.size > 10, s"need a real batch stream, got ${odds.size} docs")

    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = graft.streaming.DedupStream.start(
      in.toDF().toDF("doc_id", "text"), corpusIdx) { (pairs, _) =>
      got ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    try {
      // three uneven micro-batches covering every odd doc exactly once
      odds.grouped(math.max(1, odds.size / 3 + 1)).foreach { chunk =>
        in.addData(chunk: _*)
        q.processAllAvailable()
      }
      val batch = operators.Dedup.incremental(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.size == got.toSet.size, "a pair was emitted twice across batches")
      assert(got.toSet == batch,
        s"stream=${got.toSet.toSeq.sorted} batch=${batch.toSeq.sorted}")
      assert(batch.nonEmpty, "vacuous: no incremental pairs at this SF")
    } finally { q.stop(); corpusIdx.unpersist() }
  }

  test("streaming semdedup screens each batch against the IVF-cell corpus index") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = TestSpark.sf
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpusIdx = graft.streaming.SemDedupStream.corpusIndex(
      emb.where(col("vec_id") % 2 === 0))
    try {
      // the index rides the semPlanAtRest ladder (r15; r18 split it from
      // the one-shot schedule): at this corpus size the rung is 16
      // first-n cells (ids here are sparse — evens only — so the
      // vec_id < cells prefix yields the 8 even ids below 16, the
      // same centroid set the historical fixed-NCENT rule picked)
      val corpus = emb.where(col("vec_id") % 2 === 0)
      val cells = graft.operators.Similarity.semPlanAtRest(corpus.count())._1
      assert(cells === 16)
      assert(corpusIdx.centroids.count() ===
        corpus.where(col("vec_id") < cells).count())
      val odds = emb.where(col("vec_id") % 2 === 1)
      def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val oneShot = pairsOf(
        graft.streaming.SemDedupStream.screenBatch(odds, corpusIdx))
      assert(oneShot.nonEmpty, "vacuous: no semantic near-dups at this SF")

      val in = MemoryStream[(Long, Array[Float])]
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      val q = graft.streaming.SemDedupStream.start(
        in.toDF().toDF("vec_id", "embedding"), corpusIdx) { (pairs, _) =>
        got ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
      try {
        val rows = odds.as[(Long, Array[Float])].collect().toSeq
        rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { chunk =>
          in.addData(chunk: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      assert(got.size == got.toSet.size, "a pair was emitted twice across batches")
      // cell assignment is per-vector, so micro-batching cannot change the set
      assert(got.toSet == oneShot)
      // every emitted pair is a genuine cosine near-dup: recompute driver-side
      val byId = emb.as[(Long, Array[Float])].collect().toMap
      got.foreach { case (a, b, s) =>
        val va = byId(a).map(_.toDouble); val vb = byId(b).map(_.toDouble)
        def dot(x: Array[Double], y: Array[Double]) =
          x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
        val cos = dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))
        assert(math.abs(cos - s) <= 1e-6, s"pair ($a,$b): emitted $s, recomputed $cos")
        assert(s >= graft.operators.Similarity.SemThreshold)
      }
    } finally corpusIdx.unpersist()
  }

  test("streaming ANN serving: micro-batched answers == one-shot serve") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = TestSpark.sf
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // corpus = even ids; query stream = odd ids (disjoint from the corpus,
    // the serving-shaped case: no self-exclusion semantics in play)
    val idx = graft.streaming.AnnServeStream.corpusIndex(
      emb.where(col("vec_id") % 2 === 0))
    try {
      val odds = emb.where(col("vec_id") % 2 === 1)
      def answersOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      val oneShot = answersOf(
        graft.streaming.AnnServeStream.serveBatch(odds, idx))
      assert(oneShot.nonEmpty, "vacuous: no ANN answers at this SF")
      // answers only name corpus (even) vectors
      oneShot.foreach { case (_, n, _, _) => assert(n % 2 == 0, s"neighbor $n") }

      val in = MemoryStream[(Long, Array[Float])]
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
      val q = graft.streaming.AnnServeStream.start(
        in.toDF().toDF("vec_id", "embedding"), idx) { (answers, _) =>
        got ++= answers.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      }
      try {
        val rows = odds.as[(Long, Array[Float])].collect().toSeq
        rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { chunk =>
          in.addData(chunk: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      assert(got.size == got.toSet.size, "an answer was emitted twice across batches")
      // answers are per-query functions of the fixed corpus: micro-batch
      // boundaries cannot change the set
      assert(got.toSet == oneShot)

      // r15 ranked serving kernel: same index, fixed probe budget.
      // Per-query function of (query, index), so chunked == one-shot;
      // a corpus-member query still returns itself at rank 1 (its own
      // buckets are always probed).
      val rankedOneShot = answersOf(
        graft.streaming.AnnServeStream.serveBatchRanked(odds, idx))
      assert(rankedOneShot.nonEmpty)
      rankedOneShot.foreach { case (_, n, _, _) => assert(n % 2 == 0) }
      val rankedChunked = odds.as[(Long, Array[Float])].collect().toSeq
        .grouped(80).flatMap { chunk =>
          answersOf(graft.streaming.AnnServeStream.serveBatchRanked(
            chunk.toDF("vec_id", "embedding"), idx))
        }.toSet
      assert(rankedChunked == rankedOneShot,
        "ranked serve answers changed under batching")
      val self = answersOf(graft.streaming.AnnServeStream.serveBatchRanked(
        emb.where(col("vec_id") === 0), idx))
      assert(self.exists { case (q, n, r, s) => q == 0L && n == 0L && r == 1 && s == 1.0 },
        s"corpus-member query did not return itself at rank 1: $self")

      // r16 kernel dial: the STREAMING entry point with kernel = Ranked
      // must route every micro-batch through the ranked kernel — the
      // stream reproduces the ranked one-shot set, not the all-flips one
      val gotR = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
      val inR = MemoryStream[(Long, Array[Float])]
      val qR = graft.streaming.AnnServeStream.start(
        inR.toDF().toDF("vec_id", "embedding"), idx,
        kernel = graft.streaming.AnnServeStream.Ranked()) { (answers, _) =>
        gotR ++= answers.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      }
      try {
        val rows = odds.as[(Long, Array[Float])].collect().toSeq
        rows.grouped(math.max(1, rows.size / 2 + 1)).foreach { chunk =>
          inR.addData(chunk: _*)
          qR.processAllAvailable()
        }
      } finally qR.stop()
      assert(gotR.toSet == rankedOneShot,
        "streaming ranked kernel diverged from the one-shot ranked serve")
    } finally { idx.vecs.unpersist(); idx.buckets.unpersist() }
  }

  test("streaming IVF-PQ serving: micro-batched == one-shot; self at rank 1") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = TestSpark.sf
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val idx = graft.streaming.PqServeStream.corpusIndex(
      emb.where(col("vec_id") % 2 === 0))
    try {
      val odds = emb.where(col("vec_id") % 2 === 1)
      def answersOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      val oneShot = answersOf(graft.streaming.PqServeStream.serveBatch(odds, idx))
      assert(oneShot.nonEmpty, "vacuous: no IVF-PQ answers at this SF")
      oneShot.foreach { case (_, n, _, _) => assert(n % 2 == 0, s"neighbor $n") }

      // serving semantics (excludeSelf = false): a query that IS a corpus
      // member gets itself back at rank 1 with exact cosine 1.0
      val members = emb.where(col("vec_id") % 2 === 0 && col("vec_id") < 40)
      val selfTop = graft.streaming.PqServeStream.serveBatch(members, idx)
        .where(col("rnk") === 1).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      assert(selfTop.nonEmpty)
      selfTop.foreach { case (q, n, s) =>
        assert(q == n && s == 1.0, s"member $q top-1 was ($n, $s)") }

      val in = MemoryStream[(Long, Array[Float])]
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
      val q = graft.streaming.PqServeStream.start(
        in.toDF().toDF("vec_id", "embedding"), idx) { (answers, _) =>
        got ++= answers.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      }
      try {
        val rows = odds.as[(Long, Array[Float])].collect().toSeq
        rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { chunk =>
          in.addData(chunk: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      assert(got.size == got.toSet.size, "an answer was emitted twice across batches")
      assert(got.toSet == oneShot)
    } finally idx.unpersist()
  }

  test("streaming dedup maxDf: corpus-df governed, micro-batch invariant, ⊆ exact") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = TestSpark.sf
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val corpusIdx = graft.streaming.DedupStream.corpusIndex(
      docs.where(col("doc_id") % 2 === 0))
    try {
      val cdf = graft.streaming.DedupStream.corpusShingleDf(corpusIdx)
      val dfs = cdf.select("df").as[Long].collect().sorted
      val m = math.max(1L, dfs.last / 2)
      assert(dfs.last > m, s"cutoff vacuous: max corpus df ${dfs.last} <= $m")
      val odds = docs.where(col("doc_id") % 2 === 1)
      def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val oneShot = pairsOf(
        graft.streaming.DedupStream.screenBatch(odds, corpusIdx, Some(m)))
      val exact = pairsOf(
        graft.streaming.DedupStream.screenBatch(odds, corpusIdx, None))

      val in = MemoryStream[(Long, String)]
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      val q = graft.streaming.DedupStream.start(
        in.toDF().toDF("doc_id", "text"), corpusIdx, Some(m)) { (pairs, _) =>
        got ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
      try {
        val oddRows = odds.as[(Long, String)].collect().toSeq
        oddRows.grouped(math.max(1, oddRows.size / 3 + 1)).foreach { chunk =>
          in.addData(chunk: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      // candidate generation is per-doc vs corpus, so micro-batch
      // composition cannot change the emitted set — even under the cutoff
      assert(got.toSet == oneShot,
        s"micro-batched != one-shot under maxDf=$m")
      // the cutoff is candidate-gen-only: it may lose pairs, never invent
      assert(oneShot.subsetOf(exact))
      assert(exact.nonEmpty, "vacuous: no exact pairs at this SF")
    } finally corpusIdx.unpersist()
  }

  test("streaming anomaly scoring flags exactly the batch MAD outliers") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // "train" on the corpus at rest, then replay the same events as a
    // 3-batch stream: the stateless apply must flag exactly the batch set
    // regardless of micro-batch composition.
    val thresholds = graft.operators.EventOps.madThresholds(spark, sf)
      .as[(String, Double, Double)].collect().toSeq
      .toDF("event_type", "med", "mad")
    val batchFlags = graft.operators.EventOps.anomalyMad(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).toSet
    val events = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Ev].collect().toSeq
    val in = MemoryStream[Ev]
    val q = EventStreamOps.scoreAnomalies(in.toDF(), thresholds)
      .writeStream.outputMode("append")
      .format("memory").queryName("anomaly_out").start()
    try {
      events.grouped(events.size / 3 + 1).foreach { chunk =>
        in.addData(chunk: _*)
        q.processAllAvailable()
      }
      val got = spark.table("anomaly_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).toSet
      assert(got == batchFlags, "stream flags != batch flags")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  /** ADVICE r15: SemIndex.unpersist() once left the Lloyd-training
    * frames persisted behind TRAINED centroids, so long-lived sessions
    * rebuilding indexes accumulated cached relations. Training now runs
    * on the driver and persists nothing; this pins that the index's own
    * unpersist() leaves no persistent RDD behind. Built with the
    * trained-path centroid builder forced (the gate corpus sits below
    * the hand-over rung), exactly the corpusIndex wiring. Compared as
    * RDD ID SETS, not counts (the DedupSpec leak-spec lesson:
    * ContextCleaner races a count). */
  test("SemIndex.unpersist releases the build's training caches (ADVICE r15)") {
    import graft.operators.Similarity
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val emb = Tables.embeddings(spark, TestSpark.sf).select("vec_id", "embedding")
    val e = graft.streaming.SemDedupStream.prepVecs(emb).persist()
    val cent = Similarity.ivfPqCentroids(e, cells = 4)
    val idx = graft.streaming.SemDedupStream.SemIndex(
      Similarity.cellAssignment(e, cent).persist(), cent, e)
    idx.assign.count() // materialize the index
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "vacuous: the trained build persisted nothing")
    idx.unpersist()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"SemIndex.unpersist leaked cached relation(s): RDD ids $leaked")
  }

  /** r16, the SemIndex lesson applied to the dedup twin: DedupStream
    * .start persists the corpus-df relation for the stream's lifetime
    * but never released it, so sessions restarting screeners accumulated
    * cached relations. It now unpersists via a termination listener
    * (async — polled here). The caller-owned corpusIdx must survive. */
  test("DedupStream releases its stream-lifetime df cache on termination (r16)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, TestSpark.sf).select("doc_id", "text")
    val corpusIdx = graft.streaming.DedupStream.corpusIndex(
      docs.where(col("doc_id") % 2 === 0))
    corpusIdx.count()
    val withIdx = spark.sparkContext.getPersistentRDDs.keySet
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DedupStream.start(
      in.toDF().toDF("doc_id", "text"), corpusIdx) { (pairs, _) =>
      pairs.count(); ()
    }
    try {
      in.addData((1L, "alpha beta gamma delta epsilon"))
      q.processAllAvailable()
      assert((spark.sparkContext.getPersistentRDDs.keySet -- withIdx).nonEmpty,
        "vacuous: the stream-lifetime df cache never materialized")
    } finally q.stop()
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- withIdx
    val deadline = System.currentTimeMillis() + 30000
    while (leaked.nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(leaked.isEmpty, s"df cache leaked after stop: RDD ids $leaked")
    // the caller-owned index is untouched by the stream's cleanup
    assert(corpusIdx.storageLevel.useMemory, "corpusIdx was unpersisted")
    corpusIdx.unpersist()
  }
}
