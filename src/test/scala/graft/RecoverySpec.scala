package graft

import java.nio.file.Files
import graft.streaming.EventStreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint recovery for the CUSTOM stateful operator: the
  * flatMapGroupsWithState sessionizer is stopped mid-stream and restarted
  * from its checkpoint; the parquet-sink output across both runs must
  * equal the batch `session_window` result on closed sessions, with no
  * duplicate emissions (sink idempotence via the commit log).
  *
  * This is the recovery guarantee the reference relies on for Task4
  * (SURVEY §2.2 K4 — its shipped `checkpoint/` proves 4 committed
  * batches); here it covers custom session state, not just built-in agg
  * state (TaxiStreamSpec covers that path). */
class RecoverySpec extends AnyFunSuite with TestSpark.TempDirs {
  lazy val spark = TestSpark.spark

  /** events sorted into 4 time-ranged parquet slices, written as separate
    * files with ascending mtimes so the file source replays them in
    * chronological order. */
  private def stage(dir: String, slice: Int): Unit = {
    val staged = Tables.eventsLtz(spark, TestSpark.sf)
      .withColumn("sl", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"))))
      .where(col("sl") === slice + 1).drop("sl")
    val tmp = tempDir(s"slice$slice").toString
    staged.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.startsWith("part-")).get
    val dst = new java.io.File(dir, f"slice-$slice%02d.parquet")
    Files.copy(part.toPath, dst.toPath)
    Files.setLastModifiedTime(dst.toPath,
      java.nio.file.attribute.FileTime.fromMillis(1000L * (slice + 1)))
  }

  /** Runs the sessionizer stream over the staged slices; returns the
    * state-operator custom-metric names of the last progress (used by
    * the RocksDB case to prove which provider actually ran). */
  private def run(in: String, out: String, cp: String): Set[String] = {
    val schema = Tables.eventsLtz(spark, TestSpark.sf).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = EventStreamOps.sessionizeStream(stream)
      .writeStream.outputMode("append")
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", cp)
      .start()
    q.processAllAvailable()
    val metrics = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.toSeq)
      .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
      .toSet
    q.stop()
    metrics
  }

  /** Odd-id documents sliced into 4 single-file parquet drops with
    * ascending mtimes — the "new docs arriving over time" input of
    * [[graft.streaming.DedupStreamJob]]. */
  private def stageDocs(dir: String, slice: Int): Unit = {
    val staged = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("text"))
      .where(col("doc_id") % 2 === 1)
      .withColumn("sl", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))))
      .where(col("sl") === slice + 1).drop("sl")
    val tmp = tempDir(s"docslice$slice").toString
    staged.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.startsWith("part-")).get
    val dst = new java.io.File(dir, f"docs-$slice%02d.parquet")
    Files.copy(part.toPath, dst.toPath)
    Files.setLastModifiedTime(dst.toPath,
      java.nio.file.attribute.FileTime.fromMillis(1000L * (slice + 1)))
  }

  test("dedup stream job restarts from checkpoint; pairs == batch, exactly once") {
    val in = tempDir("ddj_in").toString
    val out = tempDir("ddj_out").toString
    val cp = tempDir("ddj_cp").toString
    val corpusDir = tempDir("ddj_corpus").toString
    Tables.documents(spark, TestSpark.sf).select("doc_id", "text")
      .where(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(corpusDir)

    def run(): Unit = {
      val q = graft.streaming.DedupStreamJob.run(spark, corpusDir, in, out, cp)
      q.processAllAvailable()
      q.stop()
      spark.catalog.clearCache() // drop the per-run corpus index persists
    }
    // run 1 sees two doc drops, then the query is stopped (simulated kill)
    stageDocs(in, 0); stageDocs(in, 1)
    run()
    // run 2 resumes from the checkpoint and drains the remaining drops
    stageDocs(in, 2); stageDocs(in, 3)
    run()

    val got = spark.read.parquet(out)
      .select("new_id", "corpus_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === got.distinct.length,
      "a pair was emitted twice across the restart")
    val expected = graft.operators.Dedup.incremental(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.toSet === expected,
      s"got ${got.length} pairs, expected ${expected.size}")
    assert(got.nonEmpty, "vacuous: no incremental pairs at this SF")
  }

  /** Every 10th embedding vector sliced into 4 single-file parquet drops
    * with ascending mtimes — the query stream of
    * [[graft.streaming.AnnServeJob]]. */
  private def stageQueryVecs(dir: String, slice: Int): Unit = {
    val staged = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"))
      .where(col("vec_id") % 10 === 0)
      .withColumn("sl", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))))
      .where(col("sl") === slice + 1).drop("sl")
    val tmp = tempDir(s"qvecslice$slice").toString
    staged.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.startsWith("part-")).get
    val dst = new java.io.File(dir, f"queries-$slice%02d.parquet")
    Files.copy(part.toPath, dst.toPath)
    Files.setLastModifiedTime(dst.toPath,
      java.nio.file.attribute.FileTime.fromMillis(1000L * (slice + 1)))
  }

  test("ANN serve job restarts from checkpoint; answers == one-shot, exactly once") {
    val in = tempDir("ann_in").toString
    val out = tempDir("ann_out").toString
    val cp = tempDir("ann_cp").toString
    val corpusDir = tempDir("ann_corpus").toString
    Tables.embeddings(spark, TestSpark.sf).select("vec_id", "embedding")
      .write.mode("overwrite").parquet(corpusDir)

    def run(): Unit = {
      val q = graft.streaming.AnnServeJob.run(spark, corpusDir, in, out, cp)
      q.processAllAvailable()
      q.stop()
      spark.catalog.clearCache() // drop the per-run corpus index persists
    }
    // run 1 serves two query drops, then the query is stopped (simulated kill)
    stageQueryVecs(in, 0); stageQueryVecs(in, 1)
    run()
    // run 2 resumes from the checkpoint and drains the remaining drops
    stageQueryVecs(in, 2); stageQueryVecs(in, 3)
    run()

    val got = spark.read.parquet(out)
      .select("query_id", "neighbor_id", "rnk", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.length === got.distinct.length,
      "an answer was emitted twice across the restart")
    // answers are per-query functions of the fixed corpus, so the union
    // across epochs and restarts must equal a one-shot serve of all queries
    val corpus = spark.read.parquet(corpusDir)
    val idx = graft.streaming.AnnServeStream.corpusIndex(corpus)
    val allQueries = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding").where(col("vec_id") % 10 === 0)
    val expected = graft.streaming.AnnServeStream
      .serveBatch(allQueries, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    spark.catalog.clearCache()
    assert(got.toSet === expected,
      s"got ${got.length} answers, expected ${expected.size}")
    assert(got.nonEmpty, "vacuous: no ANN answers at this SF")
  }

  test("ANN serve checkpoint pins the serve kernel; a kernel switch fails fast") {
    // ADVICE r16: the kernel changes WHICH answers each epoch holds, so a
    // restart under a different --kernel would mix two kernels' answers
    // in one output dir. The marker written on first start must reject it.
    import graft.streaming.{AnnServeJob, AnnServeStream}
    val cp = tempDir("ann_kernel_cp").toString
    AnnServeJob.pinKernel(spark, cp, AnnServeStream.AllFlips)
    // same kernel resumes fine (idempotent)
    AnnServeJob.pinKernel(spark, cp, AnnServeStream.AllFlips)
    val ex = intercept[IllegalStateException] {
      AnnServeJob.pinKernel(spark, cp, AnnServeStream.Ranked(3))
    }
    assert(ex.getMessage.contains("allflips") && ex.getMessage.contains("ranked:3"))
    // distinct ranked budgets are distinct kernels too
    val cp2 = tempDir("ann_kernel_cp2").toString
    AnnServeJob.pinKernel(spark, cp2, AnnServeStream.Ranked(2))
    intercept[IllegalStateException] {
      AnnServeJob.pinKernel(spark, cp2, AnnServeStream.Ranked(3))
    }
  }

  test("LSH serve index persists at rest; a regenerated corpus invalidates it") {
    import graft.streaming.AnnServeStream
    val corpusDir = tempDir("lshidx_corpus").toString
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"))
    val queries = emb.where(col("vec_id") % 50 === 0)
    def answers(idx: AnnServeStream.LshIndex) =
      AnnServeStream.serveBatch(queries, idx).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet

    emb.where(col("vec_id") < 250).write.mode("overwrite").parquet(corpusDir)
    val p1 = AnnServeStream.indexPath(corpusDir)
    val idx1 = AnnServeStream.loadOrBuildIndex(spark, corpusDir)
    // the rung travels WITH the stored index and matches the build ladder
    assert((idx1.tables, idx1.bits) ===
      graft.operators.Similarity.lshParams(250L))
    // answers from the at-rest index == answers from the in-memory build
    val a1 = answers(idx1)
    assert(a1.nonEmpty && a1 === answers(
      AnnServeStream.corpusIndex(spark.read.parquet(corpusDir))))
    spark.catalog.clearCache()

    // a second load REUSES the materialization (no rebuild: the signature
    // write's _SUCCESS mtime is unchanged) and serves identically
    val succ = new java.io.File(s"$p1/buckets/_SUCCESS")
    val m0 = succ.lastModified()
    val idx1b = AnnServeStream.loadOrBuildIndex(spark, corpusDir)
    assert(succ.lastModified() === m0, "second load rewrote the index")
    assert(answers(idx1b) === a1)
    spark.catalog.clearCache()

    // regenerate the corpus: the footprint key changes, so the OLD index
    // is unreachable and the new build serves only new-corpus neighbors —
    // a stale-index answer would surface ids < 250
    emb.where(col("vec_id") >= 250).write.mode("overwrite").parquet(corpusDir)
    val p2 = AnnServeStream.indexPath(corpusDir)
    assert(p2 !== p1, "regenerated corpus kept the same index key")
    val idx2 = AnnServeStream.loadOrBuildIndex(spark, corpusDir)
    val a2 = answers(idx2)
    assert(a2.nonEmpty)
    val staleNeighbors = a2.filter(_._2 < 250)
    assert(staleNeighbors.isEmpty,
      s"answers served from the stale index: $staleNeighbors")
    spark.catalog.clearCache()
  }

  test("index key survives an mtime/count/bytes collision; sweep is age-gated (ADVICE r13)") {
    import graft.streaming.AnnServeStream
    val corpusDir = tempDir("lshidx_key").toString
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding")).where(col("vec_id") < 200)

    // --- key: a regenerated corpus with IDENTICAL (count, mtime, bytes)
    // must still change the key, via the part-file-name digest
    emb.coalesce(1).write.mode("overwrite").parquet(corpusDir)
    def dataFiles() = new java.io.File(corpusDir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val mtime0 = dataFiles().map(_.lastModified()).max
    val p1 = AnnServeStream.indexPath(corpusDir)
    emb.coalesce(1).write.mode("overwrite").parquet(corpusDir) // same rows → same count/bytes
    dataFiles().foreach(f => assert(f.setLastModified(mtime0))) // force the mtime collision
    val p2 = AnnServeStream.indexPath(corpusDir)
    assert(p2 !== p1,
      "identical (count, mtime, bytes) footprint reused the stale key — name digest missing")

    // --- sweep: a superseded sibling survives inside the grace window...
    val idxRoot = new java.io.File("/tmp/graft_lsh_index")
    AnnServeStream.loadOrBuildIndex(spark, corpusDir)
    spark.catalog.clearCache()
    emb.repartition(2).write.mode("overwrite").parquet(corpusDir)
    val saved = AnnServeStream.sweepAgeMs
    try {
      AnnServeStream.sweepAgeMs = Long.MaxValue
      AnnServeStream.loadOrBuildIndex(spark, corpusDir)
      spark.catalog.clearCache()
      assert(new java.io.File(p2).exists(),
        "sweep deleted a sibling inside the grace window")

      // ...and is swept past it; an orphaned .tmp of a dead builder goes
      // too, while a live builder's staging dir is untouched
      val deadTmp = new java.io.File(idxRoot, new java.io.File(p2).getName + ".tmp-999999999")
      val liveTmp = new java.io.File(idxRoot, new java.io.File(p2).getName +
        s".tmp-${java.lang.ProcessHandle.current().pid()}")
      assert(deadTmp.mkdirs() && liveTmp.mkdirs())
      AnnServeStream.sweepAgeMs = -1L
      emb.repartition(3).write.mode("overwrite").parquet(corpusDir)
      AnnServeStream.loadOrBuildIndex(spark, corpusDir)
      spark.catalog.clearCache()
      assert(!new java.io.File(p2).exists(), "aged-out sibling index not swept")
      assert(!deadTmp.exists(), "orphaned staging dir of a dead builder not swept")
      assert(liveTmp.exists(), "a LIVE builder's staging dir was swept")
      liveTmp.delete()
    } finally AnnServeStream.sweepAgeMs = saved
  }

  test("PQ serve job restarts from checkpoint; answers == one-shot, exactly once") {
    val in = tempDir("pq_in").toString
    val out = tempDir("pq_out").toString
    val cp = tempDir("pq_cp").toString
    val corpusDir = tempDir("pq_corpus").toString
    Tables.embeddings(spark, TestSpark.sf).select("vec_id", "embedding")
      .write.mode("overwrite").parquet(corpusDir)

    def run(): Unit = {
      val q = graft.streaming.PqServeJob.run(spark, corpusDir, in, out, cp)
      q.processAllAvailable()
      q.stop()
      spark.catalog.clearCache() // drop the per-run index persists
    }
    // run 1 serves two query drops, then the query is stopped (simulated kill)
    stageQueryVecs(in, 0); stageQueryVecs(in, 1)
    run()
    // run 2 retrains the identical index from the same corpus directory,
    // resumes from the checkpoint, and drains the remaining drops
    stageQueryVecs(in, 2); stageQueryVecs(in, 3)
    run()

    val got = spark.read.parquet(out)
      .select("query_id", "neighbor_id", "rnk", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.length === got.distinct.length,
      "an answer was emitted twice across the restart")
    val corpus = spark.read.parquet(corpusDir)
    val idx = graft.streaming.PqServeStream.corpusIndex(corpus)
    val allQueries = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding").where(col("vec_id") % 10 === 0)
    val expected = graft.streaming.PqServeStream
      .serveBatch(allQueries, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    spark.catalog.clearCache()
    assert(got.toSet === expected,
      s"got ${got.length} answers, expected ${expected.size}")
    assert(got.nonEmpty, "vacuous: no PQ answers at this SF")
  }

  test("sessionizer restarts from checkpoint; file-sink output == batch, exactly once") {
    val in = tempDir("rec_in").toString
    val out = tempDir("rec_out").toString
    val cp = tempDir("rec_cp").toString

    // run 1 sees only the first two time slices, then stops
    stage(in, 0); stage(in, 1)
    run(in, out, cp)
    // run 2 resumes from the checkpoint and drains the rest
    stage(in, 2); stage(in, 3)
    run(in, out, cp)

    val got = spark.read.parquet(out).collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
    // exactly-once: no session emitted twice across the restart
    assert(got.length === got.distinct.length, "duplicate emissions after restart")

    val maxTs = Tables.eventsLtz(spark, TestSpark.sf)
      .agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val watermark = new java.sql.Timestamp(maxTs.getTime - 30 * 60 * 1000)
    // batch sessionize inherits the parquet's timestamp flavor (NTZ this
    // round); cast to LTZ for a type-homogeneous compare with the stream
    val expected = graft.operators.EventOps.sessionize(spark, TestSpark.sf)
      .withColumn("session_start", col("session_start").cast("timestamp"))
      .withColumn("session_end", col("session_end").cast("timestamp"))
      .where(col("session_end") <= lit(watermark))
      .collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet === expected.toSet,
      s"got ${got.length} sessions, expected ${expected.length}")
    assert(got.nonEmpty)
  }

  test("sessionizer recovers on RocksDB state store; output == batch, exactly once") {
    val in = tempDir("rdb_in").toString
    val out = tempDir("rdb_out").toString
    val cp = tempDir("rdb_cp").toString

    // provider is read at query START and then pinned by the checkpoint;
    // the undo closure keeps it from leaking into the shared session
    val undo = graft.streaming.StateStores.useRocksDb(spark)
    try {
      stage(in, 0); stage(in, 1)
      val m1 = run(in, out, cp)
      assert(m1.exists(_.toLowerCase.contains("rocksdb")),
        s"state operator did not run on RocksDB (metrics: $m1)")
      // restart resumes RocksDB state from the checkpoint (changelog
      // checkpointing enabled: deltas, not full snapshots)
      stage(in, 2); stage(in, 3)
      run(in, out, cp)
    } finally undo()

    val got = spark.read.parquet(out).collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
    assert(got.length === got.distinct.length, "duplicate emissions after restart")

    val maxTs = Tables.eventsLtz(spark, TestSpark.sf)
      .agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val watermark = new java.sql.Timestamp(maxTs.getTime - 30 * 60 * 1000)
    // batch sessionize inherits the parquet's timestamp flavor (NTZ this
    // round); cast to LTZ for a type-homogeneous compare with the stream
    val expected = graft.operators.EventOps.sessionize(spark, TestSpark.sf)
      .withColumn("session_start", col("session_start").cast("timestamp"))
      .withColumn("session_end", col("session_end").cast("timestamp"))
      .where(col("session_end") <= lit(watermark))
      .collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet === expected.toSet,
      s"got ${got.length} sessions, expected ${expected.length}")
    assert(got.nonEmpty)
  }
}
