package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-validation of the approximate dedup operators against the exact
  * n-gram Jaccard computation (which is itself DuckDB-oracle-checked). */
class DedupSpec extends AnyFunSuite with TestSpark.TempDirs {
  lazy val spark = TestSpark.spark
  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val exactPairs: Set[(Long, Long)] =
    pairs(Dedup.ngramJaccard(spark, TestSpark.sf))

  test("exact jaccard finds the planted near-dups") {
    assert(exactPairs.nonEmpty)
  }

  test("minhash+LSH: precision direction — never invents a pair") {
    // Guaranteed by construction: candidates are verified with exact
    // jaccard, so false positives are impossible at ANY recall level.
    val lsh = pairs(Dedup.minhashLsh(spark, TestSpark.sf))
    val invented = lsh -- exactPairs
    assert(invented.isEmpty, s"LSH emitted non-dup pairs: $invented")
  }

  test("minhash+LSH: recall direction — full recall on this corpus") {
    // NOT guaranteed in general (8 bands × 4 rows has its S-curve knee
    // near j ≈ 0.6; a j = 0.8 pair can in principle miss all bands), but
    // deterministic per dataset, and on this corpus the planted pairs sit
    // at j ≈ 0.9+ where band-miss probability is negligible — this assert
    // is what licenses reusing the exact-jaccard SQL as the LSH oracle.
    // If it ever fails the oracle must switch to a containment check, not
    // the operator to a weaker one.
    val missed = exactPairs -- pairs(Dedup.minhashLsh(spark, TestSpark.sf))
    assert(missed.isEmpty, s"LSH missed near-dup pairs: $missed")
  }

  test("simhash pairs are a subset of jaccard near-dups (≥ 0.5)") {
    val sim = pairs(Dedup.simhash(spark, TestSpark.sf))
    assert(sim.nonEmpty, "simhash found nothing")
    // hamming ≤ 3 on 64-bit shingle simhash is a stricter filter than
    // jaccard ≥ 0.8 on this corpus; allow it to miss pairs but not to
    // invent pairs that exact jaccard rejects.
    val invented = sim -- exactPairs
    assert(invented.isEmpty, s"simhash invented non-dup pairs: $invented")
  }

  test("maxDf cutoff collapses hot-shingle candidate volume, output unchanged") {
    import spark.implicits._
    // Plant a 200-doc template family on top of the real corpus: each doc
    // is the same 10 hot tokens wrapped in two unique ones → 8 shingles
    // shared by all 200 (df=200) + 2 unique. plen=3, so ONE hot shingle
    // lands in every prefix → ~C(200,2) candidate pairs that all FAIL
    // verify (J = 8/12 < 0.8). The df cutoff removes exactly that noise.
    val tmp = tempDir("hotdf").toString
    val hot = (0 until 200).map { i =>
      (100000L + i, s"uq${i}a zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10 uq${i}b")
    }.toDF("doc_id", "text")
    Tables.documents(spark, TestSpark.sf).select($"doc_id", $"text")
      .unionByName(hot)
      .write.parquet(s"$tmp/documents.parquet")

    val docs = Dedup.rarityDocs(spark, tmp)
    val nFull = Dedup.candidatePairs(docs, None).count()
    val nCut = Dedup.candidatePairs(docs, Some(100L)).count()
    assert(nFull >= 19900L, s"hot family not in the index: $nFull candidates")
    assert(nCut < nFull / 50, s"cutoff did not collapse candidates: $nFull -> $nCut")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toVector
    assert(rows(Dedup.ngramJaccardImpl(spark, tmp, Some(100L)))
       === rows(Dedup.ngramJaccardImpl(spark, tmp, None)))
    assert(rows(Dedup.incrementalImpl(spark, tmp, Some(100L)))
       === rows(Dedup.incrementalImpl(spark, tmp, None)))
    // non-vacuous: the real corpus's near-dup pairs are still found
    assert(rows(Dedup.ngramJaccardImpl(spark, tmp, Some(100L))).nonEmpty)
  }

  test("cdc chunking: boundary locality — an early edit leaves later chunks intact") {
    // The property that justifies CDC over fixed-width chunking: because
    // boundaries depend only on the local 4-token window, inserting a
    // token near the front re-chunks at most the prefix up to the first
    // boundary at/after the edit; every later chunk digest survives. A
    // fixed-width chunker would shift every subsequent chunk instead.
    import spark.implicits._
    // every token distinct (i is embedded) so chunk digests are distinct
    // and set arithmetic below counts chunks, not collapsed repeats
    val base = (0 until 400).map(i => s"w${i}x${(i * 37) % 101}").mkString(" ")
    val edited = "zzz " + base
    val docs = Seq((0L, base), (1L, edited), (2L, base)).toDF("doc_id", "text")
    val chunks = Dedup.cdcChunkTable(docs).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1)).map(_.getString(2)).toVector
      }
    val (a, b) = (chunks(0L), chunks(1L))
    // identical text → identical chunk sequence
    assert(chunks(2L) === a)
    // all original chunks except a bounded prefix reappear verbatim
    val shared = a.toSet.intersect(b.toSet)
    assert(a.size > 20, s"degenerate chunking: only ${a.size} chunks")
    assert(shared.size >= a.size - 3,
      s"edit perturbed ${a.size - shared.size} of ${a.size} chunks — not local")
    // and the perturbation is at the FRONT: the suffixes align exactly
    assert(a.takeRight(a.size - 3) === b.takeRight(a.size - 3))
  }

  test("clusters: driver union-find path == distributed label-propagation path") {
    val viaUnionFind = Dedup.clustersImpl(spark, TestSpark.sf, driverUnionFindMax = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Dedup.clustersImpl(spark, TestSpark.sf, driverUnionFindMax = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaUnionFind === viaLoop)
    // components group exactly the transitive closure of the pair graph:
    // both endpoints of every exact pair share a component
    exactPairs.foreach { case (a, b) =>
      assert(viaUnionFind(a) === viaUnionFind(b), s"pair ($a,$b) split across components")
    }
  }

  test("embcos audit: histogram covers exactly the within-sample pairs, scaled consistently") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.embeddingCosineAudit(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    // reconstruct the deterministic sample size the audit used
    val n = Tables.embeddings(spark, TestSpark.sf).count()
    val k = math.max(1L, math.sqrt(n.toDouble).toLong / 4L)
    val m = Tables.embeddings(spark, TestSpark.sf)
      .where(col("vec_id") % lit(1000003L) * lit(2654435761L) % lit(1000003L) % lit(k) === 0L)
      .count()
    // every within-sample pair lands in exactly one bucket
    assert(rows.map(_.getAs[Long]("n_pairs")).sum === m * (m - 1) / 2)
    // population estimates scale each bucket by C(n,2)/C(m,2)
    val scale = (n * (n - 1) / 2).toDouble / (m * (m - 1) / 2).toDouble
    rows.foreach { r =>
      val np = r.getAs[Long]("n_pairs")
      assert(r.getAs[Long]("est_pairs") === math.floor(np * scale).toLong)
      assert(r.getAs[Double]("ci_half") >= 0.0)
    }
    // the audit's estimate of the dup-pair mass at the exact query's
    // threshold must bracket plausibility: buckets at/above 0.45 imply
    // dup pairs; on this corpus (max cos ~0.51) high buckets are rare,
    // so the histogram must be dominated by sub-threshold mass
    val below = rows.filter(_.getAs[Double]("cos_bucket") < 0.45)
      .map(_.getAs[Long]("n_pairs")).sum
    assert(below.toDouble / (m * (m - 1) / 2) > 0.99)
  }

  test("embcos: zero-norm embeddings are skipped, not NaN-crashed (ADVICE r13)") {
    import org.apache.spark.sql.functions._
    // a corpus containing a zero vector: cosine against it is undefined
    // (0/0); pre-guard this crashed BigDecimal.valueOf(NaN) in the kernel
    val dir = tempDir("embcos_zero").toString
    import spark.implicits._
    Seq(
      (0L, Array(0f, 0f, 0f)),              // zero norm — must pair with nobody
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(1f, 0.01f, 0f)),           // near-dup of 1
      (3L, Array(0f, 1f, 0f))
    ).toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val pairs = Dedup.embeddingCosine(spark, dir).collect()
    assert(pairs.nonEmpty, "near-dup pair (1,2) missing")
    assert(!pairs.exists(r => r.getLong(0) == 0L || r.getLong(1) == 0L),
      "a zero-norm vector produced a cosine pair")
    assert(pairs.forall(r => !r.getDouble(2).isNaN))
    // the audit runs the same kernel with thr=-2.0 (every pair kept):
    // the zero-norm pairs must be skipped there too, not crash or NaN
    val hist = Dedup.embeddingCosineAudit(spark, dir).collect()
    assert(hist.map(_.getAs[Long]("n_pairs")).sum === 3L,
      "expected C(3,2)=3 pairs among the three nonzero vectors")
  }

  test("embcos audit releases its cached sample (ADVICE r13 leak)") {
    spark.catalog.clearCache()
    // Compare ID SETS, not counts: earlier tests' localCheckpoint RDDs
    // (union-find rounds) linger in getPersistentRDDs until the
    // ContextCleaner GC-collects them, which can happen asynchronously
    // DURING this test — a count equality races against that cleanup.
    // The audit is leak-free iff it leaves behind no NEW persisted RDD.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.embeddingCosineAudit(spark, TestSpark.sf).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"embeddingCosineAudit leaked cached relation(s): RDD ids $leaked")
  }
}
