package graft

import graft.operators.EventOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batch event-operator contracts that the DuckDB oracle comparison
  * silently relies on. */
class EventOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** asofJoin data contract: the oracle (DuckDB ASOF JOIN) picks an
    * UNSPECIFIED row among clicks tied on (user_id, ts), while the Spark
    * side deterministically keeps the last by event_id — so engine
    * agreement requires that ties not exist. Assert (user_id, ts) is
    * unique per event_type at both the smoke and oracle scale factors, so
    * a future testdata change that introduces ties fails loudly here
    * instead of as a flaky hash mismatch. */
  test("asof join precondition: (user_id, ts) unique per event_type") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val dup = Tables.events(spark, dir)
        .where(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type"), col("user_id"), col("ts"))
        .count()
        .where(col("count") > 1)
        .count()
      withClue(s"$dir: duplicate (event_type, user_id, ts) keys:") {
        assert(dup === 0L)
      }
    }
  }

  /** Recall cross-check for the registered E2LSH ts-similarity: the
    * bucketed top-20 must recover most of the brute-force top-20 at the
    * oracle scale factor. After the round-10 18×5/w=500 retune (selectivity
    * 0.38 → 0.196 at sf0.1) the measured recall is 0.80 at sf0.01 and 0.95
    * at sf0.1 (BASELINE.md "Similarity scaling"; sf0.01 is the
    * intrinsically harder corpus — see the ProfTables scaladoc) — assert
    * ≥ 0.75 so the gate keeps headroom for testdata regeneration instead
    * of sitting exactly on the measured value. */
  test("ts_similarity LSH recalls the brute-force top-20") {
    val dir = "/root/testdata/sf0.01"
    val key = (r: org.apache.spark.sql.Row) => (r.get(0), r.get(1))
    val brute = EventOps.tsSimilarityBrute(spark, dir).collect().map(key).toSet
    val lsh = EventOps.tsSimilarity(spark, dir).collect().map(key).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.75, s"recall $recall; brute=$brute lsh=$lsh")
  }

  /** The two [[EventOps.tsScored]] vector-attach regimes (slim buckets +
    * broadcast attach vs profile-in-bucket fat form) are a PLAN choice
    * switched on corpus size at 2M users — the gate corpora never reach
    * the fat regime, so without this pin a fat-path divergence would
    * only surface at million-user probe scale. Assert both regimes
    * produce the identical top-20 through the full tsSimilarity tail
    * (heap → dedup → final cut) at sf0.01. */
  test("tsScored broadcast and fat attach regimes agree end-to-end") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val vecs = EventOps.profileVecs(spark, dir).persist()
    val nUsers = vecs.count()
    val (pt, pk) = EventOps.profParams(nUsers)
    def top(broadcastAttach: Boolean): Seq[org.apache.spark.sql.Row] =
      EventOps.tsScored(vecs, pt, pk, cap = EventOps.profCap(nUsers),
          broadcastAttach = broadcastAttach)
        .orderBy($"dist".asc, $"user_a".asc, $"user_b".asc)
        .limit(EventOps.ProfTopK * pt)
        .groupBy($"user_a", $"user_b").agg(min($"dist").as("dist"))
        .orderBy($"dist".asc, $"user_a".asc, $"user_b".asc)
        .limit(EventOps.ProfTopK)
        .collect().toSeq
    val viaBroadcast = top(broadcastAttach = true)
    val viaFat = top(broadcastAttach = false)
    vecs.unpersist()
    assert(viaBroadcast === viaFat)
    assert(viaBroadcast.size === EventOps.ProfTopK)
  }

  test("trend join and trend lag agree (same semantics, two plans)") {
    val a = EventOps.trendJoin(spark, TestSpark.sf).collect().toSeq
    val b = EventOps.trendLag(spark, TestSpark.sf).collect().toSeq
    assert(a === b)
  }

  test("E2LSH ladder rungs are pinned (BASELINE adaptive-ladder contract)") {
    // (tables, projections) per corpus size; the oracle SQL is generated
    // from the same table, so a rung change here is a cross-engine event
    assert(EventOps.profParams(1500L) === ((18, 5)))
    assert(EventOps.profParams(4999L) === ((18, 5)))
    assert(EventOps.profParams(5000L) === ((24, 6)))
    assert(EventOps.profParams(12500L) === ((32, 7)))
    assert(EventOps.profParams(31250L) === ((53, 8)))
    // r14 4th rung (sf10 probe): holds candidates/user ~2.1×/decade at
    // 150k users where (8,53) had reverted to linear growth
    assert(EventOps.profParams(78124L) === ((53, 8)))
    assert(EventOps.profParams(78125L) === ((80, 11)))
    assert(EventOps.profParams(150000L) === ((80, 11)))
    // r17 closed-form extension rungs (thr ×2.5 exact-integer, pk += 1,
    // pt ×1.45 rounded) — generated, but pinned here because the oracle
    // CASE inlines these exact integers
    assert(EventOps.profParams(195312L) === ((116, 12)))
    assert(EventOps.profParams(488280L) === ((168, 13)))
    assert(EventOps.profParams(1000000L) === ((168, 13)))
    assert(EventOps.profParams(1220703L) === ((244, 14)))
    // amplification must be monotone: bigger corpora never hash LESS
    val rungs = Seq(1L, 5000L, 12500L, 31250L, 78125L, 195312L, 488280L,
      1000000L, 1220703L, 100000000L).map(EventOps.profParams)
    assert(rungs.sliding(2).forall { case Seq((t1, k1), (t2, k2)) =>
      t2 >= t1 && k2 >= k1 })
  }

  /** r15 exact-twin collapse (profileVecs): on a duplicate-heavy corpus
    * the per-class truncation to the 21 smallest user_ids must be
    * OUTPUT-INVARIANT — the top-20 pair result equals the one computed
    * from the UNTRUNCATED profile relation (the scaladoc proof, checked
    * empirically). Corpus: 31 exact replicas of sf0.001's events with
    * only user_id offset (ts/value identical), so every profile class
    * has 31 members — past the 21-member retention bound. */
  test("twin collapse is output-invariant for the top-20 pair contract") {
    import spark.implicits._
    val dir = "/tmp/twin_events_spec"
    val base = Tables.events(spark, "/root/testdata/sf0.001")
    (0 until 31).map { r =>
      base.select(($"event_id" + lit(r.toLong * 100000L)).as("event_id"),
        $"ts", ($"user_id" + lit(r.toLong * 1000000L)).as("user_id"),
        $"event_type", $"value")
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // truncated classes never exceed the retention bound
    val classSizes = EventOps.profileVecs(spark, dir)
      .groupBy($"vec").count().select(max($"count")).head().getLong(0)
    assert(classSizes <= 21L, s"class of $classSizes survived the collapse")

    // untruncated brute top-20, built from the raw (pre-collapse)
    // profile relation with the exact same arithmetic
    val ev = Tables.events(spark, dir)
    val raw = ev.groupBy($"user_id", hour($"ts").as("h"))
      .agg(round(sum($"value"), 2).as("v"))
      .groupBy($"user_id")
      .agg(map_from_entries(collect_list(struct($"h", $"v"))).as("m"))
      .select($"user_id",
        expr("transform(sequence(0, 23), h -> coalesce(element_at(m, h), 0D))").as("vec"))
      .persist()
    val expected = raw.select($"user_id".as("user_a"), $"vec".as("va"))
      .join(raw.select($"user_id".as("user_b"), $"vec".as("vb")),
        $"user_a" < $"user_b")
      .withColumn("dist", round(sqrt(expr(
        "aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)")), 6))
      .select($"user_a", $"user_b", $"dist")
      .orderBy($"dist".asc, $"user_a".asc, $"user_b".asc)
      .limit(20).collect().toSeq

    val gotBrute = EventOps.tsSimilarityBrute(spark, dir).collect().toSeq
    assert(gotBrute === expected,
      "collapsed brute top-20 diverged from the untruncated ground truth")

    // twins share every bucket, so the LSH path must recover the same
    // top-20 here too (dist-0 twin pairs are bucket-mates by identity)
    val gotLsh = EventOps.tsSimilarity(spark, dir).collect().toSeq
    assert(gotLsh === expected,
      "collapsed LSH top-20 diverged from the untruncated ground truth")
    raw.unpersist()
    spark.catalog.clearCache()
  }

  test("transitions: conservation — every user contributes exactly n-1 hops") {
    val ev = graft.Tables.events(spark, TestSpark.sf)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    val m = EventOps.transitions(spark, TestSpark.sf).collect()
    assert(m.map(_.getLong(2)).sum === expected)
    // gaps are event-time-ordered, so never negative
    assert(m.forall(_.getLong(3) >= 0L), "negative gap sum: ordering broken")
  }
}
