package graft

import org.apache.spark.sql.catalyst.plans.logical.{Expand, GlobalLimit, LogicalPlan, Window}
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that decide 100 TB viability
  * (scan pushdown, column pruning, broadcast vs shuffle joins, native
  * expressions inside codegen) must not silently regress. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Formatted explain (full PushedFilters / ReadSchema, untruncated). */
  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** Final adaptive plan, materialized by running the query. */
  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filter_project pushes filters and prunes columns at the scan") {
    val p = formatted("rel_filter_project")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"), p)
    assert(p.contains("LessThan(l_quantity,24.0)"), p)
    // pruned read: the 11-column table reaches the scan as 6 columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_returnflag"), readSchema)
    assert(!readSchema.contains("l_tax"), readSchema)
    assert(readSchema.contains("l_shipdate"), readSchema)
  }

  test("revenue_by_nation broadcasts dimensions, shuffles facts") {
    val p = formatted("rel_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p)
    // partial aggregation before the exchange (map-side combine)
    assert(p.contains("HashAggregate"), p)
  }

  test("classify runs the native expression inside whole-stage codegen") {
    val p = executedPlan("ev_classify_geo")
    assert(p.contains("point_in_polygon"), p)
    assert(p.contains("*("), p) // '*(n)' = WholeStageCodegen stage
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("brute-force topk broadcasts the query side") {
    val p = executedPlan("sim_topk_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("vector_dot"), p)
    assert(p.contains("*("), p) // '*(n)' = WholeStageCodegen stage
  }

  test("ts_similarity candidates come from the bucket equi-join, not all-pairs") {
    val p = executedPlan("ev_ts_similarity")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // E2LSH projections run as the native all-keys expression (r13:
    // one e2lsh_keys per row replaced the per-projection dotConst array,
    // which fell off the whole-stage JIT cliff at wide ladder rungs)
    assert(p.contains("e2lsh_keys"), p)
    // r19 slim-top contract (replaces the r14 broadcast-verify pins —
    // the distinct + vector re-attach joins are GONE): the distance is
    // computed inside the bucket self-join and the pair stream feeds a
    // per-partition TakeOrdered heap directly, so no exchange ever
    // carries a candidate-pair row. Pin (a) the heap operator exists,
    // (b) the pair dedup aggregate sits ABOVE it (runs on the ≤ 20·pt
    // survivor set, not the pair stream) — in the top-down plan string
    // the dedup HashAggregate on (user_a, user_b) must print BEFORE the
    // first TakeOrderedAndProject, and no aggregate on those keys may
    // print after it (that would be the old full-stream distinct).
    // The top-down plan string prints: outer top-20 heap, dedup
    // aggregate (partial+final over ≤ 20·pt rows), inner 20·pt heap,
    // then the join — so every pair-keyed aggregate must print BEFORE
    // the LAST (inner) TakeOrderedAndProject. An aggregate after it
    // would be the old full-stream distinct.
    val lines = p.linesIterator.toVector
    val heaps = lines.zipWithIndex.collect {
      case (l, i) if l.contains("TakeOrderedAndProject") => i
    }
    val pairAggs = lines.zipWithIndex.collect {
      case (l, i) if l.contains("HashAggregate") &&
        l.contains("user_a") && l.contains("user_b") => i
    }
    assert(heaps.size >= 2, s"expected inner+outer TakeOrdered heaps:\n$p")
    assert(pairAggs.nonEmpty && pairAggs.forall(_ < heaps.last),
      s"pair dedup must run above the inner TakeOrdered heap, not on the stream:\n$p")
  }

  test("ranked multiprobe: native margins expression, bucket equi-join, no all-pairs") {
    val p = executedPlan("sim_ann_mp_ranked")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // margins come from the single constant-size plane_dots expression
    // (the JIT-threshold-safe shape), not per-plane dotConst columns
    assert(p.contains("plane_dots"), p)
    // signatures stay the one-expression lsh_bucket_ids form
    assert(p.contains("lsh_bucket_ids"), p)
  }

  test("events scan prunes columns for windowed count") {
    val p = formatted("ev_10min_by_type")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("props"), readSchema)
    assert(!readSchema.contains("value"), readSchema)
  }

  /** Simple-mode explain: one line per node including arguments. */
  private def simple(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf)
    df.queryExecution.explainString(ExplainMode.fromString("simple"))
  }

  test("asof native: custom exec with one hash exchange per side") {
    val p = simple("ev_asof_native")
    assert(p.contains("AsofJoin"), p)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 2, s"$hashExchanges hash exchanges:\n$p")
    assert(p.contains("Sort ["), p) // EnsureRequirements-planted (key, time) sorts
  }

  test("bloom semi join prunes the fact side map-side, below the semi join") {
    val p = simple("rel_bloom_semi_join")
    assert(p.contains("LeftSemi"), p)
    // the probe is the NATIVE might_contain expression (no ScalaUDF — the
    // filter stays inside whole-stage codegen) and must sit on the fact
    // side BELOW the join: in the indented tree its Filter line comes
    // after (deeper than) the join line
    assert(!p.contains("UDF"), p)
    val lines = p.linesIterator.toVector
    val joinLine = lines.indexWhere(_.contains("LeftSemi"))
    val bloomFilter = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("might_contain"))
    assert(joinLine >= 0, p)
    assert(bloomFilter > joinLine,
      s"might_contain filter at $bloomFilter, join at $joinLine:\n$p")
  }

  test("shingle generation runs as the native expression, not a UDF") {
    val p = simple("dedup_simhash")
    assert(p.contains("shingle_array"), p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
  }

  test("every shingle Jaccard verify runs the sorted-merge kernel") {
    import graft.operators.Dedup
    val sf = TestSpark.sf
    Seq("ngramJaccardImpl" -> Dedup.ngramJaccardImpl(spark, sf, maxDf = None),
        "incremental" -> Dedup.incremental(spark, sf),
        "minhashLsh" -> Dedup.minhashLsh(spark, sf)).foreach { case (q, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("sorted_intersect_size"), s"$q:\n$p")
      assert(!p.contains("array_intersect"), s"$q:\n$p")
    }
  }

  test("source overlap: one pass over the corpus, nothing persisted") {
    val p = simple("dedup_source_overlap")
    assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"), p)
    val bySh = """Exchange hashpartitioning\(sh#""".r.findAllIn(p).size
    assert(bySh === 1, s"$bySh exchanges keyed on sh:\n$p")
  }

  test("text quality is a single-pass scan (only the presentation sort shuffles)") {
    val p = formatted("text_quality")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"$exchanges Exchanges:\n$p") // range-partition sort only
    assert(!p.contains("hashpartitioning"), p)
  }

  test("expensive dedup/pipeline queries never fall back to all-pairs plans") {
    // The three most expensive bench queries: their scale story is that
    // candidate generation is always a posting-key equi-join. Pin that no
    // plan change ever reintroduces a cartesian/broadcast-nested-loop pair
    // enumeration (the broadcast SEMI/ANTI joins they do use are hash
    // joins, which stay allowed).
    Seq("dedup_clusters", "dedup_ngram_jaccard", "pipe_corpus_curation").foreach { q =>
      val p = simple(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(!p.contains("ScalaUDF"), s"$q:\n$p")
    }
  }

  test("int8 quantization is a per-row map: no UDF, no hash exchange") {
    val p = executedPlan("sim_quantize_int8")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    // only the presentation sort's range partitioning may shuffle
    assert(!p.contains("hashpartitioning"), p)
  }

  test("tfidf joins aggregated relations; the corpus count broadcasts") {
    val p = executedPlan("text_tfidf_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("quality-score probe is a codegen'd projection: no UDF, no agg shuffle") {
    val p = executedPlan("text_quality_score")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert(p.contains("*("), p) // the dot product runs inside WholeStageCodegen
    // per-row scorer: no hash exchange anywhere (the only shuffle is the
    // presentation sort's range partitioning)
    assert(!p.contains("hashpartitioning"), p)
  }

  test("JL projection is a per-row codegen'd map") {
    val p = executedPlan("sim_rand_project")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    // one corpus scan, per-row dots; only the presentation sort shuffles
    assert(!p.contains("hashpartitioning"), p)
    assert(p.contains("*("), s"not in WholeStageCodegen: $p")
  }

  test("PQ encode: broadcast donors, map-side struct-min combine, no corpus sort-merge") {
    for (q <- Seq("sim_pq_codes", "sim_topk_pqadc")) {
      val p = executedPlan(q)
      assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), s"$q: $p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"$q donors must broadcast: $p")
      assert(p.contains("partial_min"),
        s"$q struct-min must combine map-side (one shuffled row per vector): $p")
      assert(!p.contains("SortMergeJoin"), s"$q: $p")
    }
  }

  test("ivfpq: broadcast codebooks/probes, no cartesian; only the co-partitioned index join sort-merges") {
    val p = executedPlan("sim_topk_ivfpq")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert(p.contains("BroadcastExchange"), s"codebook/LUT/probe sides must broadcast: $p")
    assert(p.contains("partial_min"),
      s"struct-min must combine map-side (one shuffled row per vector): $p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast all-pairs stage: $p")
    // The ONE acceptable sort-merge join is the index ASSEMBLY join —
    // cell-assignment ⋈ codes on vec_id, two corpus-sized per-vector
    // relations co-partitioned by the join key, merged ONCE into the
    // inverted-list postings relation (r22: [[Similarity.ivfPqPostings]];
    // in production a single stored index table). The serve path itself
    // must carry NO corpus-keyed join: since r22 candidates come out of
    // the postings probe with their codes attached. Anything beyond that
    // single build-time join is a plan regression.
    val smjKeys = "SortMergeJoin \\[(\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(smjKeys.forall(_.startsWith("vec_id")),
      s"unexpected sort-merge join keys $smjKeys: $p")
  }

  test("pmi joins broadcast the vocabulary and scalar totals; no corpus sort") {
    val p = executedPlan("text_pmi_bigrams")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("blocklist scrub is a single-pass scan (only the presentation sort shuffles)") {
    val p = executedPlan("text_blocklist")
    assert(!p.contains("ScalaUDF") && !p.contains("hashpartitioning"), p)
  }

  test("rrf legs are TakeOrdered heaps, never a global sort of the corpus") {
    val p = executedPlan("sim_rrf_fusion")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only Window operators run AFTER the k-row take (rank
    // assignment + fusion rank) — no window may consume a scan directly,
    // which in this plan shows up as a window above an exchange of the
    // un-limited corpus. Cheap proxy: every SinglePartition exchange in
    // the plan feeds from a TakeOrdered/limited child, so the corpus
    // never funnels through one partition.
    assert(!p.contains("CartesianProduct"), p)
  }

  test("anomaly_mad broadcasts the per-type scalars back to the scan") {
    val p = executedPlan("ev_anomaly_mad")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("gap fill: grid side joins the broadcast pre-aggregated cells") {
    val p = executedPlan("ev_gap_fill")
    assert(p.contains("BroadcastHashJoin"), p)
    // corpus side reads only (event_type, ts)
    val f = formatted("ev_gap_fill")
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("props") && !readSchema.contains("value"), readSchema)
  }

  test("ship priority: date filters pushed, segment broadcast, top-10 is a heap") {
    val p = formatted("rel_ship_priority")
    assert(p.contains("TakeOrderedAndProject"), p) // never a global sort
    assert(p.contains("BroadcastHashJoin"), p)     // filtered customer side
    assert(p.contains("LessThan(o_orderdate"), p)  // pushed to the orders scan
    assert(p.contains("GreaterThan(l_shipdate"), p) // pushed to the lineitem scan
  }

  test("latest snapshot: per-key window, no global sort before the window") {
    val p = formatted("rel_latest_snapshot")
    // the window partitions by o_custkey: its sort is within partitions
    // (hashpartitioning exchange), never a singleton range partition
    assert(p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("zorder audit: scan prunes to (user_id, value); bounds/probes broadcast; no cartesian") {
    val f = formatted("sketch_zorder_pruning")
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("props") && !readSchema.contains("event_type"),
      readSchema)
    assert(readSchema.contains("user_id") && readSchema.contains("value"), readSchema)
    // the min/max bounds and the probe list reach the rows as broadcasts;
    // nothing corpus-sized ever pairs with anything corpus-sized
    assert(f.contains("BroadcastNestedLoopJoin") || f.contains("BroadcastHashJoin"), f)
    assert(!f.contains("CartesianProduct"), f)
  }

  test("train split: digest-keyed leakage join, text never shuffles") {
    val f = formatted("pipe_train_split")
    // the join key is the 16-byte md5 digest: the exchange carries (h,
    // n_tok, split), never the text column
    val exchanges = f.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text"), exchanges)
    assert(!f.contains("CartesianProduct"), f)
  }

  test("skew audit: stats broadcast back, top-10 is a heap, one key shuffle") {
    val p = formatted("rel_skew_audit")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("epoch shuffle and compact files: per-row/per-source work, no global sort") {
    val e = formatted("pipe_epoch_shuffle")
    // shard and moved are per-row expressions: no join anywhere
    assert(!e.contains("Join"), e)
    val c = formatted("pipe_compact_files")
    // the running sum windows per source, never a singleton partition
    assert(!c.contains("SinglePartition"), c)
  }

  test("entropy: one (doc, char) partial-agg chain, no joins") {
    val p = formatted("text_entropy")
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("pq_codes: err_sq rides the assignment agg — no corpus re-join (r22)") {
    val p = formatted("sim_pq_codes")
    // the codebook crossJoin (BroadcastNestedLoopJoin over the <=512-row
    // local codebook) is the only join left; the former corpus-keyed
    // BroadcastHashJoin that re-fetched v for the error column is gone
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("scan fan-out: per-row text queries re-spread the 1-row-group scan (r22)") {
    val p = formatted("text_repetition")
    assert(p.contains("RoundRobinPartitioning"), p)
    // and a scan that already splits to the session's parallelism is left as it is
    val par = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 100, 1, par).toDF()
    assert(Tables.fanOutScan(wide) eq wide)
    assert(Tables.fanOutScan(spark.range(0, 100, 1, 1).toDF()).rdd.getNumPartitions == par)
  }

  test("block pruning reads only (l_orderkey, l_shipdate) and partial-aggregates") {
    val f = formatted("sketch_block_pruning")
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      readSchema)
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_shipdate"),
      readSchema)
    assert(f.contains("HashAggregate"), f) // map-side combine of block stats
  }

  test("decontaminate counts its distinct sets without an Expand") {
    val plan = SparkEntry.queries("dedup_decontaminate")(spark, TestSpark.sf)
      .queryExecution.optimizedPlan
    assert(plan.collect { case x: Expand => x }.isEmpty, plan.treeString)
  }

  test("every unpartitioned window reads only limit-bounded input") {
    // each path below the window passes through a GlobalLimit, so the
    // single-partition window holds a bounded row count at any scale
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit => true
      case _ => p.children.nonEmpty && p.children.forall(bounded)
    }
    var windows = 0
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, TestSpark.sf).queryExecution.optimizedPlan
      spark.catalog.clearCache()
      plan.collectWithSubqueries { case w: Window if w.partitionSpec.isEmpty => w }
        .foreach { w =>
          windows += 1
          assert(bounded(w.child), s"$name: unbounded input under\n${w.treeString}")
        }
    }
    assert(windows > 0, "vacuous: no unpartitioned window in any plan")
  }
}
