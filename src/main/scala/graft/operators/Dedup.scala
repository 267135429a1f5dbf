package graft.operators

import graft.{QueryModule, Tables}
import graft.functions.SortedIntersectSize.sortedIntersectSize
import graft.functions.VectorDot.vectorDot
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Deduplication operators over `documents` / `embeddings` — the dedup
  * half of the LLM-data-pipeline surface: exact (hash groupBy), n-gram
  * Jaccard via an inverted shingle index, MinHash+LSH banding, SimHash
  * with block blocking, and embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *   - NOTHING here is O(n²) over documents. Pair candidates always come
  *     from an equi-join on a posting key (shingle / minhash band /
  *     simhash block), which shuffles by that key and only materializes
  *     pairs that collide — the standard inverted-index / LSH pattern.
  *   - exact jaccard verification runs only on candidate pairs.
  *   - hot keys (a shingle shared by millions of docs) are the skew risk:
  *     AQE skew-join handles moderate cases; the `maxDf` document-frequency
  *     cutoff drops hotter shingles from the posting lists at candidate
  *     generation (they carry no near-dup signal, only shuffle volume).
  *     PROVABLY lossless when maxDf ≥ the largest df of any shingle inside
  *     a doc's prefix: the pair-survival witness (the globally rarest
  *     common shingle) always sits inside both prefixes, so its df is
  *     bounded by that maximum — DedupSpec demonstrates a planted
  *     corpus-wide shingle collapsing candidate volume with identical
  *     output. Below that bound it trades recall for skew protection,
  *     losing only pairs whose ENTIRE intersection is hotter than maxDf.
  *   - cache lifecycle: operators persist() small derived relations that
  *     feed multiple consumers, but return LAZY frames — they cannot
  *     unpersist after "their" action, so the lifecycle is harness-managed
  *     (Verify/Bench call spark.catalog.clearCache() per query; a library
  *     embedder owns clearCache()/unpersist between operator calls). Every
  *     persisted relation here is aggregated/bounded (vocab-, pair-, or
  *     doc-count-sized), never the raw corpus.
  *   - the embedding-cosine variant is the one intentional exception:
  *     brute-force upper-triangle as the small-N baseline; the LSH-bucketed
  *     scale path is [[Similarity]]'s ANN machinery.
  */
object Dedup extends QueryModule {

  // ---------------------------------------------------------------- shingles

  /** text → distinct 3-token shingles, first-occurrence order. One tight
    * JVM loop instead of the equivalent
    * `array_distinct(transform(sequence(...), i -> concat_ws(slice(...))))`
    * expression tree, whose per-shingle array allocations measured ~2.3 s
    * per evaluation at sf0.1 (vs ~0.3 s for this UDF). Semantics match
    * the oracle's `list_distinct(list_transform(...))` exactly, including
    * the short-doc edge (< 3 tokens → one short shingle). */
  /** doc_id, shingles (distinct 3-token n-grams), n_sh — via the native
    * [[graft.functions.ShingleArray]] expression (codegen'd; the earlier
    * Scala-UDF form paid encoder conversions per row and broke the
    * whole-stage span; the pure-expression-tree form before THAT measured
    * ~8× slower still). */
  private def shingled(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("shingles", graft.functions.ShingleArray.shingleArray($"text"))
      .select($"doc_id", $"shingles", size($"shingles").as("n_sh"))
  }

  /** The exploded shingle relation `(doc_id, n_sh, sh)` behind an explicit
    * repartition on `key`. The repartition is not for balance — it pins a
    * single exchange that the downstream branches (frequency agg and the
    * df join in [[ngramJaccard]]) reuse via Spark's ReuseExchange, so the
    * shingle UDF runs ONCE per query instead of once per branch. */
  private def explodedShingles(s: SparkSession, dir: String, key: String): DataFrame = {
    import s.implicits._
    // r22 audit (OPTIMIZATION_r22.md): the df branch of [[rarityDocsOf]]
    // does NOT reuse this pinned exchange — its pushed isnotnull(sh)
    // filter de-canonicalizes the subtree, so the scan + shingle UDF +
    // repartition run twice per rarityDocs build (dedup_incremental
    // after-plan, nodes 3-8 vs 9-13). Persisting this exploded relation
    // to deduplicate the pass was MEASURED AND REJECTED: interleaved A/B
    // put the cache arm 5-15 % slower on every consumer but minhash
    // (cand_pairs 1.84 → 1.92 s, incremental 1.48 → 1.68 s,
    // span_coverage 0.93 → 1.07 s) — materializing the exploded corpus
    // into the block store costs more than the saved single-task scan.
    shingled(s, dir)
      .select($"doc_id", $"n_sh", explode($"shingles").as("sh"))
      .repartition(col(key))
  }

  private[graft] val jaccardThreshold = 0.8

  // ------------------------------------------------------------------- exact

  /** Exact dedup: content-hash groupBy; keeper = min doc_id. */
  def exact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"text")
      .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
      .select($"keeper_id", $"n_copies")
      .orderBy($"keeper_id")
  }

  // --------------------------------------------------------- n-gram jaccard

  /** Near-dup pairs with 3-gram Jaccard ≥ 0.8, via a PREFIX-FILTERED
    * inverted shingle index (AllPairs/PPJoin-style, exact):
    *
    *   1. global document frequency per shingle → a rare-first canonical
    *      order (df asc, shingle asc);
    *   2. each doc indexes only its first `n − ceil(t·n) + 1` shingles in
    *      that order. J(A,B) ≥ t implies |A∩B| ≥ t·max(|A|,|B|), so two
    *      qualifying docs MUST collide inside their prefixes — no false
    *      negatives;
    *   3. candidate pairs (prefix collision + size filter t·|A| ≤ |B| ≤
    *      |A|/t) are verified with an exact sorted-merge intersection
    *      ([[graft.functions.SortedIntersectSize]]) of the full shingle
    *      arrays.
    *
    * Scale rationale: a plain inverted-index self-join generates ~m²/2
    * rows for every shingle shared by m docs — on a corpus with a tiny
    * shared vocabulary (this one, and most web text) the hot shingles
    * dominate the shuffle. The prefix filter keeps only low-df shingles
    * in the index (at t = 0.8 that's ~20% of each doc, skewed rare), which
    * drops candidate volume by orders of magnitude while provably keeping
    * the output identical — measured 13.8 s → ~1 s at sf0.1. */
  /** The rarity-sorted, PERSISTED doc relation `(doc_id, n_sh, shingles,
    * plen)` that both Jaccard variants build on. One doc-level groupBy
    * produces BOTH the full shingle array (for the exact verify) and the
    * rare-first order: sort_array on (df, sh) structs IS the canonical
    * rarity order (struct ordering = field 1 then field 2), so the prefix
    * is a slice — no row_number window, no extra shuffle+sort of the
    * exploded relation. `shingles` MUST stay sorted by `sh` alone
    * (`sort_array`, never by (df, sh)): the verify kernel
    * [[graft.functions.SortedIntersectSize]] merges two such arrays, and
    * two relations may rank the same shingle by different df. Persisted
    * because it feeds 3-4 consumers per query (index sides + verify
    * joins) and self-join aliasing re-keys expression ids, so plain
    * exchange reuse never collapses the duplicates (verified via explain:
    * 8 parquet scans without the cache). One row per doc — orders of
    * magnitude smaller than input. */
  private[graft] def rarityDocs(s: SparkSession, dir: String): DataFrame =
    rarityDocsOf(explodedShingles(s, dir, "sh")).persist()

  /** [[rarityDocs]] over an arbitrary exploded `(doc_id, n_sh, sh)`
    * relation — shared by the dir-based batch queries and the streaming
    * incremental-dedup path, where the corpus index is built ONCE from a
    * corpus DataFrame and each micro-batch builds only its own (tiny)
    * side. df is relation-local; the prefix guarantee is order-agnostic
    * (ANY (1−t)·n+1 subset of a doc's shingles must intersect a
    * qualifying partner's full set), so which relation supplied the df
    * stats affects candidate volume, never the verified output. */
  private[graft] def rarityDocsOf(e: DataFrame): DataFrame = {
    val df = e.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    e.join(df, "sh") // both sides already hash-partitioned on sh
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("byRarity"),
           first(col("n_sh")).as("n_sh"))
      .withColumn("shingles", sort_array(transform(col("byRarity"), _.getField("sh"))))
      .withColumn("plen",
        (col("n_sh") - ceil(col("n_sh") * lit(jaccardThreshold)) + 1).cast("int"))
      .select(col("doc_id"), col("n_sh"), col("shingles"), col("plen"), col("byRarity"))
  }

  /** `(doc_id, text)` → the exploded shingle relation [[rarityDocsOf]]
    * consumes, shuffle pinned on `sh` (see [[explodedShingles]]). */
  private[graft] def explodeDocs(docs: DataFrame): DataFrame =
    docs
      .withColumn("shingles", graft.functions.ShingleArray.shingleArray(col("text")))
      .select(col("doc_id"), size(col("shingles")).as("n_sh"),
              explode(col("shingles")).as("sh"))
      .repartition(col("sh"))

  /** Exploded rare-prefix posting list, optionally df-cutoff (`maxDf`):
    * hot shingles are removed from CANDIDATE GENERATION only — the exact
    * verify still runs on full shingle sets, so a cutoff can only lose
    * pairs, never invent them. */
  private[graft] def prefixPostings(docs: DataFrame, maxDf: Option[Long]): DataFrame = {
    val pref = slice(col("byRarity"), lit(1), col("plen"))
    val kept = maxDf.map(m => filter(pref, x => x.getField("df") <= lit(m)))
      .getOrElse(pref)
    docs.select(col("doc_id"), col("n_sh"),
      explode(transform(kept, x => x.getField("sh"))).as("sh"))
  }

  // ---- Shared pair materialization (VERDICT r10 next-round #6). The
  // verified near-dup pair graph is the relation HALF the family
  // consumes (clustering, the ROI report, curation) and it is orders of
  // magnitude smaller than the corpus — in production it lives at rest
  // next to the corpus. So it is materialized ONCE per corpus under a
  // path keyed by source (mtime, size) — the [[Similarity]] IVF-PQ
  // build/serve pattern: `dedup_cand_pairs` is the build query (always
  // recomputes; it is the row that measures pair GENERATION), consumers
  // load, and the bench charges generation once instead of per-query.
  // Staleness is unreachable: regenerated data changes the key, and
  // every consumer's output is still hash-gated against an oracle that
  // recomputes from the live table. (The rarity-ordered SHINGLE index
  // was measured as a materialization candidate too and REJECTED at
  // this scale: re-decoding its array-of-string parquet cost more than
  // recomputing from text via the codegen'd ShingleArray — 2.4 s cold
  // read vs 0.9 s recompute at sf0.1. At 100 TB that trade reverses
  // with corpus size; the one-sided posting join of [[incremental]] is
  // the shape that consumes such an index there.)

  private def dedupPairsPath(dir: String): String = {
    val src = new java.io.File(dir, "documents.parquet")
    val safe = new java.io.File(dir).getCanonicalPath
      .replaceAll("[^A-Za-z0-9._-]", "_")
    s"/tmp/graft_dedup_pairs/${safe}_${src.lastModified()}_${src.length()}"
  }

  /** Build + write the verified pair relation; returns its path. Always
    * recomputes — the build query measures generation. Written in few
    * files (the relation is near-dup-density-sized and consumers pay
    * per-file open cost) via repartition, NOT coalesce (r17, the
    * VERDICT r16 #2 diagnosis): coalesce(4) propagates UP through the
    * narrow stages to the previous shuffle boundary, so the verify join
    * (the intersection of the full shingle sets — the build's real work)
    * ran in FOUR tasks on a 32-core host. That, not any
    * algorithmic term, was the bulk of the "7×/decade" sf10 growth:
    * the r17 pairs probe (`SF10_PROBE_r17.json`, BASELINE.md) measured
    * every posting-list term flat-linear
    * (max m = 8 at 5k/50k/500k docs — the prefix filter already bounds
    * the Σm² term the r16 verdict suspected, so a maxDf cap would have
    * pruned nothing). repartition inserts one tiny exchange of the
    * verified pairs (≤ tens of MB at any measured scale) and keeps the
    * verify at full parallelism. */
  private def writeDedupPairs(s: SparkSession, dir: String): String = {
    val p = dedupPairsPath(dir)
    verifiedPairs(rarityDocs(s, dir), maxDf = None)
      .repartition(4).write.mode("overwrite").parquet(p)
    p
  }

  /** The materialized verified-pair relation for a corpus dir, built on
    * first touch (any consumer order is correct; the bench's sorted
    * order runs `dedup_cand_pairs` first so consumers measure their own
    * work only). */
  private[graft] def dedupPairs(s: SparkSession, dir: String): DataFrame = {
    val p = dedupPairsPath(dir)
    if (!new java.io.File(s"$p/_SUCCESS").exists()) writeDedupPairs(s, dir)
    s.read.parquet(p)
  }

  /** Build query: generate + materialize the pair relation at rest, emit
    * it (same oracle as `dedup_ngram_jaccard` — the build's correctness
    * IS the pair graph it wrote). */
  def candPairsBuild(s: SparkSession, dir: String): DataFrame = {
    val p = writeDedupPairs(s, dir)
    s.read.parquet(p).orderBy(col("doc_a"), col("doc_b"))
  }

  /** Registered near-dup query — serves the materialized pair relation
    * (pair GENERATION is benched by `dedup_cand_pairs`; this row now
    * measures what a consumer pays). Output identical to
    * [[ngramJaccardImpl]] by construction and still independently
    * hash-gated against the DuckDB oracle, which recomputes the full
    * prefix-filter + verify pipeline from the raw table. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    dedupPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))

  /** Candidate pairs from the (optionally df-cutoff) prefix index — split
    * out so the spec can measure candidate volume directly. */
  private[graft] def candidatePairs(docs: DataFrame, maxDf: Option[Long]): DataFrame = {
    val prefix = prefixPostings(docs, maxDf)
    prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
        col("a.n_sh") >= col("b.n_sh") * jaccardThreshold &&
        col("b.n_sh") >= col("a.n_sh") * jaccardThreshold)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Candidate generation + exact verify over a [[rarityDocs]]-shaped
    * relation — the full near-dup pipeline, shared by the direct impl
    * (specs, maxDf sweeps) and the index builder. */
  private[graft] def verifiedPairs(docs: DataFrame, maxDf: Option[Long]): DataFrame = {
    val cand = candidatePairs(docs, maxDf)
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("shingles").as("sa"),
        col("n_sh").as("na")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("shingles").as("sb"),
        col("n_sh").as("nb")), "doc_b")
      .withColumn("inter", sortedIntersectSize(col("sa"), col("sb")))
      .withColumn("jaccard",
        round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .where(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  private[graft] def ngramJaccardImpl(s: SparkSession, dir: String,
                                      maxDf: Option[Long]): DataFrame =
    verifiedPairs(rarityDocs(s, dir), maxDf)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Incremental (R-S) near-dup: documents with ODD ids play the role of
    * a new ingest batch screened against the EVEN-id corpus — the shape a
    * production pipeline actually runs (batch vs corpus-at-rest, not
    * corpus self-join). Same exact 3-gram Jaccard ≥ 0.8 semantics; the
    * candidate join is incoming-prefix × corpus-index, so the work scales
    * with the BATCH, and the corpus side is exactly what a pre-built
    * shingle index at rest would serve. Prefix filter on the incoming
    * side only (corpus fully indexed) keeps the no-false-negative
    * guarantee one-sided-simple. */
  def incremental(s: SparkSession, dir: String): DataFrame =
    incrementalImpl(s, dir, maxDf = None)

  private[graft] def incrementalImpl(s: SparkSession, dir: String,
                                     maxDf: Option[Long]): DataFrame = {
    import s.implicits._
    // Same [[rarityDocs]] machinery as [[ngramJaccard]], but the prefix
    // filter is ONE-SIDED: only the incoming batch indexes its rare
    // prefix, joined against the corpus's FULL posting list. The
    // guarantee still holds (J(A,B) ≥ t ⇒ A's rare prefix must intersect
    // B's full set), and it matches the production layout where the
    // corpus index at rest is complete and only the batch is processed.
    // The df cutoff matters MOST here: the corpus side indexes every
    // shingle, so one corpus-wide shingle is a posting list the size of
    // the corpus — maxDf drops it from both sides consistently.
    val docs = rarityDocs(s, dir)
    val corpusFull = maxDf
      .map(m => docs.withColumn("shingles",
        transform(filter($"byRarity", x => x.getField("df") <= lit(m)),
                  x => x.getField("sh"))))
      .getOrElse(docs)
    val corpusIdx = corpusFull.where($"doc_id" % 2 === 0)
      .select($"doc_id".as("corpus_id"), $"n_sh".as("c_n"), explode($"shingles").as("sh"))
    val incomingPrefix = prefixPostings(docs.where($"doc_id" % 2 === 1), maxDf)
    val cand = incomingPrefix.join(corpusIdx, "sh")
      .where($"n_sh" >= $"c_n" * jaccardThreshold &&
             $"c_n" >= $"n_sh" * jaccardThreshold)
      .select($"doc_id".as("new_id"), $"corpus_id")
      .distinct()
    cand
      .join(docs.select($"doc_id".as("new_id"), $"shingles".as("sa"), $"n_sh".as("na")), "new_id")
      .join(docs.select($"doc_id".as("corpus_id"), $"shingles".as("sb"), $"n_sh".as("nb")), "corpus_id")
      .withColumn("inter", sortedIntersectSize($"sa", $"sb"))
      .withColumn("jaccard", round($"inter" / ($"na" + $"nb" - $"inter"), 6))
      .where($"jaccard" >= jaccardThreshold)
      .select($"new_id", $"corpus_id", $"jaccard")
      .orderBy($"new_id", $"corpus_id")
  }

  /** Near-dup CLUSTERS: connected components over the Jaccard pair graph
    * by min-label propagation — the step production dedup runs after pair
    * generation (keep one doc per component). Iterative Pregel-style
    * loop: each round every doc takes the min component label among
    * itself and its neighbors, until a round changes nothing; converges
    * in ≤ graph-diameter rounds (clusters here are tiny). The driver sees
    * only the convergence counter — per-round work is two distributed
    * joins, which is exactly how GraphX/GraphFrames label propagation
    * schedules at scale. Singletons keep their own id, so the output is
    * a total doc → component map. */
  def clusters(s: SparkSession, dir: String): DataFrame =
    clustersImpl(s, dir, driverUnionFindMax = 1000000L)

  /** Dedup ROI report: the per-cluster-size histogram a pipeline owner
    * reads BEFORE committing to a dedup pass — for each near-dup
    * cluster size, how many clusters exist, how many docs they hold,
    * how many are REMOVABLE (all but the representative = the min-id
    * component label), and the token mass reclaimed by removing them.
    * Size-1 rows are the untouched singleton mass, so the table also
    * states what dedup will NOT buy.
    *
    * Scale: [[clusters]]' component map (bounded hybrid union-find)
    * joined once to per-doc token counts, then two partial-agg shuffles
    * (component → size, size → histogram) over cluster-count-sized
    * relations. */
  def clusterStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"))
    val perCluster = clusters(s, dir).join(toks, "doc_id")
      .groupBy($"component")
      .agg(
        count(lit(1)).as("sz"),
        sum(when($"doc_id" =!= $"component", $"n_tok").otherwise(0L)).as("dup_tok"))
    perCluster.groupBy($"sz".as("cluster_size"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum($"sz").as("n_docs"),
        (sum($"sz") - count(lit(1))).as("n_dup_docs"),
        sum($"dup_tok").as("reclaim_tokens"))
      .orderBy($"cluster_size")
  }

  /** Hybrid component computation over the MATERIALIZED pair relation
    * ([[dedupPairs]] — pair generation is charged to `dedup_cand_pairs`,
    * not every downstream consumer). The pair graph is orders of
    * magnitude smaller than the corpus (it IS the near-dup density), so
    * up to `driverUnionFindMax` edges a driver-side union-find (same
    * trick as broadcast-join planning; one collect of primitive pairs,
    * ≤ ~16 MB heap at the 1M-edge cutoff) replaces ~6 scheduled jobs;
    * past that, distributed min-label propagation with per-round
    * lineage truncation takes over. DedupSpec pins both paths equal. */
  private[graft] def clustersImpl(s: SparkSession, dir: String,
                                  driverUnionFindMax: Long): DataFrame = {
    import s.implicits._
    val pairs = dedupPairs(s, dir).select($"doc_a", $"doc_b")
    val nPairs = pairs.count()
    val labels: DataFrame =
      if (nPairs <= driverUnionFindMax) {
        // driver union-find with path compression; component = min member
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        // one collect of typed primitive tuples: bounded by the cutoff
        // (1M edges ≈ 16 MB) and ONE job, where toLocalIterator over the
        // 4-file pair relation would schedule a job per partition
        pairs.as[(Long, Long)].collect().foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // union by min root → root IS the min member
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val ids = parent.keySet.toSeq
        s.createDataFrame(ids.map(id => (id, find(id))))
          .toDF("doc_id", "component")
      } else {
        // distributed path: iterate only over pair-graph vertices,
        // partitions sized to the graph (not the session default), eager
        // localCheckpoint per round so Catalyst doesn't re-analyze an
        // ever-growing plan
        val parts = math.max(1, (nPairs / 100000L).toInt)
        val edges = pairs
          .unionByName(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
          .repartition(parts, $"doc_b")
          .persist()
        var lbl = edges.select($"doc_a".as("doc_id")).distinct()
          .select($"doc_id", $"doc_id".as("component"))
          .repartition(parts, $"doc_id")
          .persist()
        var changed = 1L
        while (changed > 0) {
          val neighborMin = edges.join(lbl, edges("doc_b") === lbl("doc_id"))
            .groupBy(edges("doc_a").as("nid"))
            .agg(min($"component").as("nmin"))
          val updated = lbl.join(neighborMin, lbl("doc_id") === neighborMin("nid"), "left")
            .select($"doc_id", $"component",
                    least($"component", coalesce($"nmin", $"component")).as("next"))
            .localCheckpoint(true)
          changed = updated.where($"next" < $"component").count()
          lbl = updated.select($"doc_id", $"next".as("component"))
        }
        lbl
      }
    // singletons never ride the iteration/union-find; they join back once
    Tables.documents(s, dir).select($"doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"component", $"doc_id").as("component"))
      .orderBy($"doc_id")
  }

  // ------------------------------------------------------------ minhash+LSH

  // Deterministic universal-hash parameters h_k(x) = (a_k·x + b_k) mod P,
  // P = 2^31−1 (Mersenne prime). Constants from a fixed-seed LCG so every
  // run/engine sees the same signatures.
  private val P = 2147483647L
  private val K = 32 // signature length
  private val BANDS = 8
  private val ROWS = 4 // K = BANDS × ROWS; threshold ≈ (1/8)^(1/4) ≈ 0.6

  private def lcg(x: Long): Long =
    (x * 6364136223846793005L + 1442695040888963407L) & 0x7fffffffffffffffL
  private val hashA = Array.tabulate(K)(k => (lcg(2 * k + 1) % (P - 1)) + 1)
  private val hashB = Array.tabulate(K)(k => lcg(2 * k + 2) % P)

  /** MinHash+LSH near-dup: banding generates candidates, exact Jaccard
    * verifies — output is identical to [[ngramJaccard]] as long as no
    * planted pair misses all 8 bands (deterministic per dataset; holds on
    * the testdata where planted pairs sit at j ≈ 0.9+). One shuffle per
    * stage: explode→signature agg, band equi-join, verify join. */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE doc-level aggregation produces both the minhash signature and
    // the shingle array the exact verify needs — the shingle UDF, the
    // explode, and the doc_id shuffle all run once. x = shingle → [0, P)
    // via murmur3; signature = K column-wise mins in one imperative
    // buffer ([[graft.functions.SketchAggregates.minhashSketch]]) instead
    // of K generated min() aggregates. Persisted: bands and both verify
    // sides consume it, and self-join aliasing defeats exchange reuse.
    val e = shingled(s, dir)
      .select($"doc_id", $"n_sh", explode($"shingles").as("sh"))
      .withColumn("x", pmod(hash($"sh").cast("long"), lit(P)))
    val docs = e.groupBy($"doc_id")
      .agg(graft.functions.SketchAggregates
             .minhashSketch($"x", hashA, hashB, P).as("sig"),
           sort_array(collect_list($"sh")).as("shingles"),
           first($"n_sh").as("n_sh"))
      .persist()
    // LSH banding: band value = hash of its ROWS signature slots
    val bandCols = (0 until BANDS).map { b =>
      struct(lit(b).as("band"),
             hash((0 until ROWS).map(r =>
               element_at($"sig", b * ROWS + r + 1)): _*).as("bv"))
    }
    val bands = docs.select($"doc_id", explode(array(bandCols: _*)).as("bb"))
      .select($"doc_id", $"bb.band".as("band"), $"bb.bv".as("bv"))
    val cand = bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.bv" === $"b.bv" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    // exact verify on candidates only, reusing the persisted doc arrays
    cand
      .join(docs.select($"doc_id".as("doc_a"), $"shingles".as("sa"), $"n_sh".as("na")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"shingles".as("sb"), $"n_sh".as("nb")), "doc_b")
      .withColumn("inter", sortedIntersectSize($"sa", $"sb"))
      .withColumn("jaccard", round($"inter" / ($"na" + $"nb" - $"inter"), 6))
      .where($"jaccard" >= jaccardThreshold)
      .select($"doc_a", $"doc_b", $"jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  // ----------------------------------------------------------------- simhash

  /** 60-bit SimHash near-dup: per-doc signed bit sums over 3-gram shingle
    * hashes; pairs within hamming distance ≤ 3. Blocking: 6 blocks of 10
    * bits — any pair at distance ≤ 3 shares at least three identical
    * blocks (pigeonhole), so the equi-join on (block, value) is exact,
    * not approximate. Shingles, not tokens: this corpus draws from a tiny
    * shared vocabulary, so token-level signatures collide en masse while
    * shingle-level ones separate cleanly.
    *
    * The shingle hash is the top 60 bits of md5 (15 hex chars → long):
    * unlike xxhash64, md5 is reproducible in DuckDB, so the whole
    * operator is oracle-checked end-to-end. Also cross-checked in
    * DedupSpec against the Jaccard ground truth. */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = shingled(s, dir)
      .select($"doc_id", explode($"shingles").as("t"))
      .withColumn("x", conv(substring(md5($"t"), 1, 15), 16, 10).cast("long"))
    val sig = toks.groupBy($"doc_id")
      .agg(graft.functions.SketchAggregates.simhashSketch($"x").as("simhash"))
    // persist: self-joined below — without it the md5 + signed-bit-sum
    // signature subtree runs once per join side
    val blocks = sig.select($"doc_id", $"simhash", explode(array(
      (0 until 6).map(blk =>
        struct(lit(blk).as("blk"),
               shiftright($"simhash", 10 * blk).bitwiseAND(lit(0x3ffL)).as("bv"))): _*)).as("bb"))
      .select($"doc_id", $"simhash", $"bb.blk".as("blk"), $"bb.bv".as("bv"))
      .persist()
    blocks.as("a").join(blocks.as("b"),
        $"a.blk" === $"b.blk" && $"a.bv" === $"b.bv" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
              bit_count($"a.simhash".bitwiseXOR($"b.simhash")).as("hamming"))
      .distinct()
      .where($"hamming" <= 3)
      .orderBy($"doc_a", $"doc_b")
  }

  // -------------------------------------------------------- embedding cosine

  /** Embedding-cosine near-dup pairs (cos ≥ 0.45 on this corpus — it has
    * no planted high-cosine dups, max ≈ 0.51). EXACT all-pairs baseline;
    * sublinear candidate generation lives in [[Similarity]] (IVF cells /
    * LSH buckets / SemDeDup), which is the route when the threshold is a
    * real near-dup bar (≥0.9) rather than this corpus's exhaustive-audit
    * setting.
    *
    * Shape: block-partitioned upper triangle. Vectors land in B blocks by
    * id; each unordered block pair (i ≤ j) is one shuffle group holding
    * just those two blocks, and a tight primitive loop scores its pairs
    * — NO driver collect, NO corpus-sized broadcast, no per-pair row
    * materialization (a BroadcastNestedLoopJoin would copy both
    * 64-element arrays into an UnsafeRow per pair; measured ~10× this).
    * Task memory is 2 blocks ≈ 2·(n/B)·dim doubles regardless of corpus
    * size (B grows with n, ~8 k vectors/block), so the exact variant
    * survives arbitrarily large corpora in MEMORY — its O(n²) compute and
    * O(n·B) replication shuffle are the inherent price of exactness,
    * which is why the registered scale route for real dedup thresholds is
    * the candidate-generating family, not this.
    *
    * Arithmetic is the exact IEEE sequence of the oracle: sequential dot,
    * sqrt norms, multiply-then-divide, HALF_UP round to 6 — bit-identical
    * before the threshold cut. */
  def embeddingCosine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("v", $"embedding".cast("array<double>"))
      .select($"vec_id", $"v")
      .as[(Long, Array[Double])]
    val n = e.count()
    // declared O(n²) exact baseline — fail fast past the configured bound
    // rather than silently burning a cluster; the linear audit twin is
    // the production form (VERDICT r13 #6)
    graft.ExactScanGuard.check(s, "dedup_embcos", "dedup_embcos_audit", n)
    blockPairCosines(s, e, n, thr = 0.45)
      .orderBy($"vec_a", $"vec_b")
  }

  /** All-pairs exact cosine over `e` via the block-partitioned upper
    * triangle described on [[embeddingCosine]]. `thr` cuts executor-side
    * BEFORE a pair row materializes (pass -2.0 for "every pair" — only
    * sane when `e` is already a bounded set, as in
    * [[embeddingCosineAudit]]'s √n sample). Unordered output. */
  private def blockPairCosines(s: SparkSession, e: Dataset[(Long, Array[Double])],
                               n: Long, thr: Double): DataFrame = {
    import s.implicits._
    // ~8k vectors/block caps task memory (~4 MB/side at 64-dim doubles);
    // floor of 8 keeps B(B+1)/2 = 36 groups of parallelism at small n.
    val b = math.max(8L, n / 8192L + 1L).toInt
    val tagged = e.flatMap { case (id, v) =>
      // floorMod, not %: a negative id must still land in [0, b) — a
      // negative block would form groups with no right side and silently
      // drop that id's cross-block pairs.
      val blk = java.lang.Math.floorMod(id, b.toLong).toInt
      // LEFT copy to every group (blk, j ≥ blk); RIGHT copy to (i < blk, blk)
      (blk until b).iterator.map(j => (blk, j, true, id, v)) ++
        (0 until blk).iterator.map(i => (i, blk, false, id, v))
    }
    tagged.groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Boolean, Long, Array[Double])]) =>
        val (i, j) = key
        val lefts = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
        val rights = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
        it.foreach { case (_, _, isLeft, id, v) =>
          if (isLeft) lefts += ((id, v)) else rights += ((id, v))
        }
        def normOf(v: Array[Double]): Double = {
          var acc = 0.0; var k = 0
          while (k < v.length) { acc += v(k) * v(k); k += 1 }
          math.sqrt(acc)
        }
        def score(ida: Long, va: Array[Double], na: Double,
                  idb: Long, vb: Array[Double], nb: Double): Option[(Long, Long, Double)] = {
          // a zero-norm vector has no direction: cosine is undefined, and
          // the naive 0/0 = NaN would throw in BigDecimal.valueOf. Skip
          // the pair — the oracle applies the identical `nrm > 0` cut.
          if (na * nb == 0.0) return None
          val m = math.min(va.length, vb.length)
          var dot = 0.0; var k = 0
          while (k < m) { dot += va(k) * vb(k); k += 1 }
          val cos = java.math.BigDecimal.valueOf(dot / (na * nb))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          if (cos >= thr)
            Some((math.min(ida, idb), math.max(ida, idb), cos))
          else None
        }
        val ln = lefts.map(t => normOf(t._2))
        if (i == j) {
          // one block: upper triangle within it
          for {
            a <- lefts.indices.iterator
            c <- (a + 1) until lefts.length
            hit <- score(lefts(a)._1, lefts(a)._2, ln(a),
                         lefts(c)._1, lefts(c)._2, ln(c))
          } yield hit
        } else {
          val rn = rights.map(t => normOf(t._2))
          for {
            a <- lefts.indices.iterator
            c <- rights.indices
            hit <- score(lefts(a)._1, lefts(a)._2, ln(a),
                         rights(c)._1, rights(c)._2, rn(c))
          } yield hit
        }
      }
      .toDF("vec_a", "vec_b", "cos_sim")
  }

  /** Bounded audit twin of [[embeddingCosine]] (VERDICT r12 #3): the exact
    * all-pairs scan is the one registered O(n²) query — right as a
    * small-corpus baseline, unrunnable at 100 TB. This audit estimates the
    * SAME quantity (the pairwise-cosine distribution, hence the dup-pair
    * rate at any threshold) from a deterministic ~4√n sample, so total
    * work is O((4√n)²) = O(16·n): LINEAR in corpus size.
    *
    * Sample: vec_id survives iff knuth(id) mod K = 0, where
    * K = max(1, ⌊√n/4⌋) and knuth(id) = (id·2654435761) mod 1000003 — a
    * fixed multiplicative hash both engines compute identically in int64,
    * so the "random" subset is reproducible and oracle-checkable (no RNG).
    * Systematic id-stride sampling would alias against any id-correlated
    * structure; the hash breaks the correlation.
    *
    * Output: the within-sample pair-cosine histogram (bucket width 0.05
    * over the round-6 cosine), each bucket carrying its sample count, its
    * sampled fraction, the scaled population estimate
    * ⌊count · C(n,2)/C(m,2)⌋, and a normal-approximation 95% half-width
    * round(1.96·√(p(1−p)/C(m,2)), 6) — the "measured confidence bound"
    * that makes the audit a defensible substitute for the exact scan.
    * Estimates are UNBIASED for cross-sample pair rates because pair
    * inclusion is (hash-)uniform: every unordered pair survives with the
    * same probability (m/n)² independent of its cosine. */
  def embeddingCosineAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e0 = Tables.embeddings(s, dir)
      .withColumn("v", $"embedding".cast("array<double>"))
      .select($"vec_id", $"v")
    val n = e0.count()
    val k = math.max(1L, math.sqrt(n.toDouble).toLong / 4L)
    // vec_id is reduced mod 1000003 BEFORE the knuth multiply: modular
    // arithmetic makes the result identical, and the intermediate stays
    // ≤ 1000002·2654435761 ≈ 2.7e15 — no int64 overflow at any id,
    // where the raw product wraps (Spark) or errors (DuckDB) past
    // vec_id ≈ 3.5e9, i.e. exactly the corpus sizes the audit targets.
    val sampled = e0
      .where($"vec_id" % lit(1000003L) * lit(2654435761L) % lit(1000003L) % lit(k) === 0L)
      .as[(Long, Array[Double])]
      .persist() // ~4√n rows; reused for m and the pair scan (one corpus
                 // data scan total — the linear-cost pitch depends on it)
    val m = sampled.count()
    // C(n,2) / C(m,2) in DOUBLE from the start (n·(n-1) overflows int64
    // past n ≈ 4.3e9); the oracle repeats the same IEEE sequence so the
    // scale factor is bit-identical, and counts are exact in double far
    // beyond any realistic corpus row count's square root (m ~ 4√n).
    // max(…,1) guards the m<2 degenerate corpus.
    val totPairs = math.max(m.toDouble * (m - 1L).toDouble / 2.0, 1.0)
    val scale = n.toDouble * (n - 1L).toDouble / 2.0 / totPairs
    val p = $"n_pairs" / lit(totPairs)
    val hist = blockPairCosines(s, sampled, m, thr = -2.0)
      .withColumn("cos_bucket", floor($"cos_sim" * lit(20.0)) / lit(20.0))
      .groupBy($"cos_bucket")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("frac", round(p, 6))
      .withColumn("est_pairs", floor($"n_pairs" * lit(scale)))
      .withColumn("ci_half",
        round(lit(1.96) * sqrt(p * (lit(1.0) - p) / lit(totPairs)), 6))
      .select($"cos_bucket", $"n_pairs", $"frac", $"est_pairs", $"ci_half")
      .orderBy($"cos_bucket")
    // Finalize eagerly: the histogram is BOUNDED at ≤41 rows by
    // construction (cos ∈ [−1, 1], bucket width 0.05), so a driver-side
    // collect is a constant-size finalizer (same class as the 4-row
    // curriculum finalizer) — and it lets the cached √n sample be
    // released HERE instead of leaking for the session's lifetime
    // (ADVICE r13: callers outside the bench harness never clearCache).
    val rows = hist.collect().toIndexedSeq
    sampled.unpersist()
    s.createDataFrame(rows.asJava, hist.schema).coalesce(1)
  }

  // ---------------------------------------------------------- decontaminate

  /** Benchmark decontamination: per corpus document, the distinct 3-gram
    * shingles it shares with an evaluation set (here: every 97th doc
    * stands in for the benchmark), plus how many benchmark docs it
    * collides with. Training pipelines run exactly this scan before
    * every corpus release — a doc overlapping an eval set n-gram must be
    * dropped or the benchmark is contaminated.
    *
    * Scale shape: eval sets are KBs-to-MBs (tiny against a 100 TB
    * corpus), so the benchmark shingle set is the BROADCAST side and the
    * corpus side stays a single scan — no corpus shuffle for candidate
    * generation, only the final per-doc aggregate over the (small) hit
    * set. The same plan serves a real benchmark file by swapping the
    * bench-side relation. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = shingled(s, dir)
    val bench = broadcast(
      sh.where($"doc_id" % 97 === 0)
        .select($"doc_id".as("bench_id"), explode($"shingles").as("sh")))
    sh.where($"doc_id" % 97 =!= 0)
      .select($"doc_id", explode($"shingles").as("sh"))
      .join(bench, "sh")
      .groupBy($"doc_id")
      // set sizes, not countDistinct: two distinct aggregates go through
      // RewriteDistinctAggregates, whose Expand orders its projections by
      // an expression-id hash, so the plan depended on what the JVM had
      // composed before this query
      .agg(size(collect_set($"sh")).cast("long").as("n_hit_shingles"),
           size(collect_set($"bench_id")).cast("long").as("n_bench_docs"))
      .orderBy($"doc_id")
  }

  // --------------------------------------------------------- span coverage

  /** Duplicated-span coverage: per document, the fraction of its distinct
    * 3-token shingles that occur in at least one OTHER place in the corpus
    * — the cheap distributed proxy for suffix-array substring dedup
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better": remove/flag spans repeated verbatim across the corpus).
    * A true suffix array is sequential and memory-resident; shingle
    * document-frequency gives the same per-doc "how much of me is
    * boilerplate" mass with two posting-key shuffles, which is how the
    * policy is actually approximated at corpus scale.
    *
    * Plan: one shingle-keyed exchange feeds BOTH the df aggregate and the
    * probe side (ReuseExchange via [[explodedShingles]]'s pinned
    * repartition), then one doc-keyed aggregate. df ≥ 2 over per-doc
    * DISTINCT shingles means "appears in ≥ 2 docs" — self-repeats inside
    * one doc are [[TextOps.repetition]]'s signal, not this one. Hot
    * shingles skew the df agg's key but its map-side combine collapses
    * them per-partition before the shuffle; at 100 TB the posting relation
    * is the only large intermediate and it is never joined all-pairs. */
  def spanCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = explodedShingles(s, dir, "sh")
    val df = e.groupBy($"sh").agg(count(lit(1)).as("df"))
    e.join(df, "sh")
      .groupBy($"doc_id", $"n_sh")
      .agg(sum(when($"df" >= 2, 1).otherwise(0)).as("n_dup_spans"))
      .select(
        $"doc_id", $"n_sh", $"n_dup_spans",
        round($"n_dup_spans" / $"n_sh", 6).as("dup_span_frac"),
        ($"n_dup_spans" / $"n_sh" >= 0.5).cast("int").as("dup_heavy"))
      .orderBy($"doc_id")
  }

  /** Content-defined chunking (CDC) dedup: Rabin-style chunking at the
    * token level — a chunk boundary falls after token i whenever the
    * md5-derived 60-bit hash of the 4-token window ending at i is ≡ 0
    * mod 8 (mean chunk ≈ 8 tokens), so boundaries are decided by LOCAL
    * content and survive insertions/deletions elsewhere in the document —
    * the property that lets CDC find shared spans exact shingle-df
    * ([[spanCoverage]]) and whole-doc hashing ([[exact]]) both miss.
    * Chunks then dedupe by content digest; the output is the duplicated-
    * chunk table (≥ 2 copies, ≥ 4 tokens) a storage-style dedup layer
    * would extract, with copy and document counts per chunk.
    *
    * Scale: per-token rows carry only (doc_id, pos, token) — the window
    * hash and running chunk number are per-doc window functions over the
    * SAME (doc_id, pos) sort, so Catalyst computes both in ONE window
    * exchange; chunk assembly is a (doc_id, chunk_no) agg that combines
    * map-side, and the final digest agg shuffles 16-byte digests, never
    * chunk text (the digest is computed before the global shuffle). Skew
    * is bounded: a chunk digest's multiplicity is the dup count itself. */
  /** The per-document chunk table (doc_id, chunk_no, chunk_md5, n_tok)
    * behind [[cdcChunks]], exposed on an arbitrary `(doc_id, text)` frame
    * so specs can assert CDC's defining property (boundary locality: an
    * edit perturbs only the chunks it touches) on constructed inputs. */
  private[graft] def cdcChunkTable(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val byPos = Window.partitionBy($"doc_id").orderBy($"pos")
    // r22 (guide §2.5): pre-spread by doc_id to the session's parallelism
    // when the source cannot supply it (the driver fixtures are 1-row-
    // group scans). The window below requires hash(doc_id) clustering
    // anyway, so this IS its exchange — just moved AHEAD of the
    // posexplode (it ships one text row per doc instead of one row per
    // word) and pinned at defaultParallelism so AQE's byte-based
    // coalescing cannot serialize the md5-per-4-gram window compute
    // (measured before: the whole query ran 7 tasks with 1.6 s of
    // effectively single-task CPU; after: the window runs full-width —
    // interleaved A/B in OPTIMIZATION_r22.md). No-op whenever the source
    // already splits to >= the session's parallelism.
    val p = s.sparkContext.defaultParallelism
    val spread =
      if (!docs.isStreaming && docs.rdd.getNumPartitions < p)
        docs.repartition(p, $"doc_id")
      else docs
    spread
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
      .withColumn("g4", concat_ws(" ",
        lag($"w", 3).over(byPos), lag($"w", 2).over(byPos),
        lag($"w", 1).over(byPos), $"w"))
      .withColumn("brk", when($"pos" >= 3 &&
        conv(substring(md5($"g4"), 1, 15), 16, 10).cast("long") % 8 === 0, 1)
        .otherwise(0))
      .withColumn("chunk_no", coalesce(
        sum($"brk").over(byPos.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .groupBy($"doc_id", $"chunk_no")
      .agg(
        md5(array_join(transform(array_sort(collect_list(struct($"pos", $"w"))),
          x => x("w")), " ")).as("chunk_md5"),
        count(lit(1)).as("n_tok"))
  }

  def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cdcChunkTable(Tables.documents(s, dir)).groupBy($"chunk_md5")
      .agg(
        max($"n_tok").as("n_tok"),
        count(lit(1)).as("n_copies"),
        countDistinct($"doc_id").as("n_docs"))
      .where($"n_copies" >= 2 && $"n_tok" >= 4)
      .orderBy($"chunk_md5")
  }

  /** Cross-source duplication matrix — the curation diagnostic behind
    * "which feeds re-publish which": for every (ordered) source pair,
    * the shingle-set overlap |A∩B| and Jaccard |A∩B|/|A∪B|. High
    * off-diagonal mass tells a pipeline to dedup ACROSS those sources
    * before mixing, not just within them.
    *
    * Emits the FULL C(S,2) matrix: pairs with zero shingle overlap
    * surface as n_common=0 / jaccard=0 rows (ADVICE r9 — consumers must
    * be able to distinguish "no overlap" from "pair absent").
    *
    * Scale: ONE corpus pass and ONE corpus-sized shuffle. The fanned-out
    * scan shingles each document in parallel, and the (source, shingle)
    * rows aggregate straight to `sh → sorted set of sources` (map-side
    * partial collect_set dedups before the exchange). Each set expands
    * into its pairs (a, b) with a ≤ b through two codegen'd posexplodes
    * and a position filter — a shingle held by k of the S sources yields
    * k(k+1)/2 rows — and one aggregate counts them: the diagonal (a, a)
    * is a's set size, the off-diagonal the overlaps. That ≤ S(S+1)/2-row
    * result (S is tiny — 20 here) folds into one row, a pair → count map
    * plus the sorted source list, from which the skeleton explodes; so
    * the corpus subtree has one consumer and nothing is persisted.
    * Integer arithmetic until the one Jaccard division. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pair = (a: Column, b: Column) => struct(a.as("a"), b.as("b"))
    val counts = upperPairs(Tables.fanOutScan(Tables.documents(s, dir))
        .select($"source", explode(graft.functions.ShingleArray.shingleArray($"text")).as("sh"))
        .groupBy($"sh")
        .agg(sort_array(collect_set($"source")).as("srcs")), $"i" <= $"j")
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n"))
    val folded = counts.agg(
      map_from_entries(collect_list(struct(pair($"src_a", $"src_b"), $"n"))).as("m"),
      sort_array(collect_list(when($"src_a" === $"src_b", $"src_a"))).as("srcs"))
    upperPairs(folded, $"i" < $"j")
      .select($"src_a", $"src_b",
        element_at($"m", pair($"src_a", $"src_a")).as("n_a"),
        element_at($"m", pair($"src_b", $"src_b")).as("n_b"),
        coalesce(element_at($"m", pair($"src_a", $"src_b")), lit(0L)).as("n_common"))
      .withColumn("jaccard",
        round($"n_common" / ($"n_a" + $"n_b" - $"n_common"), 6))
      .orderBy($"src_a", $"src_b")
  }

  /** `rel` with its sorted `srcs` array expanded into position-filtered
    * pairs `(src_a, src_b)`: two posexplodes (codegen'd, unlike
    * higher-order lambdas) and `keep` over their positions `i`, `j`. */
  private def upperPairs(rel: DataFrame, keep: Column): DataFrame =
    rel.select(col("*"), posexplode(col("srcs")).as(Seq("i", "src_a")))
      .select(col("*"), posexplode(col("srcs")).as(Seq("j", "src_b")))
      .where(keep)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact"         -> (exact _),
    "dedup_source_overlap" -> (sourceOverlap _),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "dedup_cand_pairs"    -> (candPairsBuild _),
    "dedup_minhash_lsh"   -> (minhashLsh _),
    "dedup_incremental"   -> (incremental _),
    "dedup_clusters"      -> (clusters _),
    "dedup_cluster_stats" -> (clusterStats _),
    "dedup_simhash"       -> (simhash _),
    "dedup_embcos"        -> (embeddingCosine _),
    "dedup_embcos_audit"  -> (embeddingCosineAudit _),
    "dedup_decontaminate" -> (decontaminate _),
    "dedup_span_coverage" -> (spanCoverage _),
    "dedup_cdc_chunks"    -> (cdcChunks _),
  )

  private val jaccardOracle =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |d AS (
      |  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tok) - 2, 1)),
      |         i -> array_to_string(tok[i:i+2], ' '))) AS shingles
      |  FROM t
      |), e AS (
      |  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM d
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       round(count(*) / (a.n_sh + b.n_sh - count(*)), 6) AS jaccard
      |FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |GROUP BY 1, 2, a.n_sh, b.n_sh
      |HAVING round(count(*) / (a.n_sh + b.n_sh - count(*)), 6) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  override def oracles: Map[String, String] = Map(
    // Same 3-gram shingle construction as span_coverage, de-duplicated
    // per SOURCE; integer set sizes until the one Jaccard division.
    "dedup_source_overlap" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS tok FROM documents),
        |d AS (
        |  SELECT source, list_distinct(list_transform(generate_series(1, greatest(len(tok) - 2, 1)),
        |         i -> array_to_string(tok[i:i+2], ' '))) AS shingles
        |  FROM t
        |), e AS (
        |  SELECT DISTINCT source, sh
        |  FROM (SELECT source, unnest(shingles) AS sh FROM d)
        |), z AS (SELECT source, count(*) AS n_sh FROM e GROUP BY source),
        |i AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS nc
        |  FROM e a JOIN e b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT za.source AS src_a, zb.source AS src_b,
        |       za.n_sh AS n_a, zb.n_sh AS n_b,
        |       COALESCE(i.nc, 0) AS n_common,
        |       round(COALESCE(i.nc, 0)
        |             / (za.n_sh + zb.n_sh - COALESCE(i.nc, 0)), 6) AS jaccard
        |FROM z za CROSS JOIN z zb
        |LEFT JOIN i ON i.src_a = za.source AND i.src_b = zb.source
        |WHERE za.source < zb.source
        |ORDER BY src_a, src_b""".stripMargin,
    // Same md5-derived 60-bit window hash, same mod-8 boundary rule, same
    // exclusive running boundary count; chunk text re-assembled in pos
    // order so digests match byte-for-byte.
    "dedup_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |p AS (SELECT doc_id, i - 1 AS pos, tok[i] AS w,
        |             CASE WHEN i >= 4 THEN array_to_string(tok[i-3:i], ' ') END AS g4
        |      FROM t, unnest(generate_series(1, len(tok))) AS g(i)),
        |b AS (SELECT doc_id, pos, w,
        |             CASE WHEN g4 IS NOT NULL AND
        |                  CAST(CAST(('0x' || substr(md5(g4), 1, 15)) AS UBIGINT) AS BIGINT) % 8 = 0
        |             THEN 1 ELSE 0 END AS brk FROM p),
        |c AS (SELECT doc_id, pos, w,
        |             COALESCE(sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_no
        |      FROM b),
        |ch AS (SELECT doc_id, chunk_no, string_agg(w, ' ' ORDER BY pos) AS chunk_text,
        |              count(*) AS n_tok
        |       FROM c GROUP BY 1, 2)
        |SELECT md5(chunk_text) AS chunk_md5,
        |       CAST(max(n_tok) AS BIGINT) AS n_tok,
        |       count(*) AS n_copies,
        |       count(DISTINCT doc_id) AS n_docs
        |FROM ch GROUP BY 1 HAVING count(*) >= 2 AND max(n_tok) >= 4
        |ORDER BY chunk_md5""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin,
    "dedup_ngram_jaccard" -> jaccardOracle,
    // the build emits the pair relation it wrote — same contract
    "dedup_cand_pairs"    -> jaccardOracle,
    "dedup_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |d AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tok) - 2, 1)),
        |         i -> array_to_string(tok[i:i+2], ' '))) AS shingles
        |  FROM t
        |), e AS (
        |  SELECT doc_id, unnest(shingles) AS sh FROM d
        |), bench AS (
        |  SELECT doc_id AS bench_id, sh FROM e WHERE doc_id % 97 = 0
        |)
        |SELECT e.doc_id,
        |       count(DISTINCT e.sh) AS n_hit_shingles,
        |       count(DISTINCT b.bench_id) AS n_bench_docs
        |FROM e JOIN bench b ON e.sh = b.sh
        |WHERE e.doc_id % 97 <> 0
        |GROUP BY e.doc_id
        |ORDER BY e.doc_id""".stripMargin,
    "dedup_span_coverage" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |d AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tok) - 2, 1)),
        |         i -> array_to_string(tok[i:i+2], ' '))) AS shingles
        |  FROM t
        |), e AS (
        |  SELECT doc_id, CAST(len(shingles) AS INT) AS n_sh, unnest(shingles) AS sh FROM d
        |), f AS (
        |  SELECT sh, count(*) AS df FROM e GROUP BY 1
        |)
        |SELECT e.doc_id, e.n_sh,
        |       CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |       round(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) / e.n_sh, 6) AS dup_span_frac,
        |       CASE WHEN sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) / e.n_sh >= 0.5
        |            THEN 1 ELSE 0 END AS dup_heavy
        |FROM e JOIN f USING (sh)
        |GROUP BY 1, 2
        |ORDER BY e.doc_id""".stripMargin,
    // transitive closure by recursive CTE = the declarative twin of the
    // Spark side's label-propagation fixpoint
    "dedup_clusters" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |d AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tok) - 2, 1)),
        |         i -> array_to_string(tok[i:i+2], ' '))) AS shingles
        |  FROM t
        |), e AS (
        |  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM d
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, a.n_sh, b.n_sh
        |  HAVING round(count(*) / (a.n_sh + b.n_sh - count(*)), 6) >= 0.8
        |), edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL
        |  SELECT doc_b, doc_a FROM pairs
        |), reach AS (
        |  SELECT doc_id AS a, doc_id AS b FROM documents
        |  UNION
        |  SELECT r.a, g.b FROM reach r JOIN edges g ON r.b = g.a
        |)
        |SELECT a AS doc_id, min(b) AS component
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    // Same component map (recursive reachability, min label), same
    // min-id representative convention, exact integer token sums.
    "dedup_cluster_stats" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |d AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tok) - 2, 1)),
        |         i -> array_to_string(tok[i:i+2], ' '))) AS shingles
        |  FROM t
        |), e AS (
        |  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM d
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, a.n_sh, b.n_sh
        |  HAVING round(count(*) / (a.n_sh + b.n_sh - count(*)), 6) >= 0.8
        |), edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL
        |  SELECT doc_b, doc_a FROM pairs
        |), reach AS (
        |  SELECT doc_id AS a, doc_id AS b FROM documents
        |  UNION
        |  SELECT r.a, g.b FROM reach r JOIN edges g ON r.b = g.a
        |), comp AS (
        |  SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a
        |), tk AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents
        |), pc AS (
        |  SELECT c.component, count(*) AS sz,
        |         CAST(sum(CASE WHEN c.doc_id <> c.component THEN tk.n_tok
        |                       ELSE 0 END) AS BIGINT) AS dup_tok
        |  FROM comp c JOIN tk ON tk.doc_id = c.doc_id
        |  GROUP BY c.component
        |)
        |SELECT sz AS cluster_size, count(*) AS n_clusters,
        |       CAST(sum(sz) AS BIGINT) AS n_docs,
        |       CAST(sum(sz) - count(*) AS BIGINT) AS n_dup_docs,
        |       CAST(sum(dup_tok) AS BIGINT) AS reclaim_tokens
        |FROM pc GROUP BY sz ORDER BY cluster_size""".stripMargin,
    "dedup_incremental" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |d AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tok) - 2, 1)),
        |         i -> array_to_string(tok[i:i+2], ' '))) AS shingles
        |  FROM t
        |), e AS (
        |  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM d
        |)
        |SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
        |       round(count(*) / (a.n_sh + b.n_sh - count(*)), 6) AS jaccard
        |FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |GROUP BY 1, 2, a.n_sh, b.n_sh
        |HAVING round(count(*) / (a.n_sh + b.n_sh - count(*)), 6) >= 0.8
        |ORDER BY new_id, corpus_id""".stripMargin,
    // minhash+LSH verifies candidates with exact jaccard, so its output
    // equals the exact computation (deterministically, on this data).
    // DedupSpec separately asserts the containment direction (LSH ⊆ exact)
    // and full recall on this corpus, so a banding miss would surface as a
    // recall-assert failure, not a mystery hash mismatch.
    "dedup_minhash_lsh" -> jaccardOracle,
    // Full SimHash rebuild in SQL: same md5-derived 60-bit shingle hashes,
    // same signed bit sums (tie s=0 → bit 0), same hamming ≤ 3 cut.
    "dedup_simhash" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |d AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(tok) - 2, 1)),
        |         i -> array_to_string(tok[i:i+2], ' '))) AS shingles
        |  FROM t
        |), e AS (
        |  SELECT doc_id, unnest(shingles) AS sh FROM d
        |), h AS (
        |  SELECT doc_id, CAST(CAST(('0x' || substr(md5(sh), 1, 15)) AS UBIGINT) AS BIGINT) AS x
        |  FROM e
        |), bitsums AS (
        |  SELECT doc_id, b, sum(CASE WHEN ((x >> b) & 1) = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, unnest(generate_series(0, 59)) AS g(b)
        |  GROUP BY doc_id, b
        |), sig AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bitsums GROUP BY doc_id
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Explicit dot/sqrt/divide (not list_cosine_similarity) = the exact
    // operation sequence of the Spark side → bit-identical doubles before
    // the shared round(…, 6).
    "dedup_embcos" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e0)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE a.nrm * b.nrm > 0
        |  AND round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin,
    // Same deterministic knuth-hash √n sample, same cosine sequence, same
    // single double-division scale factor — every derived double repeats
    // the Spark side's exact IEEE op order. Integer pair counts use //
    // (DuckDB / on integers is double division).
    "dedup_embcos_audit" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |nn AS (SELECT count(*) AS n FROM e0),
        |kk AS (SELECT greatest(1, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) // 4) AS k FROM nn),
        |s AS (SELECT vec_id, v FROM e0, kk
        |      WHERE (((vec_id % 1000003) * 2654435761) % 1000003) % k = 0),
        |mm AS (SELECT count(*) AS m FROM s),
        |z AS (SELECT CAST(n AS DOUBLE) * (n - 1) / 2 AS pop,
        |             greatest(CAST(m AS DOUBLE) * (m - 1) / 2, 1) AS tot
        |      FROM nn, mm),
        |e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM s),
        |p AS (SELECT round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
        |      FROM e a JOIN e b ON a.vec_id < b.vec_id
        |      WHERE a.nrm * b.nrm > 0),
        |c AS (SELECT floor(cos_sim * 20.0) / 20.0 AS cos_bucket, count(*) AS n_pairs
        |      FROM p GROUP BY 1)
        |SELECT cos_bucket, n_pairs,
        |       round(n_pairs / tot, 6) AS frac,
        |       CAST(floor(n_pairs * (pop / tot)) AS BIGINT) AS est_pairs,
        |       round(1.96 * sqrt((n_pairs / tot) * (1.0 - n_pairs / tot) / tot), 6) AS ci_half
        |FROM c, z
        |ORDER BY cos_bucket""".stripMargin,
  )
}
