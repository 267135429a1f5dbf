package graft.operators

import graft.{QueryModule, Tables}
import graft.functions.ConstVectorDot.dotConst
import graft.functions.VectorDot.vectorDot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`array<float>`, 64-dim):
  * brute-force cosine top-k as the exact baseline, an IVF (inverted-file)
  * variant as the cluster-pruned scale path, and random-hyperplane LSH
  * bucketing.
  *
  * Scale design (100 TB / billions of vectors):
  *   - queries are always the broadcast side; the corpus never shuffles
  *     for brute force (one scan, map-side top-k via window per query);
  *   - IVF: centroids broadcast; corpus is assigned once (one scan),
  *     then candidate generation is an equi-join on cell id — probing
  *     nprobe cells reads only those partitions. Cell assignment is the
  *     natural partitioning/bucketing key for a vector corpus at rest;
  *   - LSH: signature computation is a per-row map (native
  *     [[graft.functions.ConstVectorDot]] projections); the bucket join
  *     shuffles by (table, bucket) only;
  *   - all dot products run in whole-stage codegen — native
  *     [[graft.functions.VectorDot]] for vector-vector, native constant
  *     expression for vector-basis (both avoid the intermediate-array
  *     allocation of an `aggregate(zip_with(...))` fold).
  */
object Similarity extends QueryModule {

  private val K = 5 // neighbors returned per query

  /** vec_id, v (double), norm — persisted: every query consumes this
    * relation from 2-4 branches (queries side, corpus side, centroid /
    * bucket derivations), and self-join aliasing blocks exchange reuse,
    * so without the cache each branch would rescan + redo the norms. */
  private[graft] def vecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .withColumn("v", $"embedding".cast("array<double>"))
      .withColumn("norm", sqrt(vectorDot($"v", $"v")))
      .select($"vec_id", $"v", $"norm")
      .persist()
  }

  private[graft] def queriesOf(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))

  /** CORPUS-SIDE exact-twin collapse for the top-[[K]] ANN family
    * (round 15, the [[EventOps.profileVecs]] pattern): keep only the
    * [[AnnTwinKeep]] = K+1 smallest vec_ids per identical-vector class
    * on the NEIGHBOR side of each query. Provably top-K-invariant —
    * for any query q and dropped twin t (t has ≥ 6 smaller-id twins
    * with the bit-identical vector, hence the bit-identical rounded
    * score against q), at most one retained twin is q itself, so ≥ 5
    * retained non-q neighbors rank strictly ahead of t under
    * (score desc, neighbor_id asc) and t can never reach the top 5.
    * The QUERY side stays untruncated (the every-50th-id query-set
    * contract is untouched). Exact for the brute/IVF paths (twins
    * share cells by assignment determinism); under the LSH postings
    * cap the kept per-bucket sample changes (mirrored in the oracle).
    * Exact twins are the input no LSH ladder can prune — they share
    * every bucket at every rung (measured: a 36%-duplicated 200k
    * corpus cost all-flips multiprobe 3.5×, SF10_PROBE_r15.json) —
    * so the collapse runs BEFORE bucketing, one window over slim
    * (vec_id, vector) rows; a no-op on twin-free corpora (all driver
    * SFs; gated hashes unchanged). Serving ([[graft.streaming
    * .AnnServeStream]]) keeps the full corpus: its `k` is caller-chosen
    * at query time, so a build-time K+1 truncation would be wrong. */
  private[graft] val AnnTwinKeep = K + 1
  private[graft] def collapseTwins(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("v")).orderBy(col("vec_id").asc)
    e.withColumn("twin_rank", row_number().over(w))
      .where(col("twin_rank") <= AnnTwinKeep)
      .drop("twin_rank")
  }

  /** Exact top-k: every 50th vector queries the full corpus.
    *
    * Ranking runs on the ROUNDED score (then neighbor_id): the oracle's
    * floating-point cosine is engine-reproducible (same sequential dot /
    * sqrt / divide sequence), but ranking on unrounded doubles would make
    * the gate hostage to any future last-ulp divergence on near-ties —
    * round(…, 6) first makes the order robust by construction. */
  def topkBruteForce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir)
    // declared all-pairs exact baseline (queries ∝ n × corpus n): fail
    // fast past the configured bound; the pruned IVF-PQ serve is the
    // registered production twin (VERDICT r13 #6)
    graft.ExactScanGuard.check(s, "sim_topk_bruteforce", "sim_topk_ivfpq_serve",
      e.count())
    val byQuery = Window.partitionBy($"query_id")
      .orderBy($"score".desc, $"neighbor_id".asc)
    broadcast(queriesOf(e))
      .join(collapseTwins(e)
              .select($"vec_id".as("neighbor_id"), $"v".as("nv"), $"norm".as("nnorm")),
            $"neighbor_id" =!= $"query_id")
      .withColumn("dot", vectorDot($"qv", $"nv"))
      .withColumn("score", round($"dot" / ($"qnorm" * $"nnorm"), 6))
      .withColumn("rnk", row_number().over(byQuery))
      .where($"rnk" <= K)
      .select($"query_id", $"neighbor_id", $"rnk", $"score")
      .orderBy($"query_id", $"rnk")
  }

  /** Generated rungs per ANN ladder ([[LshSteps]] has the full design
    * note). 6 ⇒ top thresholds at 8,388,608 rows — two decades above the
    * 1M-vector rung measured in SIMILARITY_SCALE_r17 (rung i=3, the
    * VERDICT r16 #1 probe). Declared BEFORE every generated step table:
    * object vals initialize in declaration order, and a forward
    * reference would silently read 0 and generate EMPTY ladders. */
  private[graft] val AnnLadderRungs = 6

  private val NCENT = 16
  private val NPROBE = 4

  // ---- Plain-IVF cell-count ladder (round 14, sf10-probe follow-up).
  // The last fixed-grid member of the ANN family: at (16, 4) the probe
  // step scans a flat 25% of a growing corpus, and the sf10 probe
  // measured the consequence — per-query verify cost rose once scoring
  // dominated (35.9 s total at 200k vectors). Same design as
  // [[IvfPqSteps]]: cells ~√n (bounded expected cell size), nprobe
  // rising slower so the scan fraction FALLS 25% → 12.5% → 9.4% →
  // 6.25% along the rungs; integer thresholds mirrored into the oracle
  // CASE, anchored above every driver SF so gated hashes stay on the
  // historical (16, 4) base. First-n seed centroids stay the family's
  // documented teaching form — the trained-centroid production path is
  // [[topkIvfPq]], which already ladders.
  // Closed form (r17, the [[LshSteps]] treatment): threshold 8192·4^i,
  // cells = 64·2^i (~√n, the FAISS sizing), nprobe = 8 + 4i — rungs
  // i=0..2 reproduce the shipped table exactly; the scan fraction
  // nprobe/cells keeps falling along the generated extension
  // (12.5% → 9.4% → 6.25% ... → 1.4% at the i=5 top rung).
  private[graft] val IvfSteps: Seq[(Long, Int, Int)] =
    (0 until AnnLadderRungs).map { i =>
      // (min corpus rows, cells, nprobe)
      (8192L << (2 * i), 64 << i, 8 + 4 * i)
    }
  private[graft] def ivfParams(n: Long): (Int, Int) =
    IvfSteps.foldLeft((NCENT, NPROBE)) {
      case (acc, (thr, c, p)) => if (n >= thr) (c, p) else acc
    }

  /** First-n seed "centroids". Degenerate zero-norm seeds are filtered
    * (r16, completing the ADVICE r15 guard family-wide): a zero-norm
    * centroid scores NaN→1.0 (d = 0) in [[cellAssignment]] and would
    * capture every vector — and the engines DISAGREE on that edge (the
    * oracle's x/0 is NULL, which sorts last under DESC and loses).
    * Filtering seeds at both sides keeps the edge unreachable. */
  private[graft] def centroidsOf(e: DataFrame, ncent: Int = NCENT): DataFrame =
    broadcast(e.filter(col("vec_id") < ncent && col("norm") > 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("norm").as("cnorm")))

  /** SemDeDup cell-count ladder: with a FIXED cell count the within-cell
    * pair term is Θ(n²/cells) — a constant fraction of a quadratic, the
    * same trap `ev_ts_similarity` had before its adaptive rungs
    * (measured: sim_semdedup grew 8.5× under 10× corpus growth at 16
    * cells). Cells now rise with the corpus so the expected cell SIZE
    * stays bounded (~n/128 at the rung midpoints) and the pair term
    * stays ~linear. Integer thresholds, compared identically in the
    * oracle SQL's CASE (no floats at a boundary — the
    * `EventOps.profParams` contract), and the first rung preserves the
    * historical 16-cell behavior at the driver's SFs bit-for-bit. The
    * 1024 cap marks where first-n "centroids" should hand over to
    * trained ones (the [[ivfPqCentroids]] path). */
  // ---- Trained-centroid hand-over (round 14, closing the documented
  // residue): past [[SemTrainedMinRows]] the first-n seed rule stops
  // being representative (seeds all live in the earliest corpus slice)
  // and the 1,024-cell cap would turn the within-cell pair term back
  // into a growing fraction of n². The top rung hands over to
  // [[ivfPqCentroids]] — the same TrainCap-bounded deterministic
  // spherical Lloyd the IVF×PQ coarse quantizer uses, whose SQL mirror
  // ([[semKmCte]], the [[ivfKmCte]] chain at this rung's cell count)
  // keeps the oracle bit-identical. Training cost is FIXED by the cap —
  // the 100 TB shape. Gated SFs (≤2,048 vectors) sit three rungs below;
  // integer threshold, the profParams contract. What the hand-over does
  // to the CELL COUNT depends on which form is asking — see the r18
  // split below (one-shot cells DROP to the assignment/pair balance
  // point; at-rest cells double to bound per-batch screen cost).
  private[graft] val SemTrainedMinRows = 131072L
  // ---- r18 recalibration (VERDICT r17 #1): ONE-SHOT and AT-REST cells
  // have genuinely different optima, so the schedule is SPLIT.
  //
  // One-shot (the registered `sim_semdedup`, which pays assignment AND
  // pairs in one wall): the r17 2M-vector crossover run refuted the r16
  // pair-term-only break-even — the n × cells assignment scan dominates,
  // and total cost n·c + n²/(2c) is minimized at c* = √(n/2). The rung
  // thresholds are GEOMETRICALLY CENTERED on c* (r18): cells = 256·2^j
  // for n ≥ 65,536·4^j, so c* is hit exactly at each rung's geometric
  // center 131,072·4^j ((256·2^j)² = 131,072·4^j / 2) and the cells/c*
  // ratio stays within [1/√2, √2] — cost within (√2 + 1/√2)/2 ≈ 1.06×
  // of the model optimum everywhere, vs 1.25× worst-case for a
  // floor-pinned rule. The centering choice is MODEL-driven inside the
  // measured noise band, not wall-proven: 2M single-shot walls carry a
  // measured 1.7× session spread (the identical first-n arm timed
  // 732/459/437 s across three runs — BASELINE.md r18), which swamps
  // the ≤1.2× delta the model predicts between the two rules. What IS
  // measured above noise: the old 2048-cell schedule's 61.8 s at 200k
  // vs 17-21 s at the 256-512-cell optimum (two independent sweeps,
  // trained centroids, Lloyd included), and — via the r18 symmetric
  // interleaved A/B — that at equal cells the trained arm's pair phase
  // is within 1.14× of first-n with the 63-s TrainCap-Lloyd premium
  // timed separately, so the registered one-shot no longer over-pays
  // for cells and its remaining premium over first-n seeds is the
  // training cost (kept: the trained max-cell bound is the
  // distributed-skew contract). semPlan still hands over at
  // [[SemTrainedMinRows]]; exact integer thresholds AND cells are
  // generated into the oracle's `sprm` CASE so the engines cannot
  // drift.
  private[graft] val SemOneShotCells = 256
  private[graft] val SemOneShotSteps: Seq[(Long, Int)] =
    (0 until AnnLadderRungs - 2).map { j =>
      ((SemTrainedMinRows >> 1) << (2 * j), SemOneShotCells << j)
    }
  // At-rest (the streaming [[graft.streaming.SemDedupStream]] index):
  // assignment is paid ONCE and amortized across every micro-batch
  // screen, where per-batch cost ∝ expected cell size — smaller cells
  // win strictly, so the r17 schedule (2048·2^j, expected cell ~n/2048
  // at rung floors) stays RIGHT for this form; it is also the
  // distributed-skew bound (max cell 1,201 vs 2,238 measured at 2M).
  private[graft] val SemAtRestCells = 2048
  private[graft] val SemAtRestSteps: Seq[(Long, Int)] =
    (0 until AnnLadderRungs - 2).map { j =>
      (SemTrainedMinRows << (2 * j), SemAtRestCells << j)
    }
  private def semTrainedFold(steps: Seq[(Long, Int)], base: Int, n: Long): Int =
    steps.foldLeft(base) { case (acc, (thr, c)) => if (n >= thr) c else acc }
  /** (cell count, trained?) for a ONE-SHOT semdedup over n vectors — the
    * centroid rule the registered query and its oracle derive from the
    * same constants. */
  private[graft] def semPlan(n: Long): (Int, Boolean) =
    if (n >= SemTrainedMinRows)
      (semTrainedFold(SemOneShotSteps, SemOneShotCells, n), true)
    else (semCells(n), false)
  /** (cell count, trained?) for the AT-REST index ([[SemDedupStream]]).
    * Below the hand-over the two plans agree (the [[semCells]] ladder). */
  private[graft] def semPlanAtRest(n: Long): (Int, Boolean) =
    if (n >= SemTrainedMinRows)
      (semTrainedFold(SemAtRestSteps, SemAtRestCells, n), true)
    else (semCells(n), false)
  private def semCentroidsFor(e: DataFrame, plan: (Int, Boolean)): DataFrame =
    plan match {
      case (cells, true)  => ivfPqCentroids(e, cells)
      case (cells, false) => centroidsOf(e, cells)
    }
  private[graft] def semCentroids(e: DataFrame, n: Long): DataFrame =
    semCentroidsFor(e, semPlan(n))
  private[graft] def semCentroidsAtRest(e: DataFrame, n: Long): DataFrame =
    semCentroidsFor(e, semPlanAtRest(n))

  /** SLIM max-cosine cell per corpus vector — (vec_id, cid) only, the
    * assignment the semdedup family ships (vectors re-attach by join
    * from the persisted corpus afterward): at the trained rung the
    * n × cells score relation is ~10⁸ rows, and carrying the 64-double
    * vector inside every aggregation-buffer struct (the
    * [[cellAssignment]] shape, fine at ≤10⁷ score rows) overruns the
    * 8 GB driver-contract heap. Same ordering/NaN contract as
    * [[cellAssignment]] (zero-norm vectors pin to the lowest cid). */
  private[graft] def semAssign(e: DataFrame, cent: DataFrame): DataFrame =
    e.join(cent)
      // ANSI mode turns 0/0 into DIVIDE_BY_ZERO, so the degenerate case
      // is branched around explicitly (when short-circuits in codegen)
      // and the documented NaN→1.0 pinning stays reachable
      .withColumn("ccos",
        when(col("norm") * col("cnorm") === 0, lit(Double.NaN)).otherwise(
          round(vectorDot(col("v"), col("cv")) / (col("norm") * col("cnorm")), 6)))
      .withColumn("ccos", nanvl(col("ccos"), lit(1.0)))
      .groupBy(col("vec_id"))
      .agg(min(struct((lit(1.0) - col("ccos")).as("d"), col("cid").as("c"))).as("m"))
      .select(col("vec_id"), col("m.c").as("cid"))

  private[graft] def semCells(n: Long): Int =
    if (n <= 2048L) 16
    else if (n <= 8192L) 64
    else if (n <= 32768L) 256
    else 1024

  /** Max-cosine cell per corpus vector — the shared IVF/SemDeDup
    * assignment: one corpus scan against the broadcast centroids,
    * deterministic tie-break on cid. The argmax is a map-side-combined
    * `min(struct(1 − ccos, cid, v, norm))` (the [[pqCodebook]] trick:
    * the payload rides inside the struct, and since (score, cid) is
    * already deciding, the comparison never reaches it) — one row per
    * vector hits the shuffle, where the former per-vector row_number
    * window shuffled the full corpus × |centroids| join. `1 − ccos`
    * orders identically to `ccos desc` (rounded ccos values are far
    * coarser than double spacing near 1) and keeps the key
    * non-negative. Degenerate zero-norm vectors score ccos = NaN on
    * every centroid; coalescing NaN cosine to 1 (distance 0) pins them
    * deterministically to the lowest cid (the behavior of the pre-r10
    * row_number form, where NaN sorted greatest under `ccos desc`)
    * instead of letting NaN lose to every finite distance in the
    * struct-min (ADVICE r10). The NaN is manufactured by an explicit
    * zero-divisor branch (r16): Spark 4's default ANSI mode raises
    * DIVIDE_BY_ZERO on 0/0, which would have made this pinning contract
    * unreachable instead of deterministic. Zero-norm CENTROIDS — which
    * would score d = 0 against every vector and capture whole
    * assignment rounds — cannot reach here: [[ivfPqCentroids]] filters
    * degenerate seeds and keeps the previous centroid when a Lloyd mean
    * cancels to zero (ADVICE r15), mirrored in the oracle chains. */
  private[graft] def cellAssignment(e: DataFrame, cent: DataFrame): DataFrame = {
    e.join(cent)
      // same ANSI divide-by-zero branch as [[semAssign]]
      .withColumn("ccos",
        when(col("norm") * col("cnorm") === 0, lit(Double.NaN)).otherwise(
          round(vectorDot(col("v"), col("cv")) / (col("norm") * col("cnorm")), 6)))
      .withColumn("ccos", nanvl(col("ccos"), lit(1.0)))
      .groupBy(col("vec_id"))
      .agg(min(struct((lit(1.0) - col("ccos")).as("d"), col("cid").as("c"),
        col("v").as("v"), col("norm").as("norm"))).as("m"))
      .select(col("vec_id"), col("m.c").as("cid"), col("m.v").as("v"),
        col("m.norm").as("norm"))
  }

  /** IVF top-k: vectors with vec_id < 16 serve as deterministic
    * centroids; each corpus vector is assigned to its max-cosine cell;
    * queries probe their 4 nearest cells and rank only those candidates.
    * Fully SQL-expressible → oracle-checked, unlike most ANN. */
  def topkIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir)
    // ladder rung from the exact corpus count (also warms the persisted
    // vecs relation every consumer reuses — the topkLsh convention)
    val (cells, nprobe) = ivfParams(e.count())
    val cent = centroidsOf(e, cells)
    // corpus-side twin collapse (see [[collapseTwins]]): assignment is a
    // per-vector function, so truncating BEFORE it changes no kept
    // vector's cell; centroids/rung stay derived from the full corpus
    val assign = cellAssignment(collapseTwins(e), cent)

    val probeW = Window.partitionBy($"query_id").orderBy($"qcos".desc, $"cid".asc)
    val probes = queriesOf(e).join(cent)
      .withColumn("qcos", round(vectorDot($"qv", $"cv") / ($"qnorm" * $"cnorm"), 6))
      .withColumn("prn", row_number().over(probeW))
      .where($"prn" <= nprobe)
      .select($"query_id", $"qv", $"qnorm", $"cid")

    val byQuery = Window.partitionBy($"query_id").orderBy($"score".desc, $"neighbor_id".asc)
    probes.join(assign.select($"cid", $"vec_id".as("neighbor_id"),
                              $"v".as("nv"), $"norm".as("nnorm")), "cid")
      .where($"neighbor_id" =!= $"query_id")
      .withColumn("dot", vectorDot($"qv", $"nv"))
      .withColumn("score", round($"dot" / ($"qnorm" * $"nnorm"), 6))
      .withColumn("rnk", row_number().over(byQuery))
      .where($"rnk" <= K)
      .select($"query_id", $"neighbor_id", $"rnk", $"score")
      .orderBy($"query_id", $"rnk")
  }

  // Random-hyperplane LSH: 4 tables × 6-bit signatures at the base rung.
  // Plane components come from a fixed-seed LCG → identical across
  // runs/engines. Components are exact rationals k/1000 (k integer), so
  // the oracle SQL can rebuild the very same doubles from the integer
  // matrix (k / 1000.0).
  private val TABLES = 4
  private val BITS = 6
  private val DIM = 64

  // ---- Corpus-adaptive signature width (round 12) — the E2LSH /
  // semCells ladder pattern applied to sign-LSH. At FIXED (tables, bits)
  // the bucket grid is constant, so per-bucket occupancy grows ∝ n; with
  // the query set also ∝ n (every 50th vector), candidate volume grows
  // Θ(n²/2^bits) — the same flat-selectivity trap r11 fixed for
  // ev_ts_similarity and sim_semdedup, measured live by the r12 sf1
  // proof: sim_ann_multiprobe grew 10.5× on 10× data. Sign-LSH theory
  // (Charikar'02): a far pair (cos≈0) matches one more bit with
  // p2 = 0.5, a near pair (this corpus' top-5 angular gap ⇒ p1 ≈ 0.8)
  // with p1 — so bits must grow ~log₂(n) to hold per-bucket occupancy,
  // and tables grow ×~1/p1 ≈ ×1.25 per added bit to hold the
  // 1−(1−p1^bits)^tables recall floor (multiprobe's Hamming-1 expansion
  // adds its usual extra-tables equivalent on top; rung recalls are
  // recorded in `SIMILARITY_SCALE_r*.json` / BASELINE.md). Integer thresholds
  // on the exact corpus count — never a libm expression, where rounding
  // could make the two engines disagree on the rung — anchored so the
  // sf0.01/sf0.1 gates stay on the r10-tuned (4, 6) base. The plane pool
  // is prefix-stable per row and rung rows are addressed t·bits + j, so
  // base-rung hashes are bit-identical to the fixed-parameter form.
  //
  // CLOSED-FORM RUNGS (round 17, VERDICT r16 #1): the r12–r14 tables
  // hand-wrote three rungs ending at 131,072 — one decade above the
  // largest measured corpus, and the repo's own history shows candidate
  // growth reverting to linear one decade past a top rung (the 150k-user
  // E2LSH incident). The schedule those rungs discretized IS a closed
  // form — threshold 8192·4^i, bits = 8 + 2i (log₂ of the ×4 growth),
  // tables = round(6·1.5^i) (the ×~1/p1 per added-bit pair) — so the
  // table is now GENERATED from it: rung i=0..2 reproduce the shipped
  // (6,8)/(9,10)/(14,12) exactly (gated hashes unchanged), and the rule
  // extends the ladder as far as [[AnnLadderRungs]] reaches. The rung
  // count is bounded only because the shared plane pool (and its inlined
  // oracle mirror) is sized by the TOP rung — raising the one constant
  // extends every generated ladder and its oracle CASE together; nothing
  // else in engine or oracle is rung-count-aware. The closed form is
  // evaluated ONCE at class load and its INTEGER results are what both
  // engines consume (the oracle CASE inlines them as literals), so the
  // no-libm-at-a-boundary contract still holds. round(6·1.5^i) is
  // computed in EXACT Long arithmetic — 6·3^i plus half the divisor,
  // shifted down by i (round-half-up; 3^i fits a Long for every
  // reachable rung) — because Math.pow is only specified to 1 ulp and
  // i=2 lands exactly on the .5 boundary (13.5 → 14), where a 1-ulp-low
  // pow would silently shrink a rung (ADVICE r17).
  private[graft] val LshSteps: Seq[(Long, Int, Int)] =
    (0 until AnnLadderRungs).map { i =>
      val pow3 = (0 until i).foldLeft(1L)((a, _) => a * 3)
      // (min corpus rows, tables, bits)
      (8192L << (2 * i), ((6L * pow3 + (1L << i >> 1)) >> i).toInt, 8 + 2 * i)
    }
  private[graft] def lshParams(n: Long): (Int, Int) =
    LshSteps.foldLeft((TABLES, BITS)) {
      case (acc, (thr, pt, pb)) => if (n >= thr) (pt, pb) else acc
    }

  // ---- Hot-bucket postings cap (round 14). The ladder holds EXPECTED
  // occupancy ~flat (n/2^bits ≈ 31→39 along the rungs), but measured
  // candidates-per-query still grew ~10.7× across 20× corpus growth
  // (SIMILARITY_SCALE_r13.json: 192→2,063) — bucket SKEW, not mean
  // occupancy: embedding corpora concentrate direction mass, so a few
  // buckets hold orders of magnitude more postings than the mean, and a
  // query landing there pays the whole bucket. The dedup family's
  // `maxDf` answer applies: cap CORPUS postings per (table, bucket) at a
  // multiple of expected occupancy — only the skew tail is truncated
  // (a uniform bucket never reaches 8× its expectation), and with
  // multiple independent tables a truncated-away true neighbor usually
  // survives in another table (recall cost per rung recorded in
  // `SIMILARITY_SCALE_r*.json` / BASELINE.md). The kept subset is a
  // DETERMINISTIC pseudo-random sample — ranked by the same knuth-hash
  // the dedup audit sampler uses, never by raw vec_id (ids correlate
  // with ingest order; hash rank keeps the cap unbiased) — so the
  // DuckDB oracle rebuilds the identical subset. Active only at/above
  // the first ladder rung: every driver SF (≤2k vectors) is below it,
  // so gated hashes sit on the uncapped base rung, and the QUERY side
  // is never capped (a query always probes its own buckets).
  //
  // Mult choice is MEASURED (BASELINE.md "Hot-bucket postings caps",
  // round 14; 40k-vector rung (9,10), bucket
  // sizes mean 41 / p99 591 / max 1269): deeper caps trade recall for
  // volume near-linearly — mult 8 cut candidates/query 43% but
  // multiprobe recall 0.545→0.484, mult 4 → 0.425 — because sign-LSH
  // hot buckets CARRY SIGNAL (direction-mass concentration puts true
  // neighbors in crowded signatures; same finding as the r10 E2LSH
  // cap rejection), so a mean-occupancy-scale cap is rejected. Mult 16
  // is the p99-tail trim: worst bucket bounded 1269→624 (the actual
  // 100 TB risk — one pathological signature no longer dominates a
  // probe join), candidates/query −17.6% for multiprobe −0.021
  // (0.545→0.524; the trimmed tail carries ~2× less signal per
  // candidate than average, so the cut is net-positive efficiency).
  private[graft] val LshCapMinRows = 8192L
  private[graft] val LshCapMult = 16L
  private[graft] def lshPostingsCap(n: Long, bits: Int): Option[Long] =
    if (n >= LshCapMinRows) Some(LshCapMult * math.max(1L, n >> bits)) else None

  /** Knuth-hash rank column for deterministic postings sampling — the
    * exact integer chain of [[Dedup.embeddingCosineAudit]]'s sampler
    * (`(id % 1000003) * 2654435761 % 1000003`): modular reduce BEFORE
    * the multiply keeps the product < 2.7e15 at any id, and the oracle
    * SQL reproduces it verbatim. */
  private[graft] def knuthRank(id: Column): Column =
    id % lit(1000003L) * lit(2654435761L) % lit(1000003L)

  /** Corpus bucket postings truncated to `cap` rows per (tbl, bucket),
    * keeping the knuth-hash-ranked prefix (tie-break id). The window
    * partitions on the bucket key itself, so only genuinely hot buckets
    * sort more than ~expected-occupancy rows in one task; at 100 TB the
    * capped relation is what the index stores at rest — downstream
    * probe joins then have a hard per-bucket work bound. `idCol` names
    * the posting id (vec_id here, user_id for the E2LSH profile form). */
  private[graft] def capPostings(buckets: DataFrame, cap: Option[Long],
                                 idCol: String = "vec_id",
                                 keyCols: Seq[String] = Seq("tbl", "bucket")): DataFrame =
    cap match {
      case None => buckets
      case Some(m) =>
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(knuthRank(col(idCol)).asc, col(idCol).asc)
        buckets.withColumn("prn", row_number().over(w))
          .where(col("prn") <= m).drop("prn")
    }
  /** Largest rung's plane demand — the shared pool size. */
  private val LshPoolSize: Int = LshSteps.last._2 * LshSteps.last._3
  private def lcg(x: Long): Long =
    (x * 6364136223846793005L + 1442695040888963407L) & 0x7fffffffffffffffL

  /** Deterministic pseudo-random projection matrix (`nproj` rows ×
    * `dim` cols) of exact rationals k/1000, k ∈ [-1000, 1000] — the
    * shared plane generator for every LSH family in the library (angular
    * sign-LSH here, E2LSH quantized projections in
    * [[EventOps.tsSimilarity]]). Integer-valued so oracle SQL can rebuild
    * the identical doubles from the inlined integer matrix. */
  private[operators] def planeIntMatrix(nproj: Int, dim: Int): Array[Array[Int]] =
    Array.tabulate(nproj) { h =>
      Array.tabulate(dim) { d => (lcg(h.toLong * dim + d + 7) % 2001 - 1000).toInt }
    }

  private[operators] val planeInts: Array[Array[Int]] = planeIntMatrix(LshPoolSize, DIM)
  private[operators] val planes: Array[Array[Double]] =
    planeInts.map(_.map(_ / 1000.0))

  /** LSH-bucketed ANN: candidates share a (table, bucket) signature with
    * the query in any of the 4 tables; exact cosine ranks candidates.
    * Recall depends on neighbor angular gap — cross-checked against
    * [[topkBruteForce]] in SimilaritySpec, and fully oracle-checked: the
    * plane constants are inlined into the oracle SQL, so DuckDB rebuilds
    * the identical signatures. */
  /** Sign-LSH `(vec_id, tbl, bucket)` signatures over a [[vecs]]
    * relation — split out so the scale bench can measure candidate
    * volume directly. Persist when consumed from multiple branches.
    * `keep` carries extra columns through the explode (e.g. `v`/`norm`
    * for a SMALL query side, saving a re-derivation + join) — leave empty
    * for the corpus side, where duplicating vectors ×TABLES would bloat
    * the shuffle. */
  private[graft] def lshBuckets(e: DataFrame, keep: Seq[String] = Nil,
                                tables: Int = TABLES, bits: Int = BITS): DataFrame = {
    require(tables * bits <= planes.length,
      s"plane pool too small for $tables×$bits (have ${planes.length} rows)")
    // One LshBucketIds expression for ALL tables' buckets (r13): the old
    // tables*bits-element array of per-plane dotConst comparisons fused
    // into a whole-stage method that outgrew HotSpot's JIT threshold at
    // the ladder's (6,8) rung and ran interpreted — 4× the wall-clock for
    // 2× the planes on the sf1 corpus. Same bit addressing and dot
    // arithmetic (the oracle SQL rebuilds these buckets), constant-size
    // generated code at any rung.
    import graft.functions.LshBucketIds.lshBucketIds
    e.withColumn("bks", lshBucketIds(col("v"), planes, tables, bits))
      .select(col("vec_id") +: keep.map(col) :+ posexplode(col("bks")): _*)
      .select(col("vec_id") +: keep.map(col) :+ col("pos").cast("int").as("tbl") :+ col("col").as("bucket"): _*)
  }

  /** Query→candidate pairs from an LSH bucket join, carrying the query
    * vector for the downstream exact ranking.
    *
    * The bucket join and the de-dup run on SLIM `(query_id, neighbor_id)`
    * rows; the 64-double query vector joins back AFTER the distinct
    * (r13: carrying qv through the multi-bucket collision rows made the
    * distinct shuffle qv-fat — ~500 bytes/row × every duplicate collision
    * — which dominated sf1 wall-clock; the slim form moves 16 bytes/row
    * and re-attaches vectors once per SURVIVING pair, with AQE free to
    * broadcast the small query relation). */
  private[graft] def lshCandidates(e: DataFrame, buckets: DataFrame,
                                   corpusBuckets: DataFrame): DataFrame = {
    val qb = buckets.join(queriesOf(e), col("vec_id") === col("query_id"))
      .select(col("query_id"), col("tbl"), col("bucket"))
    qb.join(corpusBuckets.select(col("vec_id").as("neighbor_id"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
  }

  /** Corpus-side bucket postings for the registered LSH queries: twin
    * classes collapsed to [[AnnTwinKeep]] ids (slim id-join against the
    * shared signature relation), then the hot-bucket cap. */
  private def lshCorpus(e: DataFrame, buckets: DataFrame, n: Long,
                        pb: Int): DataFrame =
    capPostings(
      buckets.join(collapseTwins(e).select(col("vec_id")), "vec_id"),
      lshPostingsCap(n, pb))

  def topkLsh(s: SparkSession, dir: String): DataFrame = {
    // persisted: consumed by the query side and the corpus side of the join
    val e = vecs(s, dir)
    // ladder rung from the exact corpus count (the count also warms the
    // persisted vecs relation every consumer reuses)
    val n = e.count()
    val (pt, pb) = lshParams(n)
    val buckets = lshBuckets(e, tables = pt, bits = pb).persist()
    rankTopK(lshCandidates(e, buckets, lshCorpus(e, buckets, n, pb)), e, queriesOf(e))
  }

  /** Multi-probe LSH ANN (Lv et al., "Multi-probe LSH", VLDB'07): each
    * query probes its own bucket PLUS the [[BITS]] Hamming-1 neighbor
    * buckets in every table — the classic recall/table-count trade: one
    * bucket flip approximates having ~[[TABLES]]×(1+[[BITS]]) tables
    * without re-hashing the corpus. Only the QUERY side expands (×7 here,
    * and queries are the small side by construction); the corpus keeps
    * the same signatures and the candidate step stays a (table, bucket)
    * equi-join — the property that makes LSH shuffle-friendly at 100 TB.
    * Exact cosine ranks candidates, so output quality is recall-bounded
    * only; measured recall@5 and candidate volume vs the single-probe
    * form are recorded in `SIMILARITY_SCALE_r*.json` (BASELINE.md). */
  /** Multi-probe candidate generation from prepared query buckets
    * `(query_id, qv, qnorm, tbl, bucket)`: each query probes its own
    * bucket plus the [[BITS]] Hamming-1 flips in every table, then joins
    * corpus signatures on (tbl, bucket). Split out so the streaming
    * serving job ([[graft.streaming.AnnServeStream]]) runs the identical
    * kernel over out-of-corpus query vectors. `excludeSelf` applies the
    * don't-return-yourself rule — REQUIRED when queries are corpus
    * members (the registered query), wrong for serving streams whose ids
    * are unrelated to corpus ids (a numerically colliding id would drop a
    * legitimate neighbor). */
  private[graft] def multiprobeCandidates(qb: DataFrame, corpusBuckets: DataFrame,
                                          excludeSelf: Boolean = true,
                                          bits: Int = BITS): DataFrame = {
    // Same slim-pair shape as [[lshCandidates]] (r13): probe expansion,
    // bucket join and distinct all run on (query_id, neighbor_id) alone —
    // the ×(1+bits) probe fan-out multiplied the old qv-fat rows exactly
    // where volume peaks. Vectors re-attach inside [[rankTopK]] (r17:
    // the neighbor SMJ first, slim; then the broadcast query attach).
    val joined = qb.select(col("query_id"), col("tbl"), col("bucket"))
      .withColumn("flip",
        explode(array((lit(0) +: (0 until bits).map(j => lit(1 << j))): _*)))
      .withColumn("bucket", col("bucket").bitwiseXOR(col("flip")))
      .join(corpusBuckets.select(col("vec_id").as("neighbor_id"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
    (if (excludeSelf) joined.where(col("neighbor_id") =!= col("query_id")) else joined)
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
  }

  /** Exact-cosine ranking of SLIM `(query_id, neighbor_id)` candidates
    * against the corpus vector relation `e`, with the query vectors
    * supplied separately as `q(query_id, qv, qnorm)`: top-`k` per query
    * on the rounded score (tie-break neighbor_id — see
    * [[topkBruteForce]]).
    *
    * JOIN ORDER IS THE SCALE CONTRACT (r17, found by the 1M-vector rung):
    * the neighbor attach is the big join — its sort-merge sorts one row
    * per candidate pair — so it runs FIRST, on 16-byte slim pairs; the
    * query vectors re-attach AFTERWARD via an explicit broadcast (the
    * query set is the small side by construction at every rung, ~11 MB
    * at 1M vectors). The pre-r17 shape attached qv/qnorm BEFORE the
    * neighbor join, so the SMJ sorted a 64-double payload on every
    * candidate row — at 1M vectors that sorted ~550 B × ~4×10⁸ rows and
    * exhausted an 80 GB disk in shuffle spill. Vectors are projected
    * away again before the window, so the top-k sort is slim too.
    * Scores, rounding and ordering are unchanged — the r16 oracle hashes
    * hold bit-for-bit. */
  private[graft] def rankTopK(cand: DataFrame, e: DataFrame, q: DataFrame,
                              k: Int = K): DataFrame = {
    val byQuery = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    cand.select(col("query_id"), col("neighbor_id"))
      .join(e.select(col("vec_id").as("neighbor_id"),
                     col("v").as("nv"), col("norm").as("nnorm")),
            "neighbor_id")
      .join(broadcast(q.select(col("query_id"), col("qv"), col("qnorm"))),
            "query_id")
      .withColumn("dot", vectorDot(col("qv"), col("nv")))
      .withColumn("score", round(col("dot") / (col("qnorm") * col("nnorm")), 6))
      .select(col("query_id"), col("neighbor_id"), col("score"))
      .withColumn("rnk", row_number().over(byQuery))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("score"))
      .orderBy(col("query_id"), col("rnk"))
  }

  def topkLshMultiprobe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir)
    val n = e.count()
    val (pt, pb) = lshParams(n)
    val buckets = lshBuckets(e, tables = pt, bits = pb).persist()
    val qb = buckets.join(queriesOf(e), $"vec_id" === $"query_id")
      .select($"query_id", $"qv", $"qnorm", $"tbl", $"bucket")
    rankTopK(multiprobeCandidates(qb, lshCorpus(e, buckets, n, pb), bits = pb),
      e, queriesOf(e))
  }

  // ---- Query-directed (ranked) multi-probe (round 15) — the probing
  // SEQUENCE half of Lv et al., "Multi-probe LSH" (VLDB'07); the r11
  // sim_ann_multiprobe above ships the perturbation-SET half (all
  // Hamming-1 flips). All-flips probing costs tables × (1 + bits)
  // buckets per query — 182 at the ladder's 14×12 top rung, the
  // "multiprobe batch contract" the r14 verdict called out — and the
  // cost GROWS with the signature ladder because bits ride the corpus.
  // Ranked probing spends a FIXED budget of extra probes on the bit
  // flips most likely to recover a near neighbor: the ones whose
  // projection |v·p| lands closest to the hyperplane (sign-LSH collision
  // geometry, Charikar'02 — a near pair's signatures differ exactly in
  // the bits whose projection is near zero). Probes per query are
  // pt · (1 + [[LshRankedProbeMult]]) at EVERY rung — decoupled from
  // bits — and the probe set is by construction a SUBSET of the
  // all-flips set (SimilaritySpec pins both properties; recall per rung
  // is in BASELINE.md "Ranked (query-directed) multi-probe"). Margins rank on
  // round(|dot|, 6) with (tbl, bit) tie-breaks — the round-before-rank
  // determinism convention — and the DuckDB oracle rebuilds the same
  // margins from the inlined integer plane matrix.
  private[graft] val LshRankedProbeMult = 2

  /** The ranked flip list for a `(query_id, qv, qnorm)` relation: the
    * `budget` (tbl, single-bit flip mask) pairs with the smallest
    * projection margins, per query. One [[graft.functions.PlaneDots]]
    * expression computes all pt·pb margins in a constant-size generated
    * loop (the JIT-threshold lesson). */
  private[graft] def rankedFlips(q: DataFrame, pt: Int, pb: Int,
                                 budget: Int): DataFrame = {
    import graft.functions.PlaneDots.planeDots
    val byQ = Window.partitionBy(col("query_id"))
      .orderBy(col("m").asc, col("tbl").asc, col("j").asc)
    q.withColumn("ds", planeDots(col("qv"), planes.take(pt * pb)))
      .select(col("query_id"), posexplode(col("ds")))
      .select(col("query_id"), expr(s"pos div $pb").cast("int").as("tbl"),
        (col("pos") % pb).cast("int").as("j"),
        round(abs(col("col")), 6).as("m"))
      .withColumn("pr", row_number().over(byQ))
      .where(col("pr") <= budget)
      .select(col("query_id"), col("tbl"),
        expr("shiftleft(CAST(1 AS BIGINT), j)").as("flip"))
  }

  def topkLshMultiprobeRanked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir)
    val n = e.count()
    val (pt, pb) = lshParams(n)
    val buckets = lshBuckets(e, tables = pt, bits = pb).persist()
    val corpus = lshCorpus(e, buckets, n, pb)
    val q = queriesOf(e)
    val qb = buckets.join(q, $"vec_id" === $"query_id")
      .select($"query_id", $"tbl", $"bucket")
    val flipped = qb.join(rankedFlips(q, pt, pb, LshRankedProbeMult * pt),
        Seq("query_id", "tbl"))
      .select($"query_id", $"tbl", $"bucket".bitwiseXOR($"flip").as("bucket"))
    // slim probe → bucket join → distinct pairs (the r13 slim-pair shape
    // shared with [[multiprobeCandidates]]; vectors attach in rankTopK)
    val cand = qb.unionByName(flipped)
      .join(corpus.select($"vec_id".as("neighbor_id"), $"tbl", $"bucket"),
        Seq("tbl", "bucket"))
      .where($"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id")
      .distinct()
    rankTopK(cand, e, q)
  }

  /** documents ⋈ embeddings (doc_id = vec_id): the metadata-to-vector
    * join every embedding pipeline runs, aggregated per label cluster.
    * Both tables hash-partition on the shared id — at 100 TB this is THE
    * candidate for co-bucketing both tables on the id at rest, turning
    * the shuffle into a zip. avg is a single division over an exact
    * integer sum, so round(…, 6) is engine-stable. */
  def labelProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir).select($"doc_id", $"n_chars", $"lang")
    val e = Tables.embeddings(s, dir).select($"vec_id", $"label")
    d.join(e, $"doc_id" === $"vec_id")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_docs"),
           round(avg($"n_chars"), 6).as("avg_chars"),
           countDistinct($"lang").as("n_langs"))
      .orderBy($"label")
  }

  private[graft] val SemThreshold = 0.4

  /** SemDeDup (semantic dedup à la Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", 2023):
    * cluster the embedding corpus, then prune high-cosine pairs WITHIN
    * each cluster — keep the lower vec_id, drop the higher. Clustering
    * reuses the IVF cell assignment, so the quadratic pair term is
    * bounded per cell instead of per corpus: at 100 TB the corpus is
    * assigned in one scan against broadcast centroids, pairs shuffle by
    * cell, and no all-pairs join ever forms. Cross-cell near-dups are
    * deliberately traded away (the SemDeDup approximation);
    * SimilaritySpec pins this as a subset of the brute-force
    * [[Dedup.embeddingCosine]] pairs at the same threshold. */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir)
    // count() is one metadata-cheap job; the ladder keeps cell size
    // bounded as the corpus grows, and past [[SemTrainedMinRows]] the
    // centroids are TRAINED (see [[semPlan]]).
    val slim = semAssign(e, semCentroids(e, e.count()))
    val assign = slim.join(e, "vec_id")
    assign.as("a").join(assign.as("b"),
        $"a.cid" === $"b.cid" && $"a.vec_id" < $"b.vec_id")
      .withColumn("score",
        round(vectorDot($"a.v", $"b.v") / ($"a.norm" * $"b.norm"), 6))
      .where($"score" >= SemThreshold)
      .select($"a.cid".as("cell"), $"a.vec_id".as("keep_id"),
              $"b.vec_id".as("drop_id"), $"score")
      .orderBy($"keep_id", $"drop_id")
  }

  /** Per-vector int8 scalar quantization — the memory lever of
    * billion-vector ANN (fp32 → uint8 codes = 4× smaller corpus, the
    * format FAISS SQ8 / most vector stores serve from): per vector,
    * min-max range → 255 equal steps → `floor` codes, plus the
    * reconstruction the scorer would use and its mean absolute error.
    * Everything is a per-row map over the array (codegen'd higher-order
    * functions, no shuffle but the presentation sort), and every step is
    * IEEE-deterministic double arithmetic with an identical fold order in
    * the DuckDB oracle, so codes AND error are bit-exact across engines.
    * Degenerate constant vectors (hi == lo) get code 0 everywhere by the
    * same CASE in both engines. */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .withColumn("v", $"embedding".cast("array<double>"))
      .withColumn("lo", array_min($"v"))
      .withColumn("hi", array_max($"v"))
      .withColumn("codes", expr(
        """transform(v, x -> CAST(CASE WHEN hi > lo
          |  THEN floor((x - lo) * 255.0 / (hi - lo)) ELSE 0 END AS INT))""".stripMargin))
      .withColumn("err", expr(
        """aggregate(zip_with(v, codes, (x, q) ->
          |            abs(x - (lo + CAST(q AS DOUBLE) * (hi - lo) / 255.0))),
          |          CAST(0 AS DOUBLE), (acc, d) -> acc + d)""".stripMargin) / size($"v"))
      .select(
        $"vec_id",
        round($"lo", 6).as("lo"),
        round($"hi", 6).as("hi"),
        expr("aggregate(codes, 0, (a, q) -> a + q)").as("code_sum"),
        round($"err", 6).as("mean_abs_err"))
      .orderBy($"vec_id")
  }

  private val RrfC = 60    // standard RRF damping constant
  private val LegK = 100   // candidates taken from each retrieval leg
  private val FusedK = 20  // final fused result size

  /** Hybrid retrieval with reciprocal-rank fusion (RRF): a dense leg
    * (cosine against the query vector, vec_id 0) and a lexical leg (term
    * frequency of the query terms over `documents`, which shares the
    * 0..N id space with `embeddings`) each produce a top-100 ranking;
    * fusion scores every candidate `Σ 1/(60 + rank)` over the legs it
    * appears in and returns the fused top-20. Rank fusion needs no score
    * calibration between legs — only ranks cross the boundary — which is
    * why RRF is the default hybrid combiner in Elasticsearch/Vespa-class
    * engines.
    *
    * Scale: each leg is an independent top-k (per-leg TakeOrdered heaps,
    * corpus never shuffles; the dense leg is one broadcast-query scan
    * like [[topkBruteForce]], the lexical leg a codegen'd filter+count
    * per doc). The fusion itself joins two k-row lists — driver-trivial
    * at any corpus size; legs can be swapped for their ANN / inverted-
    * index variants without touching the fusion. */
  /** Top-k leg ranking without a global window: `orderBy().limit(k)`
    * plans as TakeOrderedAndProject (per-partition heaps, driver merge of
    * k-row heads — no full sort, no single-partition shuffle of the
    * corpus); `row_number` then runs over the ALREADY k-row result, so
    * its unpartitioned window is bounded at LegK rows at any corpus
    * size. */
  private def rankLeg(scored: DataFrame, rankCol: String): DataFrame =
    scored.orderBy(col("score").desc, col("id").asc).limit(LegK)
      .withColumn(rankCol,
        row_number().over(Window.orderBy(col("score").desc, col("id").asc)))
      .select(col("id"), col(rankCol))

  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir)
    val q = broadcast(e.filter($"vec_id" === 0)
      .select($"v".as("qv"), $"norm".as("qnorm")))
    val vecLeg = rankLeg(
      e.filter($"vec_id" =!= 0).crossJoin(q)
        .select($"vec_id".as("id"),
          round(vectorDot($"v", $"qv") / ($"norm" * $"qnorm"), 6).as("score")),
      "vrank")
    val lexLeg = rankLeg(
      Tables.documents(s, dir)
        .select($"doc_id".as("id"),
          round(size(expr("filter(split(text, ' '), t -> t = 'spark' OR t = 'join')"))
            / size(split($"text", " ")), 6).as("score")),
      "lrank")
    vecLeg.join(lexLeg, Seq("id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RrfC) + $"vrank"), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfC) + $"lrank"), lit(0.0)), 6))
      .withColumn("rnk", row_number().over(Window.orderBy($"rrf".desc, $"id".asc)))
      .where($"rnk" <= FusedK)
      .select($"id", $"vrank", $"lrank", $"rrf", $"rnk")
      .orderBy($"rnk")
  }

  private val RpDim = 16 // projected dimensionality (64 → 16)

  /** ±1 sign matrix for the Johnson-Lindenstrauss projection: row j is
    * output coordinate j's signs over the 64 input dims. Sign entries
    * (not Gaussians) keep every product v_i·s_ji exact in binary, and
    * the 1/√16 = 1/4 normalizer is a power of two — the whole projection
    * is float-exact given the input, so the oracle reproduces it
    * bit-for-bit. The sign is the POPCOUNT PARITY of the LCG's high 32
    * bits, not a single output bit: an LCG's low bit is pure input
    * parity (every row would be identical — a rank-1 "projection") and
    * even single high bits stay correlated across the row-major seeds;
    * the parity fold mixes all of them (measured max inter-row
    * correlation 0.31 ≈ the 2.5/√64 random-matrix expectation). */
  private[graft] val rpSigns: Array[Array[Int]] =
    Array.tabulate(RpDim) { j =>
      Array.tabulate(DIM) { d =>
        val h = lcg(j.toLong * DIM + d + 131L) >>> 32
        if (java.lang.Long.bitCount(h) % 2 == 0) 1 else -1
      }
    }

  /** Random-projection dimensionality reduction (Achlioptas-style sign
    * JL): 64-dim embeddings → 16 dims via a fixed ±1/√16 matrix, with a
    * per-vector norm-distortion audit (‖p‖²/‖v‖² — unit mean in
    * expectation, measured concentrated in [0.23, 2.23] on this corpus;
    * the audit column is what a pipeline checks before trusting the
    * reduced vectors). This is the cheap preprocessing step before
    * coarse
    * clustering / dedup at 100 TB: 4× narrower vectors for every
    * downstream shuffle, at a distortion this query measures rather than
    * assumes.
    *
    * Scale: one corpus scan, 16 codegen'd [[ConstVectorDot]] projections
    * per row, no shuffle but the presentation sort. The sign matrix is a
    * plan literal (any real d'·d matrix small enough to inline stays
    * one; larger ones broadcast). */
  def randProject(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir)
    val proj = array((0 until RpDim).map { j =>
      dotConst($"v", rpSigns(j).map(_.toDouble)) / 4.0d
    }: _*)
    e.withColumn("p", proj)
      .select(
        $"vec_id",
        round(vectorDot($"v", $"v"), 6).as("orig_sq"),
        round(vectorDot($"p", $"p"), 6).as("proj_sq"),
        round(vectorDot($"p", $"p") / vectorDot($"v", $"v"), 6).as("distortion"))
      .orderBy($"vec_id")
  }

  private[graft] val PqBlocks = 8 // subvectors per vector
  private[graft] val PqSub = DIM / PqBlocks // dims per subvector (8)
  private val PqShortlist = 200 // ADC shortlist size before exact rerank
  private[graft] val PqLloydIters = 2 // Lloyd refinement steps per sub-codebook
  // Quantizer TRAINING BOUND: Lloyd refinement reads at most the first
  // 2¹⁶ vectors (deterministic id prefix) — the FAISS convention made
  // real: k-means quality saturates on a bounded sample, so at 10⁹ rows
  // training cost is FIXED while encoding still covers every vector.
  // Below the cap (all bench SFs) training sees the full corpus, so
  // recall is identical to unbounded training; a fractional sample was
  // measured instead and REJECTED at these corpus sizes (25% sample:
  // ivfpq recall@5 0.79 → 0.675 — per-cell training points got too
  // thin; a fixed CAP only ever binds when cells are training-rich).
  private val TrainCap = 65536
  private def trainSample(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < TrainCap)

  /** Fixed-point scale for deterministic k-means centroid updates:
    * `floor(x · 2³⁰)` is EXACT for any double x (power-of-two product +
    * floor never round), so per-cluster component sums are exact
    * order-independent BIGINT arithmetic in BOTH engines — the one
    * operation where a plain double sum() would be partition-order- and
    * engine-dependent and silently desynchronize the oracle. The mean is
    * then two IEEE divisions of identical operands ((S/2³⁰)/n),
    * correctly rounded identically everywhere. 2³⁰ keeps |Σ| < 2⁶³ up
    * to ~10⁹ training rows at |x|≤8 (this corpus: |x|<0.6) — and in
    * production the codebook trains on a bounded sample anyway (the
    * FAISS convention), so the scale never binds. */
  private[graft] val PqScale = (1L << 30).toDouble

  /** [[trainSample]] collected to the driver: the input of both
    * quantizer trainings, collected once per index build. */
  private def trainRows(e: DataFrame): TrainRows = {
    val withNorm = e.columns.contains("norm")
    val rows = trainSample(e)
      .select(Seq(col("vec_id"), col("v")) ++ (if (withNorm) Seq(col("norm")) else Nil): _*)
      .collect()
    new TrainRows(rows.map(_.getLong(0)),
      rows.map(r => if (r.isNullAt(1)) null
        else r.getSeq[Any](1).map { case d: Double => d; case _ => 0.0 }.toArray),
      rows.map(r => if (withNorm && !r.isNullAt(2)) r.getDouble(2) else Double.NaN))
  }

  private def ivfCentroidsOf(s: SparkSession, rows: TrainRows,
                             cells: Int): DataFrame = {
    require(cells <= TrainCap)
    // Spark's `norm > 0`: NaN sorts greatest, a null norm filters out
    val seeds = rows.ids.indices.filter(i => rows.ids(i) < cells &&
      rows.v(i) != null && java.lang.Double.compare(rows.norm(i), 0.0) > 0)
      .sortBy(rows.ids(_)).toArray
    val (cent, cnorm) = Lloyd.train(rows, seeds, 0, DIM, spherical = true)
    import s.implicits._
    broadcast(s.createDataset(seeds.indices.map(c =>
      (rows.ids(seeds(c)), cent(c).toSeq, cnorm(c)))).toDF("cid", "cv", "cnorm"))
  }

  private def pqCodebookOf(s: SparkSession, rows: TrainRows,
                           ncent: Int): DataFrame = {
    require(ncent <= TrainCap)
    val seeds = rows.ids.indices.filter(rows.ids(_) < ncent).sortBy(rows.ids(_)).toArray
    val blocks = (0 until PqBlocks).map(b =>
      Lloyd.train(rows, seeds, b * PqSub, PqSub, spherical = false)._1)
    import s.implicits._
    // (cid, cv): the 8 block centroids concatenated in block order
    broadcast(s.createDataset(seeds.indices.map(c =>
      (rows.ids(seeds(c)), blocks.flatMap(_(c)).toSeq))).toDF("cid", "cv"))
  }

  /** The REFINED PQ codebook `(cid, cv)`: block b's `ncent`-entry
    * sub-codebook starts as the b-th 8-dim slice of the first `ncent`
    * corpus vectors (the sample-as-codebook convention of [[centroidsOf]])
    * and is then improved by [[PqLloydIters]] deterministic Lloyd steps —
    * assign each block slice to its nearest centroid (score
    * `round(‖c‖² − 2·x·c, 6)`, lowest-cid ties), recompute each centroid
    * as the exact scaled-integer mean of its members ([[PqScale]]), empty
    * clusters keep their previous centroid. Measured at sf0.1: mean
    * ‖v−recon‖² 0.775 → 0.605 and serve recall@5 at R=200 0.68 → 0.82 vs
    * the unrefined donors.
    *
    * Everything is data-derived and fp-deterministic, so the DuckDB
    * oracle retrains the SAME codebook bit-for-bit from the table
    * ([[pqCodesCte]]).
    *
    * Scale: training reads the [[TrainCap]]-bounded sample, collected to
    * the driver once ([[trainRows]]; at most 65,536 × 64 doubles, 32 MB),
    * and the 8 blocks train there in plain arrays ([[Lloyd]]): one Spark
    * job at any corpus size. The result is a ≤ 512-row local broadcast
    * relation. */
  private[graft] def pqCodebook(e: DataFrame, ncent: Int = NCENT): DataFrame =
    pqCodebookOf(e.sparkSession, trainRows(e), ncent)

  /** Adds the 8 per-block scores `s_b = ‖c_b‖² − 2·(x_b · c_b)` to a
    * (row × donor) pair frame — the rank-equivalent of the block squared
    * distance (the ‖x_b‖² term is constant across candidates), so
    * everything stays in codegen'd slice + [[VectorDot]] folds. `vcol`
    * names the row's vector column (`v` for the corpus, `qv` for
    * queries). */
  private def pqScores(pairs: DataFrame, vcol: String): DataFrame =
    (0 until PqBlocks).foldLeft(pairs) { (df, b) =>
      val xs = slice(col(vcol), b * PqSub + 1, PqSub)
      val cs = slice(col("cv"), b * PqSub + 1, PqSub)
      df.withColumn(s"s$b", vectorDot(cs, cs) - lit(2.0) * vectorDot(xs, cs))
    }

  /** Per-query ADC lookup tables as cid-keyed MAPS: `(query_id, qq,
    * lut0..lut7)` where `lut_b[c] = s_b(q, c)` is block b's score
    * against codebook entry c (keyed by cid VALUE, not position — a
    * corpus whose donor ids are sparse, e.g. the even-ids streaming
    * spec, has non-dense cids). ONE broadcast join attaches all 8 LUTs
    * to the candidate stream, and the ADC sum is 8 codegen'd
    * `element_at` map lookups over 16-entry maps — where a per-(block,
    * code) LUT relation costs 8 broadcast-join probes per candidate
    * row (the shape profiled ~2× slower at sf0.1). */
  private def pqLutArrays(q: DataFrame, cbk: DataFrame): DataFrame = {
    val lut = pqScores(q.select(col("query_id"), col("qv")).crossJoin(cbk), "qv")
    val aggs = (0 until PqBlocks).map { b =>
      map_from_entries(array_sort(collect_list(struct(col("cid").as("cid"),
        col(s"s$b").as("s"))))).as(s"lut$b")
    }
    lut.groupBy(col("query_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The ADC estimate `qq + Σ_b lut_b[code_b]` in the fixed left-to-right
    * block order (the term order both engines' oracles reproduce). */
  private def adcLookupSum: org.apache.spark.sql.Column =
    (0 until PqBlocks).foldLeft(col("qq")) { (acc, b) =>
      acc + element_at(col(s"lut$b"), col(s"code$b"))
    }

  /** `(vec_id, m0..m7)` where `m_b = struct(sc, c)` is block b's argmin
    * (score, centroid id) — one broadcast crossJoin against the 16-row
    * codebook and ONE partially-aggregated groupBy: the lexicographic
    * struct-min combines map-side, so only one row per vector reaches
    * the shuffle, and ties break to the lowest cid in both engines.
    * Takes the codebook as a parameter so callers that also need it for
    * the query LUT ([[topkPqAdc]], [[topkIvfPq]]) train it ONCE.
    *
    * `extra` aggregates ride in the SAME groupBy (r22): a per-vector
    * column constant within the group (e.g. ‖v‖², identical on every
    * crossJoin copy of the row) comes out of the one assignment
    * aggregation via `min`, instead of a corpus-keyed re-join with the
    * vectors relation afterwards — one corpus shuffle instead of two. */
  private def pqAssign(e: DataFrame, cbk: DataFrame,
                       extra: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val scored = pqScores(e.crossJoin(cbk), "v")
    val aggs = (0 until PqBlocks).map { b =>
      min(struct(col(s"s$b").as("sc"), col("cid").as("c"))).as(s"m$b")
    } ++ extra
    scored.groupBy(col("vec_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Product quantization (PQ) encoding — THE memory-bound storage for
    * billion-vector ANN (IVF-PQ): each 64-dim vector splits into 8
    * 8-dim blocks, each assigned its nearest sub-codebook entry; the
    * vector is then 8 small codes (8 bytes at a 16-entry codebook vs
    * 512 bytes of doubles). Emits the codes plus the exact squared
    * reconstruction error ‖v − recon(v)‖², recovered as
    * ‖v‖² + Σ_b s_b without ever materializing difference vectors.
    *
    * Scale: codebook training is [[pqCodebook]]'s bounded job; encoding
    * scans the corpus once against the 16-row broadcast codebook; the
    * struct-min aggregation combines map-side so the single shuffle
    * carries one row per vector. The emitted codes are the storage
    * columns [[topkPqAdc]] serves from. */
  def pqCodes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir)
    val codeCols = (0 until PqBlocks).map(b => col(s"m$b.c").as(s"code$b"))
    // ‖v‖² rides through the assignment aggregation itself (r22): it is
    // computed once per corpus row BELOW the codebook crossJoin (constant
    // across a vector's ks copies, so min() returns the identical IEEE
    // double the former post-join projection evaluated) — which deletes
    // the corpus-keyed re-join with e that existed only to fetch v back.
    // Plan diff: BroadcastHashJoin + BroadcastExchange over the corpus
    // gone; one corpus-sized aggregation shuffle remains.
    val err = (0 until PqBlocks).foldLeft(col("vv")) {
      (acc, b) => acc + col(s"m$b.sc")
    }
    // + 0.0 canonicalizes the zero sign: exactly-reconstructed vectors
    // (a vector that IS a centroid) can round to -0.0 in one engine and
    // +0.0 in the other — value-equal but byte-different, which fails
    // the driver's row hash.
    pqAssign(e.withColumn("vv", vectorDot($"v", $"v")),
        pqCodebook(e, pqKsFor(e.count())),
        extra = Seq(min($"vv").as("vv")))
      .select($"vec_id" +: codeCols :+ (round(err, 6) + lit(0.0)).as("err_sq"): _*)
      .orderBy($"vec_id")
  }

  /** PQ asymmetric-distance top-k — how IVF-PQ engines actually SERVE:
    * each query precomputes its 8×16 lookup table
    * `lut(b, c) = ‖c_b‖² − 2·(q_b · c_b)` (128 8-dim dots per QUERY,
    * once, on the broadcast side); every candidate is then ADC-scored
    * from its 8 PQ CODES alone — `‖q‖² + Σ_b lut(b, code_b)` =
    * ‖q − recon(x)‖², the distance to the candidate's quantized
    * reconstruction — and the ADC top-[[PqShortlist]] shortlist is
    * re-ranked by EXACT cosine (the FAISS two-stage serving pipeline).
    * Output schema matches [[topkBruteForce]], so recall is a direct
    * set comparison. Recall is governed by the shortlist fraction R/n
    * and the codebook quality — with the [[pqCodebook]]-refined
    * codebook, measured @5: 0.94 at sf0.01 (R/n 40%) and 0.82 at sf0.1
    * (R/n 10%; 0.68 before refinement), the highest-recall approximate
    * path in the library at the bench SF (multiprobe LSH 0.62); the
    * full R-sweep is in BASELINE.md.
    *
    * Scale: the ADC stage joins per-query LUT rows to candidates on
    * (query, code) — the candidate payload is 8 small codes, not 64
    * doubles (~64× less candidate traffic than brute force; in
    * production the codes are the STORED columns and the scan reads
    * ~8 bytes/vector). Only the R×queries shortlist rows ever fetch
    * real vectors for the exact re-rank — the gather pattern of
    * serving. R governs the recall/traffic trade and scales with k,
    * not the corpus. */
  def topkPqAdc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir)
    // ks rides the corpus ladder (one count job over the persisted vecs)
    val cbk = pqCodebook(e, pqKsFor(e.count()))
    val codes = pqAssign(e, cbk).select(
      col("vec_id").as("neighbor_id") +:
        (0 until PqBlocks).map(b => col(s"m$b.c").as(s"code$b")): _*)
    val q = queriesOf(e).withColumn("qq", vectorDot($"qv", $"qv"))
    val qluts = pqLutArrays(q, cbk).join(q.select($"query_id", $"qq"), "query_id")
    val cand = codes.crossJoin(broadcast(qluts))
      .where($"neighbor_id" =!= $"query_id")
    val shortW = Window.partitionBy($"query_id")
      .orderBy($"adc".asc, $"neighbor_id".asc)
    val short = cand.withColumn("adc", round(adcLookupSum, 6))
      .withColumn("srnk", row_number().over(shortW))
      .where($"srnk" <= PqShortlist)
      .select($"query_id", $"neighbor_id")
    val byQuery = Window.partitionBy($"query_id")
      .orderBy($"score".desc, $"neighbor_id".asc)
    short
      .join(e.select($"vec_id".as("neighbor_id"), $"v".as("nv"), $"norm".as("nnorm")),
        "neighbor_id")
      .join(broadcast(q.select($"query_id", $"qv", $"qnorm")), "query_id")
      .withColumn("score", round(vectorDot($"qv", $"nv") / ($"qnorm" * $"nnorm"), 6))
      .withColumn("rnk", row_number().over(byQuery))
      .where($"rnk" <= K)
      .select($"query_id", $"neighbor_id", $"rnk", $"score")
      .orderBy($"query_id", $"rnk")
  }

  private[graft] val IvfPqCells = 64 // ≈ √n cells, the production IVF sizing
  private[graft] val IvfPqProbe = 24 // cells probed per query (37.5% of cells)
  private val IvfPqShortlist = 300 // base-rung ADC shortlist before exact rerank

  // ---- Exact-rerank shortlist ladder (r19, VERDICT r18 #4). The r18
  // sweep found recall@5 falling 0.79 → 0.344 → 0.201 across 2k → 132k →
  // 1M vectors with R pinned at 300 while every other constant rode a
  // ladder. The r19 R-sweep (BASELINE.md, "IVF×PQ rerank shortlist")
  // measured recall vs R at the 132k rung (0.344/0.438/0.527/0.597/0.637
  // at R = 300/600/1200/2400/4800) and the 1M rung
  // (0.201/0.276/0.359/0.438/0.514) with serve wall FLAT in R at both —
  // the ADC scan, not the R×queries exact rerank, dominates the serve
  // cost, so doubling R per corpus quadrupling is close to free. Rungs
  // share [[IvfPqSteps]]' thresholds (8192·4^i) with R = 300·2^(i+1):
  // 132k lands on R=2400 (the measured knee: +73% recall at ~equal
  // wall), 1M on R=4800 (2.56× the pinned-300 recall). Integer
  // thresholds on the exact corpus count, mirrored in the oracle's iprm
  // CASE; every driver SF is below the first rung, so gated hashes are
  // unchanged. Scale shape: R rows/query × ~16 B through the rerank
  // join — at R=4800 and 20k queries that is ~10⁸ slim rows, the same
  // order as one probe's ADC stream.
  private[graft] val IvfPqRSteps: Seq[(Long, Int)] =
    (0 until AnnLadderRungs).map { i => (8192L << (2 * i), 300 << (i + 1)) }
  private[graft] def ivfPqShortlistFor(n: Long): Int =
    IvfPqRSteps.foldLeft(IvfPqShortlist) {
      case (acc, (thr, r)) => if (n >= thr) r else acc
    }

  // ---- Corpus-adaptive IVF cell-count ladder (round 14) — the semCells /
  // lshParams pattern applied to the recommended-at-scale ANN route. At
  // FIXED (cells, nprobe) the per-query code scan is a constant FRACTION
  // (nprobe/cells = 37.5%) of a growing code table — a soft linear term
  // per query that the IVF cell ladder exists to cut (VERDICT r13 #1).
  // Cells grow ~√n (the FAISS sizing: cell occupancy ~√n balances the
  // probe-the-centroids cost against the scan-the-cells cost) while
  // nprobe grows slower, so the scan fraction FALLS with the corpus:
  // 24/64 = 37.5% → 32/128 = 25% → 48/256 = 18.75% → 64/512 = 12.5%.
  // nprobe still RISES in absolute terms (more, smaller cells need more
  // probes for the same recall mass — the Lv'07 observation), and the
  // measured recall per rung is recorded in `SIMILARITY_SCALE_r*.json` /
  // BASELINE.md. Integer thresholds on the exact corpus count (never a
  // libm expression — the [[LshSteps]] / `EventOps.profParams` contract),
  // anchored above every driver SF (sf0.1 = 2,000 vectors) so the gated
  // hashes stay on the r13-tuned (64, 24) base rung. Nothing here touches
  // generated code size: cells are DATA rows (broadcast centroid
  // relations), not expression fan-out, so the LshBucketIds JIT-cliff
  // class does not apply by construction.
  // Closed form (r17, the [[LshSteps]] treatment): threshold 8192·4^i,
  // cells = 128·2^i (~√n). nprobe originally grew 32 + 16i; the r20
  // dial sweep (BASELINE.md "IVF×PQ dials past R") measured that rung
  // recall was COARSE-QUANTIZER-limited — at the 132k rung widening the
  // probe list 64 → 96/128/192 bought recall 0.597 → 0.664/0.696/0.720
  // where quadrupling codebook resolution bought +0.05, and at 1M the
  // 80 → 172 widening plus the ks=64 codebook lifted recall@5 0.514 →
  // 0.734. nprobe now rides ~32·1.75^i (exact integer table — the
  // ladder discipline bans libm at rung definitions): the scan
  // FRACTION nprobe/cells still FALLS along the rungs (0.25 → 0.219 →
  // 0.191 → 0.168 → 0.146 → 0.128), so the per-query scan stays
  // sublinear in the corpus while the probe list grows enough to keep
  // the true neighbor's cell in it.
  private val IvfPqNprobeTable = Seq(32, 56, 98, 172, 300, 525)
  private[graft] val IvfPqSteps: Seq[(Long, Int, Int)] = {
    require(IvfPqNprobeTable.size == AnnLadderRungs)
    (0 until AnnLadderRungs).map { i =>
      // (min corpus rows, cells, nprobe)
      (8192L << (2 * i), 128 << i, IvfPqNprobeTable(i))
    }
  }

  // PQ sub-codebook size ladder (r20, same sweep): 16 entries (4-bit
  // codes) below the trained-scale threshold — every driver SF, hashes
  // unchanged — and 64 entries (6-bit codes) at ≥131,072 vectors, where
  // ADC distortion starts to dominate the shortlist's ranking noise.
  // 256 was measured and NOT taken: +0.007 recall over 64 at the 132k
  // rung — an 8-dim block exhausts its structure near 64 entries.
  // Mirrored in the oracle's kb0 donor CASE ([[pqKsCaseSql]]).
  private[graft] val PqKsSteps: Seq[(Long, Int)] = Seq((131072L, 64))
  private[graft] def pqKsFor(n: Long): Int =
    PqKsSteps.foldLeft(NCENT) { case (acc, (thr, ks)) => if (n >= thr) ks else acc }
  private[graft] def ivfPqParams(n: Long): (Int, Int) =
    IvfPqSteps.foldLeft((IvfPqCells, IvfPqProbe)) {
      case (acc, (thr, c, p)) => if (n >= thr) (c, p) else acc
    }

  /** Spherical-k-means-refined coarse centroids `(cid, cv, cnorm)` for
    * [[topkIvfPq]]: `cells` cells seeded from the first `cells` corpus
    * vectors, then [[PqLloydIters]] deterministic Lloyd steps — assignment
    * by rounded cosine (lowest-cid ties, the [[semAssign]] convention),
    * update by the exact scaled-integer mean ([[PqScale]]); empty cells
    * keep their previous centroid. The mean is NOT renormalized: cosine
    * assignment divides by the centroid norm, so only the direction
    * matters — this is spherical k-means in its division-invariant form,
    * with every number reproducible by the oracle ([[ivfKmCte]]).
    *
    * Zero-norm CENTROIDS cannot arise (ADVICE r15): one would score
    * NaN→1.0 (d = 0) against EVERY vector and capture a whole step's
    * assignment, an edge the two engines order differently. Degenerate
    * seeds are filtered (norm > 0), and a mean that cancels to the zero
    * vector keeps the previous centroid, both mirrored predicate for
    * predicate in [[semKmCte]]/[[ivfKmCte]].
    *
    * Scale: training reads the [[TrainCap]]-bounded sample, collected to
    * the driver once ([[trainRows]]), and runs there in plain arrays
    * ([[Lloyd]]): one Spark job at any corpus size. 64 ≈ √2000 cells at
    * the bench SF mirrors the √n production sizing. */
  private[graft] def ivfPqCentroids(e: DataFrame,
                                    cells: Int = IvfPqCells): DataFrame =
    ivfCentroidsOf(e.sparkSession, trainRows(e), cells)

  /** IVF × PQ — the composed billion-vector serving architecture
    * (IVF-PQ, the FAISS/SPANN family): the [[topkPqAdc]] flat code scan
    * was the one remaining per-query full-corpus pass (VERDICT r9 §wrong
    * 3); here the [[ivfPqCentroids]] coarse quantizer prunes it. Per
    * query: probe the [[IvfPqProbe]] highest-cosine cells, ADC-score
    * ONLY the PQ codes of vectors assigned to those cells, exact-rerank
    * the top-[[IvfPqShortlist]]. Measured at sf0.1: recall@5 0.79
    * scanning 37.5% of the corpus codes (flat refined ADC: 0.82 at
    * 100%; the r9 unrefined flat path: 0.68 at 100%) — the recall cost
    * of pruning is 0.03 for a 2.7× scan cut on THIS corpus, whose
    * distance concentration (VERDICT r9 §wrong 2) makes cells
    * unusually weak; clustered real-world embeddings prune far better.
    *
    * Scale: the cell assignment is the partitioning key of the corpus
    * at rest (cell = parquet partition ⇒ probing IS partition pruning);
    * candidate generation is an equi-join of the tiny probe relation
    * against cell-keyed codes; ADC carries 8 bytes/candidate; only
    * shortlist rows fetch real vectors. No stage touches more than
    * nprobe/cells of the corpus — the flat scan is gone. */
  def topkIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val idx = ivfPqIndex(e)
    ivfPqServe(queriesOf(e), e, idx.cent, idx.postings, idx.cbk,
      nprobe = idx.nprobe, excludeSelf = true, shortlist = idx.shortlist)
  }

  // ---- Index-build / serve split (VERDICT r10 next-round #4). In
  // production the quantizers train ONCE offline and serving reads the
  // stored index tables; [[topkIvfPq]] measures the composed
  // train-inside-the-query form, while the pair below benches the two
  // halves separately: `sim_ivfpq_build` materializes the three index
  // relations (coarse centroids, PQ codebook, and the inverted-list
  // postings — cell assignment WITH the member codes, the corpus
  // partitioning at rest) and `sim_topk_ivfpq_serve`
  // answers the standard query set from the materialized index without
  // retraining — the batch twin of [[graft.streaming.PqServeStream]].

  /** Local materialization root for built indexes. The tag folds in the
    * source file's (mtime, size) so a regenerated corpus can never be
    * served from a stale index — the key property the correctness gate
    * leans on (the serve oracle retrains from the live table) — plus the
    * ladder's cell count, so an index built before a rung change (or by
    * an older library version with a different ladder) is unreachable
    * rather than served with mismatched probe parameters. */
  private def ivfPqIndexPath(dir: String, cells: Int, ks: Int): String = {
    val src = new java.io.File(dir, "embeddings.parquet")
    val safe = new java.io.File(dir).getCanonicalPath
      .replaceAll("[^A-Za-z0-9._-]", "_")
    // ks is part of the tag (ADVICE r20, medium): the r20 PqKsSteps
    // ladder changed the sub-codebook size at ≥131,072 vectors, and an
    // index cached before a codebook-ladder change must be unreachable,
    // not served with a mismatched cbk/codes pair.
    s"/tmp/graft_ivfpq_index/${safe}_${src.lastModified()}_${src.length()}_c${cells}_k$ks"
  }

  private val IndexParts = Seq("cent", "cbk", "postings")

  private def ivfPqIndexReady(path: String): Boolean =
    IndexParts.forall(p => new java.io.File(s"$path/$p/_SUCCESS").exists())

  /** Train both quantizers over the corpus and write the three index
    * relations (`cent`, `cbk`, `postings`) under [[ivfPqIndexPath]].
    * Always retrains (the build query MEASURES training; staleness is
    * handled by the path tag). The writes are independent, so they run
    * as three CONCURRENT driver threads (guide §2.6 — actions are only
    * sequential because the driver calls them sequentially): the tail of
    * one write's job back-fills cores the others free. */
  private def writeIvfPqIndex(s: SparkSession, dir: String): String = {
    val e = vecs(s, dir)
    val idx = ivfPqIndex(e)
    val p = ivfPqIndexPath(dir, idx.cells, idx.ks)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    // The three writes are independent jobs once training finished (cent
    // and cbk are driver-local broadcast relations; postings is the one
    // corpus scan), so they overlap as THREE concurrent actions (r22;
    // guide §2.6) — the two tiny metadata writes do not sit serially
    // ahead of the corpus-sized postings scan.
    val writes = Seq(
      Future { idx.cent.write.mode("overwrite").parquet(s"$p/cent") },
      Future { idx.cbk.write.mode("overwrite").parquet(s"$p/cbk") },
      Future { idx.postings.write.mode("overwrite").parquet(s"$p/postings") })
    writes.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
    p
  }

  /** Build query: train + materialize the index, emit the coarse-index
    * summary — per non-empty cell, its occupancy and rounded centroid
    * norm. Training is fp-deterministic ([[PqScale]]), so the DuckDB
    * oracle retrains the identical cells from the table and the summary
    * is hash-gated like any other query. */
  def ivfPqBuild(s: SparkSession, dir: String): DataFrame = {
    val p = writeIvfPqIndex(s, dir)
    val cent = s.read.parquet(s"$p/cent")
    val postings = s.read.parquet(s"$p/postings")
    postings.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vectors"))
      .join(broadcast(cent.select(col("cid"), round(col("cnorm"), 6).as("cnorm"))), "cid")
      .select(col("cid"), col("n_vectors"), col("cnorm"))
      .orderBy(col("cid"))
  }

  /** Serve query: answer the standard query set from the MATERIALIZED
    * index — no training anywhere in the plan. Falls back to
    * build-and-write when the index is absent (robust to any run
    * order; the bench's sorted order runs `sim_ivfpq_build` first, so
    * the timed serve measures pure serving). Semantics and oracle are
    * identical to [[topkIvfPq]]: same probes, ADC, shortlist, rerank —
    * which IS the claim: a prebuilt index answers the same contract. */
  def topkIvfPqServe(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    // the ladder rung for the LIVE corpus count: the index path folds in
    // `cells`, so a stored index can only ever be served with the probe
    // count its rung was built for
    val n = e.count()
    val (cells, nprobe) = ivfPqParams(n)
    val p = ivfPqIndexPath(dir, cells, pqKsFor(n))
    if (!ivfPqIndexReady(p)) writeIvfPqIndex(s, dir)
    val cent = broadcast(s.read.parquet(s"$p/cent"))
    val cbk = broadcast(s.read.parquet(s"$p/cbk"))
    val postings = s.read.parquet(s"$p/postings")
    ivfPqServe(queriesOf(e), e, cent, postings, cbk,
      nprobe = nprobe, excludeSelf = true, shortlist = ivfPqShortlistFor(n))
  }

  /** The four relations of a prebuilt IVF-PQ serving index over a
    * prepared `(vec_id, v, norm)` corpus: refined coarse centroids,
    * per-vector cell assignment, refined PQ codebook, and the 8-byte
    * PQ codes keyed for candidate joins. At rest these are the stored
    * index tables (assignment = the partitioning of the corpus, codes =
    * the compressed representation); [[graft.streaming.PqServeStream]]
    * persists them once and serves every micro-batch from them. */
  /** A built IVF-PQ index plus the ladder rung it was built at — the
    * rung travels with the index ([[graft.streaming.AnnServeStream]]
    * convention) so serving always probes with the parameters the cells
    * were trained for.
    *
    * r22: the per-vector half of the index is ONE inverted-list
    * relation `postings` = (vec_id, cid, code0..7) — the FAISS layout,
    * where a cell's posting list carries the member codes — instead of
    * the former separate `assign` (vec_id, cid) and `codes`
    * (vec_id, code0..7) relations. The vec_id-keyed merge now happens
    * ONCE at index construction; the serve path's per-query-batch
    * `codes` join (a corpus-keyed shuffle at cluster scale, paid on
    * every trigger by [[graft.streaming.PqServeStream]]) is gone —
    * probing the postings relation yields candidates WITH their codes. */
  private[graft] final case class IvfPqRelations(
    cent: DataFrame, postings: DataFrame, cbk: DataFrame,
    cells: Int, nprobe: Int, shortlist: Int, ks: Int)

  private[graft] def ivfPqIndex(e: DataFrame): IvfPqRelations = {
    // count() is one metadata-cheap job on the persisted vecs relation;
    // the ladder keeps the per-query scan FRACTION falling as the corpus
    // grows (see [[IvfPqSteps]])
    val n = e.count()
    val (cells, nprobe) = ivfPqParams(n)
    // both quantizers train on the driver from ONE collected sample
    val rows = trainRows(e)
    val cent = ivfCentroidsOf(e.sparkSession, rows, cells)
    val cbk = pqCodebookOf(e.sparkSession, rows, pqKsFor(n))
    IvfPqRelations(cent, ivfPqPostings(e, cent, cbk), cbk, cells, nprobe,
      ivfPqShortlistFor(n), pqKsFor(n))
  }

  /** The inverted-list relation `(vec_id, cid, code0..7)`: cell
    * assignment merged with the PQ codes, built once per index (see
    * [[IvfPqRelations]]). */
  private def ivfPqPostings(e: DataFrame, cent: DataFrame,
                            cbk: DataFrame): DataFrame = {
    val codes = pqAssign(e, cbk).select(
      col("vec_id") +:
        (0 until PqBlocks).map(b => col(s"m$b.c").as(s"code$b")): _*)
    cellAssignment(e, cent).select(col("vec_id"), col("cid"))
      .join(codes, "vec_id")
  }

  /** Serve `(query_id, qv, qnorm)` queries from a prebuilt
    * [[ivfPqIndex]]: probe the [[IvfPqProbe]] highest-cosine cells,
    * ADC-score only in-cell codes, exact-rerank the
    * [[IvfPqShortlist]]. `excludeSelf` distinguishes the registered
    * batch query (corpus self-join: a vector is not its own neighbor)
    * from serving (query ids are an unrelated id space — a query that
    * IS in the corpus honestly gets itself back at rank 1, the
    * [[graft.streaming.AnnServeStream]] convention). */
  private[graft] def ivfPqServe(queries0: DataFrame, e: DataFrame,
      cent: DataFrame, postings: DataFrame, cbk: DataFrame,
      k: Int = K, nprobe: Int = IvfPqProbe,
      excludeSelf: Boolean = false,
      shortlist: Int = IvfPqShortlist): DataFrame = {
    val s = queries0.sparkSession
    import s.implicits._
    val q = queries0.withColumn("qq", vectorDot($"qv", $"qv"))
    val probeW = Window.partitionBy($"query_id").orderBy($"qcos".desc, $"cid".asc)
    val probes = q.select($"query_id", $"qv", $"qnorm").join(cent)
      .withColumn("qcos", round(vectorDot($"qv", $"cv") / ($"qnorm" * $"cnorm"), 6))
      .withColumn("prn", row_number().over(probeW))
      .where($"prn" <= nprobe)
      .select($"query_id", $"cid")
    val qluts = pqLutArrays(q, cbk).join(q.select($"query_id", $"qq"), "query_id")
    // r22: candidates come straight out of the inverted-list probe WITH
    // their codes — the former per-serve `codes` join on neighbor_id (a
    // corpus-keyed shuffle at cluster scale, per trigger in streaming
    // serving) moved into the one-time index build ([[ivfPqPostings]]).
    val inCell = broadcast(probes)
      .join(postings.withColumnRenamed("vec_id", "neighbor_id"), "cid")
    val cand = (if (excludeSelf) inCell.where($"neighbor_id" =!= $"query_id")
                else inCell)
      .join(broadcast(qluts), "query_id")
    val shortW = Window.partitionBy($"query_id")
      .orderBy($"adc".asc, $"neighbor_id".asc)
    val short = cand.withColumn("adc", round(adcLookupSum, 6))
      .withColumn("srnk", row_number().over(shortW))
      .where($"srnk" <= shortlist)
      .select($"query_id", $"neighbor_id")
    val byQuery = Window.partitionBy($"query_id")
      .orderBy($"score".desc, $"neighbor_id".asc)
    short
      .join(e.select($"vec_id".as("neighbor_id"), $"v".as("nv"), $"norm".as("nnorm")),
        "neighbor_id")
      .join(broadcast(q.select($"query_id", $"qv", $"qnorm")), "query_id")
      .withColumn("score", round(vectorDot($"qv", $"nv") / ($"qnorm" * $"nnorm"), 6))
      .withColumn("rnk", row_number().over(byQuery))
      .where($"rnk" <= k)
      .select($"query_id", $"neighbor_id", $"rnk", $"score")
      .orderBy($"query_id", $"rnk")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk_bruteforce" -> (topkBruteForce _),
    "sim_rand_project"    -> (randProject _),
    "sim_pq_codes"        -> (pqCodes _),
    "sim_topk_pqadc"      -> (topkPqAdc _),
    "sim_topk_ivfpq"      -> (topkIvfPq _),
    "sim_ivfpq_build"     -> (ivfPqBuild _),
    "sim_topk_ivfpq_serve" -> (topkIvfPqServe _),
    "sim_rrf_fusion"      -> (rrfFusion _),
    "sim_topk_ivf"        -> (topkIvf _),
    "sim_ann_lsh"         -> (topkLsh _),
    "sim_ann_multiprobe"  -> (topkLshMultiprobe _),
    "sim_ann_mp_ranked"   -> (topkLshMultiprobeRanked _),
    "sim_label_profile"   -> (labelProfile _),
    "sim_semdedup"        -> (semDedup _),
    "sim_quantize_int8"   -> (quantizeInt8 _),
  )

  // Shared oracle preamble: vectors as doubles with precomputed norms.
  // Cosine = list_dot_product(a, b) / (nrm_a * nrm_b) is the exact
  // operation sequence of the Spark side (sequential dot, sqrt, multiply,
  // divide — all IEEE-deterministic), so scores are bit-identical before
  // rounding; ranking then runs on round(score, 6) in both engines.
  private val vecCte =
    """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e0)""".stripMargin

  /** The LSH plane matrix as SQL VALUES rows `(h, plane DOUBLE[])` —
    * the full [[LshPoolSize]] pool; each rung's `pt·pb` prefix is
    * selected by the `pl.h < prm.pt * prm.pb` filter in the queries. */
  private def planeSqlValues: String =
    planeInts.zipWithIndex.map { case (row, h) =>
      s"($h, list_transform([${row.mkString(",")}], k -> k / 1000.0))"
    }.mkString(",\n")

  /** The [[lshParams]] ladder as a one-row SQL relation `(pt, pb, cap)`,
    * generated from [[LshSteps]] / [[lshPostingsCap]] so the two engines
    * cannot drift on the rung thresholds OR the hot-bucket cap: `cap` is
    * the same `mult · max(1, n >> bits)` integer arithmetic (NULL below
    * [[LshCapMinRows]], i.e. at every driver SF). */
  private def lshPrmCte: String = {
    val ptCases = LshSteps.reverse.map { case (thr, pt, _) =>
      s"WHEN count(*) >= $thr THEN $pt" }.mkString(" ")
    val pbCases = LshSteps.reverse.map { case (thr, _, pb) =>
      s"WHEN count(*) >= $thr THEN $pb" }.mkString(" ")
    s"""prm0 AS (SELECT count(*) AS n,
       |              CASE $ptCases ELSE $TABLES END AS pt,
       |              CASE $pbCases ELSE $BITS END AS pb FROM e),
       |prm AS (SELECT n, pt, pb,
       |              CASE WHEN n >= $LshCapMinRows
       |                   THEN $LshCapMult * greatest(1, n // (1 << pb))
       |                   ELSE NULL END AS cap
       |        FROM prm0)""".stripMargin
  }

  /** The corpus-side twin collapse as SQL — the [[collapseTwins]]
    * mirror: the [[AnnTwinKeep]] smallest vec_ids per identical-vector
    * class (a no-op wherever vectors are unique, i.e. every driver SF). */
  private def annKeepCte: String =
    s"""akeep AS (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, row_number() OVER (PARTITION BY v
       |        ORDER BY vec_id ASC) AS twin_rank FROM e)
       |  WHERE twin_rank <= $AnnTwinKeep
       |)""".stripMargin

  /** Corpus-side capped postings as SQL — the [[capPostings]] mirror
    * over the twin-collapsed postings ([[annKeepCte]], r15): per
    * (tbl, bucket), keep the `cap` lowest rows by the identical
    * knuth-hash rank (NULL cap keeps all). */
  private def lshCapCte: String =
    s"""$annKeepCte,
      |cb AS (
      |  SELECT vec_id, tbl, bucket FROM (
      |    SELECT b.vec_id, b.tbl, b.bucket, prm.cap,
      |           row_number() OVER (PARTITION BY b.tbl, b.bucket
      |               ORDER BY ((b.vec_id % 1000003) * 2654435761) % 1000003 ASC,
      |                        b.vec_id ASC) AS prn
      |    FROM buckets b JOIN akeep USING (vec_id) CROSS JOIN prm)
      |  WHERE cap IS NULL OR prn <= cap
      |)""".stripMargin

  /** The JL sign matrix as SQL VALUES rows `(j, sv DOUBLE[])`. */
  private def rpSqlValues: String =
    rpSigns.zipWithIndex.map { case (row, j) =>
      s"($j, CAST([${row.mkString(",")}] AS DOUBLE[]))"
    }.mkString(",\n")

  /** Block score `‖c_b‖² − 2·(x_b · c_b)` over list slices — the
    * identical slice + sequential-dot arithmetic of [[pqScores]]. */
  private def pqSliceDot(vExpr: String): String = {
    def sl(e: String) = s"list_slice($e, t.b*$PqSub+1, t.b*$PqSub+$PqSub)"
    s"""list_dot_product(${sl("cent.cv")}, ${sl("cent.cv")})
       |           - 2.0 * list_dot_product(${sl(vExpr)}, ${sl("cent.cv")})""".stripMargin
  }

  /** [[PqScale]] as an exact SQL literal. */
  private val PqScaleSql: String = PqScale.toLong.toString + ".0"

  /** The [[pqKsFor]] ladder as a scalar SQL subquery over `e` —
    * generated from [[PqKsSteps]] so the two engines cannot drift on
    * the sub-codebook size (the `iprm` pattern, r20). */
  private def pqKsCaseSql: String = {
    val cases = PqKsSteps.reverse.map { case (thr, ks) =>
      s"WHEN count(*) >= $thr THEN $ks" }.mkString(" ")
    s"(SELECT CASE $cases ELSE $NCENT END FROM e)"
  }

  /** SQL mirror of [[pqCodebook]] — retrains the refined sub-codebooks
    * from the table: kb0 seeds (block slices of the first NCENT
    * vectors), then per Lloyd step the rounded-score argmin assignment
    * (lowest-cid ties) and the exact scaled-integer means. floor(x·2³⁰)
    * sums as BIGINT are order-independent and exact, so the retrained
    * centroids are bit-identical to Spark's; ends in
    * `cent(cid, cv)` — the same shape the unrefined donor CTE had. */
  private def pqKmeansCte: String = {
    val iters = (1 to PqLloydIters).map { i =>
      val prev = if (i == 1) "kb0" else s"kb${i - 1}"
      s"""ka$i AS (
         |  SELECT vec_id, b, struct_extract(m, 'c') AS cid FROM (
         |    SELECT xb.vec_id, xb.b,
         |           min(struct_pack(d := round(list_dot_product(kb.cb, kb.cb)
         |                 - 2.0 * list_dot_product(xb.xb, kb.cb), 6),
         |               c := kb.cid)) AS m
         |    FROM xb JOIN $prev kb ON kb.b = xb.b GROUP BY xb.vec_id, xb.b)
         |),
         |km$i AS (
         |  SELECT a.b, a.cid, g.j, count(*) AS n,
         |         CAST(sum(CAST(floor(xb.xb[g.j] * $PqScaleSql) AS BIGINT)) AS BIGINT) AS sj
         |  FROM ka$i a
         |  JOIN xb ON xb.vec_id = a.vec_id AND xb.b = a.b
         |  CROSS JOIN generate_series(1, $PqSub) g(j)
         |  GROUP BY a.b, a.cid, g.j
         |),
         |kb$i AS (
         |  SELECT kb.b, kb.cid, COALESCE(kc.cb, kb.cb) AS cb
         |  FROM $prev kb
         |  LEFT JOIN (SELECT b, cid,
         |                    list((CAST(sj AS DOUBLE) / $PqScaleSql) / n ORDER BY j) AS cb
         |             FROM km$i GROUP BY b, cid) kc
         |    ON kc.b = kb.b AND kc.cid = kb.cid
         |)""".stripMargin
    }.mkString(",\n")
    s"""xb AS (
       |  SELECT e.vec_id, t.b,
       |         list_slice(e.v, t.b*$PqSub+1, t.b*$PqSub+$PqSub) AS xb
       |  FROM e CROSS JOIN generate_series(0, ${PqBlocks - 1}) t(b)
       |  WHERE e.vec_id < $TrainCap
       |),
       |kb0 AS (
       |  SELECT t.b, e.vec_id AS cid,
       |         list_slice(e.v, t.b*$PqSub+1, t.b*$PqSub+$PqSub) AS cb
       |  FROM e CROSS JOIN generate_series(0, ${PqBlocks - 1}) t(b)
       |  WHERE e.vec_id < $pqKsCaseSql
       |),
       |$iters,
       |cent AS (SELECT cid, flatten(list(cb ORDER BY b)) AS cv
       |         FROM kb$PqLloydIters GROUP BY cid)""".stripMargin
  }

  /** The [[ivfPqParams]] ladder as a one-row SQL relation
    * `iprm(cells, nprobe)`, generated from [[IvfPqSteps]] so the two
    * engines cannot drift on the rung thresholds (the [[lshPrmCte]]
    * pattern). */
  /** The semdedup trained-centroid Lloyd chain — the [[ivfKmCte]]
    * structure at the [[SemOneShotSteps]] rung's cells with `s`-prefixed CTE names
    * (so it can coexist with the first-n chain in one query), ending in
    * `scent(cid, cv, cnrm)`. Mirrors [[ivfPqCentroids]] step for step:
    * first-`cells` seeds, [[PqLloydIters]] rounds of rounded-cosine
    * assignment over the [[TrainCap]]-bounded sample (lowest-cid ties)
    * and exact scaled-integer means, empty cells keeping their previous
    * centroid. Zero-norm-centroid guards mirror the engine (ADVICE
    * r15): degenerate seeds are filtered (`nrm > 0`) and a mean that
    * cancels to zero keeps the previous centroid, so the NaN-cosine
    * branch both engines order differently is unreachable. */
  private def semKmCte: String = {
    val iters = (1 to PqLloydIters).map { i =>
      val prev = if (i == 1) "sb0" else s"sb${i - 1}"
      s"""sa$i AS (
         |  SELECT vec_id, struct_extract(m, 'c') AS cid FROM (
         |    SELECT e.vec_id,
         |           min(struct_pack(d := 1.0 - (
         |               CASE WHEN e.nrm * sqrt(list_dot_product(c.cv, c.cv)) = 0 THEN 1.0
         |                    ELSE round(list_dot_product(e.v, c.cv)
         |                         / (e.nrm * sqrt(list_dot_product(c.cv, c.cv))), 6)
         |               END),
         |               c := c.cid)) AS m
         |    FROM strain e CROSS JOIN $prev c GROUP BY e.vec_id)
         |),
         |sm$i AS (
         |  SELECT a.cid, g.j, count(*) AS n,
         |         CAST(sum(CAST(floor(e.v[g.j] * $PqScaleSql) AS BIGINT)) AS BIGINT) AS sj
         |  FROM sa$i a JOIN strain e ON e.vec_id = a.vec_id
         |  CROSS JOIN generate_series(1, $DIM) g(j)
         |  GROUP BY a.cid, g.j
         |),
         |sb$i AS (
         |  SELECT b0.cid,
         |         CASE WHEN c2.cv IS NULL
         |                OR list_dot_product(c2.cv, c2.cv) = 0
         |              THEN b0.cv ELSE c2.cv END AS cv
         |  FROM $prev b0
         |  LEFT JOIN (SELECT cid,
         |                    list((CAST(sj AS DOUBLE) / $PqScaleSql) / n ORDER BY j) AS cv
         |             FROM sm$i GROUP BY cid) c2 ON c2.cid = b0.cid
         |)""".stripMargin
    }.mkString(",\n")
    // trained-cell ladder rung, generated from [[SemOneShotSteps]] (the
    // ONE-SHOT schedule — the registered query's; r18) so the two
    // engines cannot drift on the hand-over thresholds (r17)
    val scCases = SemOneShotSteps.reverse.map { case (thr, c) =>
      s"WHEN n >= $thr THEN $c" }.mkString(" ")
    s"""sprm AS (SELECT CASE $scCases ELSE $SemOneShotCells END AS sc
       |         FROM (SELECT count(*) AS n FROM e)),
       |strain AS (SELECT * FROM e WHERE vec_id < $TrainCap),
       |sb0 AS (SELECT vec_id AS cid, v AS cv FROM e
       |        WHERE vec_id < (SELECT sc FROM sprm) AND nrm > 0),
       |$iters,
       |scent AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
       |          FROM sb$PqLloydIters)""".stripMargin
  }

  /** The [[ivfParams]] plain-IVF ladder as a one-row SQL relation
    * `vprm(cells, nprobe)` — generated from [[IvfSteps]] so the two
    * engines cannot drift on the rung thresholds (the [[ivfPrmCte]]
    * pattern). */
  private def ivfPlainPrmCte: String = {
    val cCases = IvfSteps.reverse.map { case (thr, c, _) =>
      s"WHEN count(*) >= $thr THEN $c" }.mkString(" ")
    val pCases = IvfSteps.reverse.map { case (thr, _, p) =>
      s"WHEN count(*) >= $thr THEN $p" }.mkString(" ")
    s"""vprm AS (SELECT CASE $cCases ELSE $NCENT END AS cells,
       |              CASE $pCases ELSE $NPROBE END AS nprobe FROM e)""".stripMargin
  }

  private def ivfPrmCte: String = {
    val cCases = IvfPqSteps.reverse.map { case (thr, c, _) =>
      s"WHEN count(*) >= $thr THEN $c" }.mkString(" ")
    val pCases = IvfPqSteps.reverse.map { case (thr, _, p) =>
      s"WHEN count(*) >= $thr THEN $p" }.mkString(" ")
    val rCases = IvfPqRSteps.reverse.map { case (thr, r) =>
      s"WHEN count(*) >= $thr THEN $r" }.mkString(" ")
    s"""iprm AS (SELECT CASE $cCases ELSE $IvfPqCells END AS cells,
       |              CASE $pCases ELSE $IvfPqProbe END AS nprobe,
       |              CASE $rCases ELSE $IvfPqShortlist END AS shortlist FROM e)""".stripMargin
  }

  /** SQL mirror of [[ivfPqCentroids]]: ladder-rung seed cells
    * ([[ivfPrmCte]]), spherical Lloyd steps (rounded-cosine assignment,
    * exact scaled-integer means); ends in `icent(cid, cv, cnrm)`. */
  private def ivfKmCte: String = {
    val iters = (1 to PqLloydIters).map { i =>
      val prev = if (i == 1) "ib0" else s"ib${i - 1}"
      s"""ia$i AS (
         |  SELECT vec_id, struct_extract(m, 'c') AS cid FROM (
         |    SELECT e.vec_id,
         |           min(struct_pack(d := 1.0 - (
         |               CASE WHEN e.nrm * sqrt(list_dot_product(c.cv, c.cv)) = 0 THEN 1.0
         |                    ELSE round(list_dot_product(e.v, c.cv)
         |                         / (e.nrm * sqrt(list_dot_product(c.cv, c.cv))), 6)
         |               END),
         |               c := c.cid)) AS m
         |    FROM et e CROSS JOIN $prev c GROUP BY e.vec_id)
         |),
         |im$i AS (
         |  SELECT a.cid, g.j, count(*) AS n,
         |         CAST(sum(CAST(floor(e.v[g.j] * $PqScaleSql) AS BIGINT)) AS BIGINT) AS sj
         |  FROM ia$i a JOIN et e ON e.vec_id = a.vec_id
         |  CROSS JOIN generate_series(1, $DIM) g(j)
         |  GROUP BY a.cid, g.j
         |),
         |ib$i AS (
         |  SELECT b0.cid,
         |         CASE WHEN c2.cv IS NULL
         |                OR list_dot_product(c2.cv, c2.cv) = 0
         |              THEN b0.cv ELSE c2.cv END AS cv
         |  FROM $prev b0
         |  LEFT JOIN (SELECT cid,
         |                    list((CAST(sj AS DOUBLE) / $PqScaleSql) / n ORDER BY j) AS cv
         |             FROM im$i GROUP BY cid) c2 ON c2.cid = b0.cid
         |)""".stripMargin
    }.mkString(",\n")
    s"""$ivfPrmCte,
       |et AS (SELECT * FROM e WHERE vec_id < $TrainCap),
       |ib0 AS (SELECT vec_id AS cid, v AS cv FROM e
       |        WHERE vec_id < (SELECT cells FROM iprm) AND nrm > 0),
       |$iters,
       |icent AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
       |          FROM ib$PqLloydIters)""".stripMargin
  }

  /** Shared PQ oracle CTEs: the k-means-retrained codebook
    * ([[pqKmeansCte]]), per-(vector, block) scores, argmin codes with
    * lowest-cid ties, and the wide (code0.., m0..) pivot. */
  private def pqCodesCte: String =
    s"""$pqKmeansCte,
       |sc AS (
       |  SELECT e.vec_id, t.b, cent.cid,
       |         ${pqSliceDot("e.v")} AS sbc
       |  FROM e CROSS JOIN cent CROSS JOIN generate_series(0, ${PqBlocks - 1}) t(b)
       |),
       |best AS (SELECT vec_id, b, min(sbc) AS m FROM sc GROUP BY vec_id, b),
       |codes AS (
       |  SELECT sc.vec_id, sc.b, min(best.m) AS m, min(sc.cid) AS code
       |  FROM sc JOIN best ON sc.vec_id = best.vec_id AND sc.b = best.b
       |                   AND sc.sbc = best.m
       |  GROUP BY sc.vec_id, sc.b
       |),
       |ct AS (
       |  SELECT vec_id,
       |${(0 until PqBlocks).map(b => s"         max(CASE WHEN b = $b THEN code END) AS code$b").mkString(",\n")},
       |${(0 until PqBlocks).map(b => s"         max(CASE WHEN b = $b THEN m END) AS m$b").mkString(",\n")}
       |  FROM codes GROUP BY vec_id
       |)""".stripMargin

  /** The full composed IVF×PQ pipeline oracle — shared verbatim by
    * `sim_topk_ivfpq` (train-in-query) and `sim_topk_ivfpq_serve`
    * (serve-from-materialized-index): identical results by contract. */
  private def ivfPqOracleSql: String =
    s"""$vecCte,
       |$pqCodesCte,
       |$ivfKmCte,
       |assign AS (
       |  SELECT vec_id, struct_extract(m, 'c') AS cid FROM (
       |    SELECT e.vec_id,
       |           min(struct_pack(
       |               d := 1.0 - (CASE WHEN e.nrm * c.cnrm = 0 THEN 1.0
       |                    ELSE round(list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm), 6) END),
       |               c := c.cid)) AS m
       |    FROM e CROSS JOIN icent c GROUP BY e.vec_id)
       |),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm,
       |             list_dot_product(v, v) AS qq
       |      FROM e WHERE vec_id % 50 = 0),
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |           row_number() OVER (PARTITION BY q.query_id
       |               ORDER BY round(list_dot_product(q.qv, c.cv) / (q.qnrm * c.cnrm), 6) DESC,
       |                        c.cid ASC) AS rn
       |    FROM q CROSS JOIN icent c)
       |  WHERE rn <= (SELECT nprobe FROM iprm)
       |),
       |lut AS (
       |  SELECT q.query_id, t.b, cent.cid,
       |         ${pqSliceDot("q.qv")} AS l
       |  FROM q CROSS JOIN cent CROSS JOIN generate_series(0, ${PqBlocks - 1}) t(b)
       |),
       |cand AS (
       |  SELECT q.query_id, ct.vec_id AS neighbor_id,
       |         round(q.qq${(0 until PqBlocks).map(b => s" + l$b.l").mkString}, 6) AS adc
       |  FROM probes p
       |  JOIN assign a ON a.cid = p.cid
       |  JOIN ct ON ct.vec_id = a.vec_id
       |  JOIN q ON q.query_id = p.query_id
       |${(0 until PqBlocks).map(b => s"  JOIN lut l$b ON l$b.query_id = q.query_id AND l$b.b = $b AND l$b.cid = ct.code$b").mkString("\n")}
       |  WHERE ct.vec_id <> p.query_id
       |),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |               ORDER BY adc ASC, neighbor_id ASC) AS srnk
       |    FROM cand) WHERE srnk <= (SELECT shortlist FROM iprm)
       |)
       |SELECT query_id, neighbor_id, rnk, score FROM (
       |  SELECT s.query_id, s.neighbor_id,
       |         round(list_dot_product(q.qv, e.v) / (q.qnrm * e.nrm), 6) AS score,
       |         row_number() OVER (PARTITION BY s.query_id
       |             ORDER BY round(list_dot_product(q.qv, e.v) / (q.qnrm * e.nrm), 6) DESC,
       |                      s.neighbor_id ASC) AS rnk
       |  FROM short s
       |  JOIN e ON e.vec_id = s.neighbor_id
       |  JOIN q ON q.query_id = s.query_id
       |) WHERE rnk <= $K
       |ORDER BY query_id, rnk""".stripMargin

  override def oracles: Map[String, String] = Map(
    // Projection = list(dot / 4.0 ORDER BY j): the same 16 sequential
    // ±1 dots and power-of-two normalizer as the Spark plan; norms and
    // the distortion ratio divide unrounded, then round(…, 6).
    "sim_rand_project" ->
      s"""$vecCte,
         |sg AS (SELECT * FROM (VALUES
         |$rpSqlValues
         |) AS t(j, sv)),
         |p AS (
         |  SELECT e.vec_id,
         |         list(list_dot_product(e.v, sg.sv) / 4.0 ORDER BY sg.j) AS pv
         |  FROM e CROSS JOIN sg GROUP BY e.vec_id
         |)
         |SELECT e.vec_id,
         |       round(list_dot_product(e.v, e.v), 6) AS orig_sq,
         |       round(list_dot_product(p.pv, p.pv), 6) AS proj_sq,
         |       round(list_dot_product(p.pv, p.pv)
         |             / list_dot_product(e.v, e.v), 6) AS distortion
         |FROM e JOIN p USING (vec_id)
         |ORDER BY vec_id""".stripMargin,
    // Same slice-dot scoring, min per (vec, block), lowest donor on
    // ties, and the same left-to-right ‖v‖² + s0 + … + s7 error sum.
    "sim_pq_codes" ->
      s"""$vecCte,
         |$pqCodesCte
         |SELECT e.vec_id, ${(0 until PqBlocks).map(b => s"code$b").mkString(", ")},
         |       round(list_dot_product(e.v, e.v)${(0 until PqBlocks).map(b => s" + m$b").mkString}, 6) + 0.0 AS err_sq
         |FROM ct JOIN e ON ct.vec_id = e.vec_id
         |ORDER BY e.vec_id""".stripMargin,
    // Same code assignment as sim_pq_codes; the per-query LUT is the
    // identical slice-dot arithmetic; ADC sums left-to-right
    // qq + l0 + … + l7 exactly as the Spark plan; the ascending-ADC
    // top-PqShortlist shortlist is then re-ranked by the exact bruteforce
    // cosine chain.
    "sim_topk_pqadc" ->
      s"""$vecCte,
         |$pqCodesCte,
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm,
         |             list_dot_product(v, v) AS qq
         |      FROM e WHERE vec_id % 50 = 0),
         |lut AS (
         |  SELECT q.query_id, t.b, cent.cid,
         |         ${pqSliceDot("q.qv")} AS l
         |  FROM q CROSS JOIN cent CROSS JOIN generate_series(0, ${PqBlocks - 1}) t(b)
         |),
         |cand AS (
         |  SELECT q.query_id, ct.vec_id AS neighbor_id,
         |         round(q.qq${(0 until PqBlocks).map(b => s" + l$b.l").mkString}, 6) AS adc
         |  FROM q
         |  CROSS JOIN ct
         |${(0 until PqBlocks).map(b => s"  JOIN lut l$b ON l$b.query_id = q.query_id AND l$b.b = $b AND l$b.cid = ct.code$b").mkString("\n")}
         |  WHERE ct.vec_id <> q.query_id
         |),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |               ORDER BY adc ASC, neighbor_id ASC) AS srnk
         |    FROM cand) WHERE srnk <= $PqShortlist
         |)
         |SELECT query_id, neighbor_id, rnk, score FROM (
         |  SELECT s.query_id, s.neighbor_id,
         |         round(list_dot_product(q.qv, e.v) / (q.qnrm * e.nrm), 6) AS score,
         |         row_number() OVER (PARTITION BY s.query_id
         |             ORDER BY round(list_dot_product(q.qv, e.v) / (q.qnrm * e.nrm), 6) DESC,
         |                      s.neighbor_id ASC) AS rnk
         |  FROM short s
         |  JOIN e ON e.vec_id = s.neighbor_id
         |  JOIN q ON q.query_id = s.query_id
         |) WHERE rnk <= $K
         |ORDER BY query_id, rnk""".stripMargin,
    // The composed IVF × PQ serve: the spherical-k-means coarse cells
    // prune the candidate set (probes → assign equi-join), the SAME
    // refined-codebook ADC + shortlist + exact rerank chain as
    // sim_topk_pqadc runs on the survivors only.
    "sim_topk_ivfpq" -> ivfPqOracleSql,
    // Serve-from-materialized-index returns the SAME result as the
    // composed form by contract (training is deterministic and the
    // index path is keyed by source (mtime, size), so a stale index
    // cannot satisfy this oracle on changed data).
    "sim_topk_ivfpq_serve" -> ivfPqOracleSql,
    // Build summary: per non-empty coarse cell, occupancy + rounded
    // centroid norm — retrained in SQL via the ivfKmCte mirror, so the
    // gate pins the whole coarse-quantizer training + assignment.
    "sim_ivfpq_build" ->
      s"""$vecCte,
         |$ivfKmCte,
         |assign AS (
         |  SELECT vec_id, struct_extract(m, 'c') AS cid FROM (
         |    SELECT e.vec_id,
         |           min(struct_pack(
         |               d := 1.0 - (CASE WHEN e.nrm * c.cnrm = 0 THEN 1.0
         |                    ELSE round(list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm), 6) END),
         |               c := c.cid)) AS m
         |    FROM e CROSS JOIN icent c GROUP BY e.vec_id)
         |)
         |SELECT a.cid, count(*) AS n_vectors, round(ic.cnrm, 6) AS cnorm
         |FROM assign a JOIN icent ic ON ic.cid = a.cid
         |GROUP BY a.cid, round(ic.cnrm, 6)
         |ORDER BY a.cid""".stripMargin,
    "sim_topk_bruteforce" ->
      s"""$vecCte,
         |$annKeepCte
         |SELECT query_id, neighbor_id, rnk, score FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |         round(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 6) AS score,
         |         row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY round(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 6) DESC,
         |                      n.vec_id ASC) AS rnk
         |  FROM e q JOIN e n ON q.vec_id % 50 = 0 AND n.vec_id <> q.vec_id
         |  JOIN akeep ON akeep.vec_id = n.vec_id
         |)
         |WHERE rnk <= $K
         |ORDER BY query_id, rnk""".stripMargin,
    "sim_topk_ivf" ->
      s"""$vecCte,
         |$ivfPlainPrmCte,
         |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM e
         |      WHERE vec_id < (SELECT cells FROM vprm) AND nrm > 0),
         |-- scores stay slim (id, cid, sc) and the per-vector argmin is a
         |-- struct-min AGGREGATE, not a row_number window (r16): at
         |-- rung-active sizes the n×cells relation is 10⁸⁺ rows, and a
         |-- window must SORT-MATERIALIZE all of them where the aggregate
         |-- streams into n groups — the engine's own map-side min(struct)
         |-- shape, selection identical (d asc, cid asc ties).
         |ascore AS (
         |  SELECT e.vec_id, c.cid,
         |         CASE WHEN e.nrm * c.cnrm = 0 THEN 1.0
         |              ELSE round(list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm), 6)
         |         END AS sc
         |  FROM e CROSS JOIN c),
         |assign AS (
         |  SELECT vec_id, struct_extract(m, 'c') AS cid FROM (
         |    SELECT vec_id, min(struct_pack(d := 1.0 - sc, c := cid)) AS m
         |    FROM ascore GROUP BY vec_id)
         |),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e WHERE vec_id % 50 = 0),
         |probes AS (
         |  SELECT query_id, cid FROM (
         |    SELECT q.query_id, c.cid,
         |           row_number() OVER (PARTITION BY q.query_id
         |               ORDER BY round(list_dot_product(q.qv, c.cv) / (q.qnrm * c.cnrm), 6) DESC,
         |                        c.cid ASC) AS rn
         |    FROM q CROSS JOIN c)
         |  WHERE rn <= (SELECT nprobe FROM vprm)
         |),
         |-- candidate pairs stay SLIM and pure-equi-join until the
         |-- vectors attach: with the <> predicate inside the e-join the
         |-- planner can (and at 200k vectors, did) pick an order that
         |-- materializes list-carrying intermediates and spills ~80 GB
         |$annKeepCte,
         |cpair AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM probes p JOIN assign a ON p.cid = a.cid
         |  JOIN akeep ON akeep.vec_id = a.vec_id
         |  WHERE a.vec_id <> p.query_id
         |),
         |cscore AS (
         |  SELECT cp.query_id, cp.neighbor_id,
         |         round(list_dot_product(q.qv, e.v) / (q.qnrm * e.nrm), 6) AS score
         |  FROM cpair cp
         |  JOIN e ON e.vec_id = cp.neighbor_id
         |  JOIN q ON q.query_id = cp.query_id
         |)
         |SELECT query_id, neighbor_id, rnk, score FROM (
         |  SELECT query_id, neighbor_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |             ORDER BY score DESC, neighbor_id ASC) AS rnk
         |  FROM cscore
         |)
         |WHERE rnk <= $K
         |ORDER BY query_id, rnk""".stripMargin,
    "sim_ann_lsh" ->
      s"""$vecCte,
         |pl AS (SELECT * FROM (VALUES
         |$planeSqlValues
         |) AS t(h, p)),
         |$lshPrmCte,
         |bits AS (
         |  SELECT e.vec_id, pl.h,
         |         CASE WHEN list_dot_product(e.v, pl.p) > 0 THEN 1 ELSE 0 END AS bit,
         |         prm.pb
         |  FROM e CROSS JOIN pl CROSS JOIN prm
         |  WHERE pl.h < prm.pt * prm.pb
         |),
         |buckets AS (
         |  SELECT vec_id, h // pb AS tbl, sum(bit * (1 << (h % pb))) AS bucket
         |  FROM bits GROUP BY 1, 2
         |),
         |$lshCapCte,
         |cand AS (
         |  SELECT DISTINCT qb.vec_id AS query_id, n.vec_id AS neighbor_id
         |  FROM buckets qb JOIN cb n ON qb.tbl = n.tbl AND qb.bucket = n.bucket
         |  WHERE qb.vec_id % 50 = 0 AND n.vec_id <> qb.vec_id
         |)
         |-- score once in a slim derived table and rank on the ALIAS
         |-- (r19, same disease as the r16 argmin reshape): with the
         |-- round(list_dot_product(..)) expression repeated in the window
         |-- ORDER BY, DuckDB materializes the window input WITH both
         |-- 64-double vectors — ~1 KB/row × 1.6×10⁸ candidate pairs at
         |-- the 1M rung blew the 96 GB memory budget + 46 GB spill cap;
         |-- the slim (query_id, neighbor_id, score) input sorts in ~4 GB.
         |-- Scores, rounding, ordering, ties: unchanged.
         |, cscore AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         round(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 6) AS score
         |  FROM cand c
         |  JOIN e q ON q.vec_id = c.query_id
         |  JOIN e n ON n.vec_id = c.neighbor_id
         |)
         |SELECT query_id, neighbor_id, rnk, score FROM (
         |  SELECT query_id, neighbor_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |             ORDER BY score DESC, neighbor_id ASC) AS rnk
         |  FROM cscore
         |)
         |WHERE rnk <= $K
         |ORDER BY query_id, rnk""".stripMargin,
    // Multi-probe twin: identical to sim_ann_lsh up to `buckets`, then the
    // query side expands to its bucket plus the BITS single-bit flips.
    "sim_ann_multiprobe" ->
      s"""$vecCte,
         |pl AS (SELECT * FROM (VALUES
         |$planeSqlValues
         |) AS t(h, p)),
         |$lshPrmCte,
         |bits AS (
         |  SELECT e.vec_id, pl.h,
         |         CASE WHEN list_dot_product(e.v, pl.p) > 0 THEN 1 ELSE 0 END AS bit,
         |         prm.pb
         |  FROM e CROSS JOIN pl CROSS JOIN prm
         |  WHERE pl.h < prm.pt * prm.pb
         |),
         |buckets AS (
         |  SELECT vec_id, h // pb AS tbl, CAST(sum(bit * (1 << (h % pb))) AS BIGINT) AS bucket
         |  FROM bits GROUP BY 1, 2
         |),
         |qprobes AS (
         |  SELECT qb.vec_id, qb.tbl, xor(qb.bucket, CAST(f.flip AS BIGINT)) AS bucket
         |  FROM buckets qb CROSS JOIN (
         |    SELECT CASE WHEN i = 0 THEN 0 ELSE 1 << (i - 1) END AS flip
         |    FROM (SELECT unnest(range(pb + 1)) AS i FROM prm)) AS f
         |  WHERE qb.vec_id % 50 = 0
         |),
         |$lshCapCte,
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
         |  FROM qprobes q JOIN cb n ON q.tbl = n.tbl AND q.bucket = n.bucket
         |  WHERE n.vec_id <> q.vec_id
         |)
         |-- score once in a slim derived table and rank on the ALIAS
         |-- (r19, same disease as the r16 argmin reshape): with the
         |-- round(list_dot_product(..)) expression repeated in the window
         |-- ORDER BY, DuckDB materializes the window input WITH both
         |-- 64-double vectors — ~1 KB/row × 1.6×10⁸ candidate pairs at
         |-- the 1M rung blew the 96 GB memory budget + 46 GB spill cap;
         |-- the slim (query_id, neighbor_id, score) input sorts in ~4 GB.
         |-- Scores, rounding, ordering, ties: unchanged.
         |, cscore AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         round(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 6) AS score
         |  FROM cand c
         |  JOIN e q ON q.vec_id = c.query_id
         |  JOIN e n ON n.vec_id = c.neighbor_id
         |)
         |SELECT query_id, neighbor_id, rnk, score FROM (
         |  SELECT query_id, neighbor_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |             ORDER BY score DESC, neighbor_id ASC) AS rnk
         |  FROM cscore
         |)
         |WHERE rnk <= $K
         |ORDER BY query_id, rnk""".stripMargin,
    "sim_ann_mp_ranked" ->
      s"""$vecCte,
         |pl AS (SELECT * FROM (VALUES
         |$planeSqlValues
         |) AS t(h, p)),
         |$lshPrmCte,
         |bits AS (
         |  SELECT e.vec_id, pl.h,
         |         CASE WHEN list_dot_product(e.v, pl.p) > 0 THEN 1 ELSE 0 END AS bit,
         |         prm.pb
         |  FROM e CROSS JOIN pl CROSS JOIN prm
         |  WHERE pl.h < prm.pt * prm.pb
         |),
         |buckets AS (
         |  SELECT vec_id, h // pb AS tbl, CAST(sum(bit * (1 << (h % pb))) AS BIGINT) AS bucket
         |  FROM bits GROUP BY 1, 2
         |),
         |-- ranked flips (Lv et al. probing sequence): per query, the
         |-- 2*pt single-bit flips with the smallest projection margins
         |margins AS (
         |  SELECT e.vec_id, pl.h // prm.pb AS tbl, pl.h % prm.pb AS j,
         |         round(abs(list_dot_product(e.v, pl.p)), 6) AS m, prm.pt
         |  FROM e CROSS JOIN pl CROSS JOIN prm
         |  WHERE pl.h < prm.pt * prm.pb AND e.vec_id % 50 = 0
         |),
         |rflip AS (
         |  SELECT vec_id, tbl, CAST(1 << j AS BIGINT) AS flip FROM (
         |    SELECT vec_id, tbl, j, pt,
         |           row_number() OVER (PARTITION BY vec_id
         |               ORDER BY m ASC, tbl ASC, j ASC) AS pr
         |    FROM margins)
         |  WHERE pr <= $LshRankedProbeMult * pt
         |),
         |qprobes AS (
         |  SELECT vec_id, tbl, bucket FROM buckets WHERE vec_id % 50 = 0
         |  UNION ALL
         |  SELECT qb.vec_id, qb.tbl, xor(qb.bucket, f.flip) AS bucket
         |  FROM buckets qb JOIN rflip f ON f.vec_id = qb.vec_id AND f.tbl = qb.tbl
         |),
         |$lshCapCte,
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
         |  FROM qprobes q JOIN cb n ON q.tbl = n.tbl AND q.bucket = n.bucket
         |  WHERE n.vec_id <> q.vec_id
         |)
         |-- score once in a slim derived table and rank on the ALIAS
         |-- (r19, same disease as the r16 argmin reshape): with the
         |-- round(list_dot_product(..)) expression repeated in the window
         |-- ORDER BY, DuckDB materializes the window input WITH both
         |-- 64-double vectors — ~1 KB/row × 1.6×10⁸ candidate pairs at
         |-- the 1M rung blew the 96 GB memory budget + 46 GB spill cap;
         |-- the slim (query_id, neighbor_id, score) input sorts in ~4 GB.
         |-- Scores, rounding, ordering, ties: unchanged.
         |, cscore AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         round(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 6) AS score
         |  FROM cand c
         |  JOIN e q ON q.vec_id = c.query_id
         |  JOIN e n ON n.vec_id = c.neighbor_id
         |)
         |SELECT query_id, neighbor_id, rnk, score FROM (
         |  SELECT query_id, neighbor_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |             ORDER BY score DESC, neighbor_id ASC) AS rnk
         |  FROM cscore
         |)
         |WHERE rnk <= $K
         |ORDER BY query_id, rnk""".stripMargin,
    "sim_semdedup" ->
      s"""$vecCte,
         |p AS (SELECT count(*) AS n,
         |             CASE WHEN count(*) <= 2048 THEN 16
         |             WHEN count(*) <= 8192 THEN 64
         |             WHEN count(*) <= 32768 THEN 256
         |             ELSE 1024 END AS nc FROM e),
         |$semKmCte,
         |-- centroid hand-over (the Scala semPlan rule): first-n seeds
         |-- below the trained threshold, the Lloyd chain at/above it
         |cfirst AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm
         |           FROM e, p WHERE vec_id < p.nc AND nrm > 0),
         |c AS (SELECT * FROM cfirst WHERE (SELECT n FROM p) < $SemTrainedMinRows
         |      UNION ALL
         |      SELECT * FROM scent WHERE (SELECT n FROM p) >= $SemTrainedMinRows),
         |-- slim scores + struct-min aggregate argmin (the sim_topk_ivf
         |-- shape, r16): no sort-materialization of the n×cells relation
         |ascore AS (
         |  SELECT e.vec_id, c.cid,
         |         CASE WHEN e.nrm * c.cnrm = 0 THEN 1.0
         |              ELSE round(list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm), 6)
         |         END AS sc
         |  FROM e CROSS JOIN c),
         |assign AS (
         |  SELECT vec_id, struct_extract(m, 'c') AS cid FROM (
         |    SELECT vec_id, min(struct_pack(d := 1.0 - sc, c := cid)) AS m
         |    FROM ascore GROUP BY vec_id)
         |),
         |-- attach vectors BEFORE pairing (r19): the slim-pairs-then-
         |-- attach form estimated the cell self-join's output at n rows
         |-- (EXPLAIN showed EC: 526000 against a real ~2.7×10⁸ at 526k
         |-- vectors, the n²/cells blowup), so DuckDB BUILT the vector-
         |-- attach hash joins on the pair stream — a ~150 GB hash table
         |-- that OOM-killed the 1M and 526k rung checks twice each. With
         |-- vectors pre-attached, the only build side is av (n rows,
         |-- estimate exact) and the vector-carrying pair stream pipelines
         |-- straight into the score filter, never materialized. Pairs,
         |-- score arithmetic, threshold, ordering: unchanged.
         |av AS (
         |  SELECT a.cid AS cell, e.vec_id, e.v, e.nrm
         |  FROM assign a JOIN e ON e.vec_id = a.vec_id
         |)
         |SELECT cell, keep_id, drop_id, score FROM (
         |  SELECT x.cell, x.vec_id AS keep_id, y.vec_id AS drop_id,
         |         round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS score
         |  FROM av x JOIN av y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |)
         |WHERE score >= $SemThreshold
         |ORDER BY keep_id, drop_id""".stripMargin,
    "sim_label_profile" ->
      """SELECT label, count(*) AS n_docs,
        |       round(avg(n_chars), 6) AS avg_chars,
        |       count(DISTINCT lang) AS n_langs
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |GROUP BY label
        |ORDER BY label""".stripMargin,
    // Identical double sequence as the Spark plan: per-element
    // (x - lo) * 255.0 / (hi - lo) → floor → int code; dequant
    // lo + code * (hi - lo) / 255.0; error folded in array order.
    "sim_quantize_int8" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi, len(v) AS n FROM e0),
        |c AS (
        |  SELECT vec_id, v, lo, hi, n,
        |         list_transform(v, x -> CAST(CASE WHEN hi > lo
        |           THEN floor((x - lo) * 255.0 / (hi - lo)) ELSE 0 END AS INT)) AS codes
        |  FROM q
        |)
        |SELECT vec_id,
        |       round(lo, 6) AS lo,
        |       round(hi, 6) AS hi,
        |       list_reduce(list_prepend(0, codes), (a, b) -> a + b) AS code_sum,
        |       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |               list_transform(generate_series(1, n), i ->
        |                 abs(v[i] - (lo + CAST(codes[i] AS DOUBLE) * (hi - lo) / 255.0)))),
        |               (a, b) -> a + b) / n, 6) AS mean_abs_err
        |FROM c ORDER BY vec_id""".stripMargin,
    // Legs rank on the same round-6 scores with the same id tie-breaks;
    // fusion adds the two exact doubles 1/(60+rank) before one round.
    "sim_rrf_fusion" ->
      s"""$vecCte,
         |q AS (SELECT v AS qv, nrm AS qnrm FROM e WHERE vec_id = 0),
         |vleg AS (
         |  SELECT id, vrank FROM (
         |    SELECT e.vec_id AS id,
         |           row_number() OVER (
         |             ORDER BY round(list_dot_product(e.v, q.qv) / (e.nrm * q.qnrm), 6) DESC,
         |                      e.vec_id ASC) AS vrank
         |    FROM e CROSS JOIN q WHERE e.vec_id <> 0)
         |  WHERE vrank <= $LegK
         |), lleg AS (
         |  SELECT id, lrank FROM (
         |    SELECT doc_id AS id,
         |           row_number() OVER (
         |             ORDER BY round(len(list_filter(string_split(text, ' '),
         |                              t -> t = 'spark' OR t = 'join'))
         |                            / len(string_split(text, ' ')), 6) DESC,
         |                      doc_id ASC) AS lrank
         |    FROM documents)
         |  WHERE lrank <= $LegK
         |), fused AS (
         |  SELECT COALESCE(v.id, l.id) AS id, v.vrank, l.lrank,
         |         round(COALESCE(CAST(1.0 AS DOUBLE) / ($RrfC + v.vrank), 0)
         |             + COALESCE(CAST(1.0 AS DOUBLE) / ($RrfC + l.lrank), 0), 6) AS rrf
         |  FROM vleg v FULL OUTER JOIN lleg l ON v.id = l.id
         |)
         |SELECT id, vrank, lrank, rrf,
         |       row_number() OVER (ORDER BY rrf DESC, id ASC) AS rnk
         |FROM fused
         |QUALIFY rnk <= $FusedK
         |ORDER BY rnk""".stripMargin,
  )
}
