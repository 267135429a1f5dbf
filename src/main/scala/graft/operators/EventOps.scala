package graft.operators

import graft.{QueryModule, Tables}
import graft.functions.ConstVectorDot
import graft.functions.PointInPolygon.classifyHq
import graft.geo.Geo
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch twins of the reference's streaming pipelines, over the `events`
  * table — same operator semantics (event-time tumbling windows, grouped
  * counts, geo classification, trending-arrivals self-join; SURVEY.md
  * §2.5-2.7) expressed Spark-first. The streaming forms live in
  * [[graft.streaming]]; these batch forms are what the DuckDB oracle can
  * check.
  *
  * Scale notes:
  *   - window aggs shuffle once on (window, key) with map-side partial
  *     aggregation — state per group is one count, no row buffering;
  *   - the trend detector is expressed both as a self-join (reference
  *     shape, `Task4.py:126-132`) and as a `lag()` analytic (one shuffle,
  *     no second scan) — at high key cardinality the lag form wins; with
  *     few hot keys the join form with AQE skew handling is safer;
  *   - classification is a codegen'd native expression, so scan → classify
  *     → aggregate is one whole-stage-codegen loop.
  */
object EventOps extends QueryModule {

  /** Deterministic synthetic coordinates for `events` rows, landing in and
    * around the two HQ quads. Pure integer-mod + IEEE double math so the
    * oracle SQL reproduces bit-identical values. */
  private def withCoords(df: DataFrame): DataFrame = df
    .withColumn("lon", lit(-74.0150) + (col("event_id") % 97).cast("double") * lit(0.00006))
    .withColumn("lat", lit(40.7130) + (col("event_id") % 101).cast("double") * lit(0.0001))

  private val coordsSql =
    """CAST(-74.0150 AS DOUBLE) + (event_id % 97) * CAST(0.00006 AS DOUBLE) AS lon,
      |       CAST(40.7130 AS DOUBLE) + (event_id % 101) * CAST(0.0001 AS DOUBLE) AS lat""".stripMargin

  /** Strict-interior containment for a convex clockwise polygon as a SQL
    * conjunction of half-plane tests: for every directed edge a→b the
    * point must lie strictly right, i.e. cross(b-a, p-a) < 0. Used only
    * by the oracle; the Spark side runs the general ray-cast expression. */
  private def convexContainsSql(poly: Array[Double]): String = {
    val n = poly.length / 2
    (0 until n).map { i =>
      val ax = poly(2 * i); val ay = poly(2 * i + 1)
      val bx = poly(2 * ((i + 1) % n)); val by = poly(2 * ((i + 1) % n) + 1)
      s"(($bx - $ax) * (lat - $ay) - (($by - $ay) * (lon - ($ax)))) < 0"
    }.mkString("(", " AND ", ")")
  }

  private val classifySql =
    s"""CASE WHEN ${convexContainsSql(Geo.goldman)} THEN 'goldman'
       |     WHEN ${convexContainsSql(Geo.citigroup)} THEN 'citigroup'
       |     ELSE 'none' END AS hq""".stripMargin

  /** Task2 twin: hourly event counts (1-hour tumbling event-time window). */
  def hourlyCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("total_value"))
      .select($"window.start".as("window_start"), $"n_events", $"total_value")
      .orderBy($"window_start")
  }

  /** Task3/4 twin: 10-minute windows × event_type. */
  def tenMinByType(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "10 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("window_start"), $"event_type", $"n")
      .orderBy($"window_start", $"event_type")
  }

  /** Task3 twin: geo-classified hourly counts via the native
    * [[graft.functions.PointInPolygon]] expression. */
  def classifyGeo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCoords(Tables.events(s, dir))
      .withColumn("hq", classifyHq($"lon", $"lat"))
      .groupBy(window($"ts", "1 hour"), $"hq")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("window_start"), $"hq", $"n")
      .orderBy($"window_start", $"hq")
  }

  private def windowCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "10 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("ws"), $"event_type", $"n")
  }

  /** Task4 twin, reference shape: trending windows via a theta self-join —
    * count ≥ 3 and ≥ 2× the same-type window 10 minutes earlier
    * (`Task4.py:126-132`; doubling edge `count - c1 >= c1` kept as
    * `n >= 2*prev_n`). Catalyst extracts the equi-keys (type, ws = pws +
    * 10 min) → hash join; AQE handles the hot-key skew. */
  def trendJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // persisted: the self-join consumes the window agg from both sides,
    // and aliasing blocks exchange reuse — without the cache the events
    // scan + aggregation runs twice
    val w = windowCounts(s, dir).persist()
    val prev = w.select($"ws".as("pws"), $"event_type".as("ptype"), $"n".as("prev_n"))
    w.join(prev,
        $"ws" === $"pws" + expr("INTERVAL 10 minutes") && $"event_type" === $"ptype")
      .where($"n" >= 3 && $"n" >= $"prev_n" * 2)
      .select($"ws".as("window_start"), $"event_type", $"n", $"prev_n")
      .orderBy($"window_start", $"event_type")
  }

  /** Same trend semantics as one pass: `lag()` over (type, window) — no
    * self-join, no second aggregation of the fact table. */
  def trendLag(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byType = Window.partitionBy($"event_type").orderBy($"ws")
    windowCounts(s, dir)
      .withColumn("pws", lag($"ws", 1).over(byType))
      .withColumn("prev_n", lag($"n", 1).over(byType))
      .where($"pws" === $"ws" - expr("INTERVAL 10 minutes") &&
             $"n" >= 3 && $"n" >= $"prev_n" * 2)
      .select($"ws".as("window_start"), $"event_type", $"n", $"prev_n")
      .orderBy($"window_start", $"event_type")
  }

  /** Sliding windows: 10-minute windows advancing every 5 — each event
    * lands in exactly duration/slide = 2 windows. Spark plans this as one
    * Expand (2 rows per input) + hash agg: state is per (window × type),
    * NOT per event, so at 100 TB the shuffle carries the pre-aggregated
    * partials like any tumbling agg — the only scale knob is the
    * windows-per-event ratio. */
  def slidingWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "10 minutes", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("window_start"), $"event_type", $"n")
      .orderBy($"window_start", $"event_type")
  }

  /** Sessionization: per-user sessions with a 30-minute inactivity gap
    * (Spark `session_window`). The streaming form is identical code over
    * `readStream`. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("session_value"))
      .select($"session_window.start".as("session_start"),
              $"session_window.end".as("session_end"),
              $"user_id", $"n_events", $"session_value")
      .orderBy($"user_id", $"session_start")
  }

  /** As-of join: each `purchase` event picks the most recent `click` by
    * the same user at or before the purchase timestamp (the classic
    * trade-quote / attribution pattern; oracled by DuckDB's native
    * `ASOF JOIN`).
    *
    * Spark has no asof operator, so this is the idiomatic distributed
    * form: tag both sides, UNION them, and carry the latest left-side row
    * forward with a running `last(…, ignoreNulls)` over (user, time) —
    * ONE shuffle on the join key, linear work, no state blowup. The naive
    * alternative (`p JOIN c ON same user AND c.ts <= p.ts` + max) is a
    * non-equi join Catalyst can only nested-loop, and it materializes
    * every (purchase × earlier-click) pair before aggregating — quadratic
    * per hot user at 100 TB. Ties: a click at exactly the purchase ts
    * counts (side orders clicks first), matching ASOF's `>=`. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    def side(tpe: String, tag: Int) =
      ev.where($"event_type" === tpe)
        .select($"user_id", $"ts", lit(tag).as("side"), $"event_id")
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"side".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    side("click", 0).unionByName(side("purchase", 1))
      .withColumn("click_ts", last(when($"side" === 0, $"ts"), ignoreNulls = true).over(w))
      .withColumn("click_id", last(when($"side" === 0, $"event_id"), ignoreNulls = true).over(w))
      .where($"side" === 1 && $"click_ts".isNotNull)
      .select($"event_id".as("purchase_id"), $"user_id",
              $"ts".as("purchase_ts"), $"click_id", $"click_ts",
              (Tables.micros($"ts") - Tables.micros($"click_ts")).as("gap_us"))
      .orderBy($"purchase_id")
  }

  /** The same as-of semantics through the custom whole-operator path:
    * [[graft.plans.AsofJoin]] (logical node → planner strategy →
    * [[graft.plans.AsofJoinExec]] physical merge). One exchange per side
    * on user_id + partition-local sorted merge with O(1) state — the plan
    * a native engine would run, vs [[asofJoin]]'s union + running-window
    * composition. Both are oracle-checked against DuckDB's ASOF JOIN.
    * The custom exec is left-outer; the `click_ts IS NOT NULL` filter
    * matches the oracle's inner ASOF. */
  def asofNative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val p = ev.where($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("purchase_ts"))
    val c = ev.where($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("click_ts"), $"event_id".as("click_id"))
    graft.plans.Asof.join(p, c, Seq("user_id"), Seq("c_user"), "purchase_ts", "click_ts")
      .where($"click_ts".isNotNull)
      .select($"purchase_id", $"user_id", $"purchase_ts", $"click_id", $"click_ts",
              (Tables.micros($"purchase_ts") - Tables.micros($"click_ts")).as("gap_us"))
      .orderBy($"purchase_id")
  }

  /** Interval (range) join — the batch twin of
    * [[graft.streaming.EventStreamOps.attributionJoin]]: every purchase
    * counts the same user's clicks in the preceding 10 minutes, keeping
    * zero-click purchases via the left join.
    *
    * Scale: the equi key (user_id) makes this a hash join with the time
    * range as residual predicate — NOT a nested loop; state per key is
    * bounded by the range width. A range join with no equi key would need
    * time-bucket blocking (join on overlapping buckets, dedup) — not
    * required here. */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val p = ev.where($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("p_ts"))
    val c = ev.where($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("click_id"))
    p.join(c,
        $"user_id" === $"c_user" &&
        $"c_ts" >= $"p_ts" - expr("INTERVAL 10 MINUTES") && $"c_ts" <= $"p_ts",
        "left")
      .groupBy($"purchase_id", $"user_id")
      .agg(count($"click_id").as("n_clicks"))
      .orderBy($"purchase_id")
  }

  /** Semi-structured payload parsing: the `props` JSON column through
    * `from_json` with an explicit schema (typed, codegen'd, no inference
    * pass — at 100 TB schema inference means a full extra scan), then a
    * per-type profile of the extracted field. Malformed rows surface as
    * nulls (PERMISSIVE), excluded from min/max by SQL semantics in both
    * engines. */
  def jsonProps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("k",
        from_json($"props", org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
          .getField("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("k_sum"),
           min($"k").as("k_min"), max($"k").as("k_max"))
      .orderBy($"event_type")
  }

  /** Validity-interval (SCD type-2) construction: each event's state is
    * valid from its timestamp until the same user's next event (null =
    * still current) — the `lead()` form of the latest-record problem,
    * one shuffle on the user key shared by the window. */
  def validityIntervals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Tables.events(s, dir)
      .select($"user_id", $"event_id", $"event_type", $"ts".as("valid_from"),
              lead($"ts", 1).over(w).as("valid_to"))
      .orderBy($"user_id", $"valid_from", $"event_id")
  }

  /** Threshold outlier detection: events whose value exceeds their type's
    * p99, counted per type. The per-type threshold is an exact
    * interpolated percentile rounded at 6 (identical doubles in both
    * engines), broadcast-joined back to the fact scan — the standard
    * two-pass anomaly screen; at scale pass 1 is a tiny agg and pass 2 is
    * a map-side filter. */
  def outliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val thr = ev.groupBy($"event_type")
      .agg(round(expr("percentile(value, 0.99)"), 6).as("p99"))
    ev.join(broadcast(thr), "event_type")
      .where($"value" > $"p99")
      .groupBy($"event_type")
      .agg(first($"p99").as("p99"), count(lit(1)).as("n_outliers"),
           round(max($"value"), 6).as("max_value"))
      .orderBy($"event_type")
  }

  /** Funnel analysis — sequential pattern matching (view → click →
    * purchase, each step strictly after the previous user's FIRST
    * occurrence of the prior step): the MATCH_RECOGNIZE-shaped analytics
    * staple, composed from per-step min-timestamp aggregations + equi
    * joins. Each stage is one groupBy on user_id (same partitioning
    * reused across stages); counts are exact, no floats anywhere. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val v = ev.where($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val c = ev.where($"event_type" === "click").join(v, "user_id")
      .where($"ts" > $"t1")
      .groupBy($"user_id").agg(min($"ts").as("t2"))
    val p = ev.where($"event_type" === "purchase").join(c, "user_id")
      .where($"ts" > $"t2")
      .groupBy($"user_id").agg(min($"ts").as("t3"))
    v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("step"), $"n_users")
      .unionByName(c.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click").as("step"), $"n_users"))
      .unionByName(p.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase").as("step"), $"n_users"))
      .orderBy($"step")
  }

  /** Cohort retention: users grouped by first-activity day; for each
    * (cohort, day offset ≤ 7), how many distinct cohort members were
    * active. Two shuffles (first-day agg, retention agg) regardless of
    * input size. */
  def retention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val first = ev.groupBy($"user_id").agg(to_date(min($"ts")).as("cohort"))
    ev.select($"user_id", to_date($"ts").as("d")).distinct()
      .join(first, "user_id")
      .withColumn("day_offset", datediff($"d", $"cohort"))
      .where($"day_offset" <= 7)
      .groupBy($"cohort", $"day_offset")
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort", $"day_offset")
  }

  /** Time-series similarity search (the distributed top-k pattern of the
    * EDBT'19/ICDE'21 similarity-search literature, sized to this corpus):
    * each user's activity becomes a fixed 24-dim hourly profile, and the
    * top-20 closest user pairs by Euclidean distance are returned.
    *
    * Oracle-stability engineering: bucket sums are rounded at an
    * exactness-preserving scale BEFORE the distance (so both engines fold
    * identical doubles), the distance is an explicitly SEQUENTIAL fold
    * (`aggregate`, mirrored by `list_reduce` in the oracle — list_sum
    * could re-associate), and ranking runs on the rounded distance with
    * id tie-breaks.
    *
    * Scale: profiles are one groupBy (agg state = 24 doubles/user); the
    * pair join is the brute-force baseline — at real cardinality the
    * LSH/IVF bucketing of [[Similarity]] applies unchanged to profile
    * vectors. */
  /** 24-dim hourly profile vector per user — the shared front half of
    * the ts-similarity family (one groupBy; agg state = 24 doubles/user).
    *
    * EXACT-TWIN COLLAPSE (round 15): identical profile vectors are kept
    * only up to the [[ProfTwinKeep]] smallest user_ids per class. This is
    * OUTPUT-INVARIANT for the family's top-[[ProfTopK]]-pairs contract —
    * proof: twins have bit-identical vectors, so for any pair P involving
    * a rank-22+ member m of a twin class, substituting m with each of the
    * 21 retained smaller-id twins yields ≥ 20 DISTINCT pairs with the
    * EXACT same distance and a lexicographically smaller (user_a, user_b)
    * key (the substituted id is smaller than m in every arrangement of
    * the (min, max) pair ordering), all of which rank strictly ahead of P
    * under the (dist, user_a, user_b) total order — so P can never reach
    * the top 20 and dropping m loses nothing. Keeping k+1 (not k) members
    * covers classes that must fill the whole result from within.
    *
    * WHY IT MATTERS AT SCALE: real corpora are duplicate-heavy (the
    * premise of the dedup family), and exact twins are the worst case
    * for any LSH self-join — they share EVERY bucket, so candidate pairs
    * grow quadratically in class size while contributing nothing past
    * the first 21 members. The r14 sf10 probe measured it: 139.9 s on
    * the duplicate-heavy MakeScale corpus (every profile × 100 exact
    * twins) vs 79.5 s on the decorrelated equivalent. The collapse is
    * one window over the slim (user_id, 24-double) profile relation —
    * ~200 B/row, partitioned BY VECTOR so classes sort independently —
    * and deletes the blowup before bucketing ever sees it. Known skew
    * bound: a single pathological class (millions of identical
    * profiles) serializes onto one window task; rows are slim so this
    * is GBs at the extreme, and the remedy if it ever bites is the
    * standard two-phase trim — pre-truncate per (vec, knuth(user_id)
    * mod S) salt to 21, then the global window sees ≤ 21·S rows per
    * class (result identical: the global smallest 21 survive any salt
    * split). On a
    * twin-free corpus every class is a singleton and the relation passes
    * through unchanged (all driver SFs verified singleton-only, so gated
    * candidate sets and hashes are bit-identical to the pre-collapse
    * form). Mirrored CTE-for-CTE in the oracle SQL. */
  private[graft] def profileVecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    // Missing hours densify to 0.0 via a map lookup over sequence(0, 23)
    // — a pure per-row transform, not the users × 24 grid join a naive
    // formulation would use (which adds a shuffle AND a
    // BroadcastNestedLoopJoin to the plan).
    val raw = ev.groupBy($"user_id", hour($"ts").as("h"))
      .agg(round(sum($"value"), 2).as("v"))
      .groupBy($"user_id")
      .agg(map_from_entries(collect_list(struct($"h", $"v"))).as("m"))
      .select($"user_id",
        expr("transform(sequence(0, 23), h -> coalesce(element_at(m, h), 0D))").as("vec"))
    val byTwin = Window.partitionBy($"vec").orderBy($"user_id".asc)
    raw.withColumn("twin_rank", row_number().over(byTwin))
      .where($"twin_rank" <= ProfTwinKeep)
      .drop("twin_rank")
  }

  /** Result size of the ts-similarity family (top-k pairs), and the
    * per-twin-class retention bound it implies (k+1 — see the
    * [[profileVecs]] collapse proof). */
  private[graft] val ProfTopK = 20
  private[graft] val ProfTwinKeep = ProfTopK + 1

  /** The exact pair distance over `va`/`vb` — ONE shared expression so
    * the fused scored path ([[tsScored]]) and the brute twin fold the
    * identical double sequence (same zip order, same sequential
    * aggregate, same round-at-6) and the oracle keeps matching both. */
  private def pairDistCol: Column =
    round(sqrt(expr(
      "aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)")), 6)

  private def pairDist(df: DataFrame): DataFrame =
    df.withColumn("dist", pairDistCol)
      .select(col("user_a"), col("user_b"), col("dist"))
      .orderBy(col("dist").asc, col("user_a").asc, col("user_b").asc)
      .limit(ProfTopK)

  /** Brute-force all-pairs baseline — O(U²) BroadcastNestedLoopJoin, kept
    * UNREGISTERED as the recall cross-check for [[tsSimilarity]]
    * (EventOpsSpec). */
  private[graft] def tsSimilarityBrute(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vecs = profileVecs(s, dir).persist()
    val a = vecs.select($"user_id".as("user_a"), $"vec".as("va"))
    val b = vecs.select($"user_id".as("user_b"), $"vec".as("vb"))
    pairDist(a.join(b, $"user_a" < $"user_b"))
  }

  // E2LSH (Datar et al., SoCG'04) parameters for the 24-dim profiles:
  // PT tables × PK quantized projections each, width PW. Plane components
  // are exact rationals k/1000 from Similarity.planeIntMatrix, so the
  // DuckDB oracle rebuilds bit-identical projections from the inlined
  // integer matrix. Round-10 retune (r9 ran 12/4/600 at selectivity
  // 0.38): the floor was NOT data-intrinsic but the p1/p2 amplification
  // gap at k=4 — raising the concatenation to k=5 with 18 tables and
  // w=500 cuts far-pair collisions much faster than near-pair ones.
  // Measured (full grid incl. Hamming-1 probe and bucket-cap variants in
  // BASELINE.md): selectivity 0.196 at sf0.1 with recall 0.95 (was
  // 0.384/0.95), 0.209/0.80 at sf0.01. The sf0.01 recall cedes 0.85→0.80
  // BY CHOICE: a top-20 target over C(500,2) pairs sits at distance ≈437
  // vs ≈330 at sf0.1 — the SMALL corpus is the intrinsically hard one,
  // and growing the corpus moves the top-k closer (easier), so tuning
  // for the bench SF is the scale-correct trade. Bucket caps were
  // measured and REJECTED: near pairs live in the crowded buckets here
  // (cap=100 → recall 0.60), unlike dedup's maxDf where hot keys carry
  // no signal.
  private[graft] val ProfTables = 18
  private[graft] val ProfProj = 5
  private[graft] val ProfWidth = 500.0

  // ---- Corpus-adaptive amplification (VERDICT r10 "what's wrong" #2).
  // At FIXED (k, L) the candidate fraction of all pairs is a constant of
  // the distance distribution, so candidates grow Θ(n²). LSH theory says
  // k must GROW with n — k = log_{1/p2}(n) + c keeps per-query far
  // collisions L·p2^k ∝ L/n, i.e. total candidates ~ n^(1+ρ),
  // subquadratic. From the r10 tuning grid, one quantized projection
  // collides far pairs at p2 ≈ 0.405 (18·p2⁵ = 0.196 and 12·p2⁴ = 0.38
  // both solve to ≈0.405) and near (top-20) pairs at p1 ≈ 0.69, so:
  //   - +1 concatenation per 1/p2 ≈ 2.5× user growth,
  //   - tables ×(1/p1) ≈ ×1.33 per step to hold near-pair recall
  //     (1-(1-p1^k)^L stays ≈0.9+ along the ladder).
  // The ladder is INTEGER thresholds on the exact user count — never
  // ln()/pow() at a boundary, where libm rounding could make the two
  // engines disagree on k — anchored at the sf0.1 corpus (1.5k users →
  // the r10-tuned 18×5) with steps at 1.5k·2.5^j. The plane pool is
  // prefix-stable (planeIntMatrix row h depends only on h), so ladder
  // rung j uses rows 0..pt·pk-1 of the SAME pool and the base-corpus
  // results (and oracle hashes) are bit-identical to fixed-param r10.
  // Rung tables run slightly above the ×1.33/step floor (24, 40, 53):
  // measured at 15k users (BASELINE.md), rungs 32 and 40 both return
  // 17/20 — the targets there are ~20 independent replica copies of the
  // same base pairs, each an independent amplification trial, so 17/20
  // is binomial noise around the expected ~0.91 (L=32) / ~0.95 (L=40)
  // per-copy hit rate; the wider rung ships for the expectation margin.
  // Selectivity still strictly falls along the ladder either way.
  private[graft] val ProfSteps: Seq[(Long, Int, Int)] = Seq(
    // (min users, pk, pt). Rung-2 tables sit at the ×1.33 growth floor
    // (24 → 32): the ladder bench measured recall 0.85 at BOTH L=32 and
    // L=40 on the 15k-user corpus (the K=10 top-20 are ~20 independent
    // amplification trials, 17/20 either way) with selectivity 0.089 vs
    // 0.105 — equal recall, 30% less candidate work, so the floor wins.
    // 4th rung (round 14): the sf10 probe measured the (8,53) top rung
    // one decade up (150k users) at 2,817 candidates/user — 4.2× per
    // decade — and 175 s wall even after the broadcast-verify fix. The
    // r14 rung sweep at 150k (ts-shifted replicas, brute ground
    // truth): 9×64 → 2,581/user, 10×72 → 2,017, 11×80 → 1,429 (79.5 s),
    // all at recall 1.00 with cap 400. 11×80 holds candidates/user
    // growth at ~2.1× per decade (666 → 1,429 from the 15k rung) —
    // inside the ≤3× target the sign-LSH family meets. Threshold keeps
    // the ladder's ×2.5 geometric spacing.
    (5000L, 6, 24), (12500L, 7, 32), (31250L, 8, 53), (78125L, 11, 80)) ++
    // Closed-form extension (r17, VERDICT r16 #1/#7: every measured rung
    // table ended one decade above its largest measured corpus, and the
    // repo's own 150k-user incident shows candidates reverting to linear
    // growth one decade past a top rung). Thresholds keep the ×2.5
    // geometric spacing in exact Long arithmetic (·5, then /2); per rung
    // pk += 1 (the +1 concatenation per 1/p2 ≈ 2.5× rule above) and
    // pt ×= 1.45 rounded (the measured 24→32→53→80 trajectory's mean
    // step, above the ×1.33 recall floor). These rungs are the RULE's
    // prediction, to be re-calibrated the way r14's cap sweep calibrated
    // the 11×80 rung when a corpus actually reaches them — measured
    // rows live in BASELINE.md ("E2LSH extension rungs", r19/r20).
    Iterator.iterate((78125L, 11, 80)) { case (thr, pk, pt) =>
      (thr * 5 / 2, pk + 1, math.round(pt * 1.45).toInt)
    }.drop(1).take(3).toSeq
  private[graft] def profParams(nUsers: Long): (Int, Int) =
    ProfSteps.foldLeft((ProfTables, ProfProj)) {
      case (acc, (thr, pk, pt)) => if (nUsers >= thr) (pt, pk) else acc
    }

  // Hot-bucket postings cap for the profile E2LSH (round 14) — the
  // [[Similarity.capPostings]] treatment. Round 10 measured and REJECTED
  // an aggressive absolute cap (cap=100 at the then-(5,18) grid cost
  // recall 0.95→0.60: near pairs DO live in crowded buckets here), so
  // the r14 cap is a SKEW-TAIL cut, not a mean-occupancy bound: it
  // activates only at/above the first ladder rung (every driver SF is
  // below 5k users → gated hashes unchanged) with a cap high enough
  // that only the few pathological buckets — which contribute pairs
  // QUADRATICALLY in their size — are truncated, and the table count
  // (24-53 at the capped rungs) gives a truncated-away near pair many
  // independent chances to survive elsewhere. Cap=400 is MEASURED
  // (BASELINE.md "Hot-bucket postings caps", 15k-user rung (7,32),
  // ts-shifted replica corpus): it
  // leaves the top-20 recall UNCHANGED at 0.85 and the post-distinct
  // candidate set within 0.7% — its entire win is cutting the
  // PRE-distinct pair blowup, which grows with Σ m² per bucket while
  // the distinct output doesn't (a 2,000-member bucket emits 4M join
  // pairs; capped at 400 it emits 160k) — wall-clock ~12.4 s → ~5.6 s
  // at K=10. The next rungs down are the cliff the r10 rejection
  // mapped: cap=200 → recall 0.80, cap=100 → 0.55. Deterministic
  // knuth-hash keep rank, mirrored in the oracle SQL.
  private[graft] val ProfCapMinUsers: Long = ProfSteps.head._1
  private[graft] val ProfCap = 400L
  private[graft] def profCap(nUsers: Long): Option[Long] =
    if (nUsers >= ProfCapMinUsers) Some(ProfCap) else None
  private val ProfPoolSize: Int = {
    val (pt, pk) = (ProfSteps.last._3, ProfSteps.last._2)
    // ProfSteps.last-derived — currently (1220700, 14, 244) → 3416 rows
    // (the r17 closed-form ladder extension grew it ~4× from the
    // pre-extension 344; the oracle's inlined integer plane matrix grows
    // with it, same generator on both sides).
    pt * pk
  }
  private[operators] val profPlaneInts: Array[Array[Int]] =
    Similarity.planeIntMatrix(ProfPoolSize, 24)
  private val profPlanes: Array[Array[Double]] = profPlaneInts.map(_.map(_ / 1000.0))

  /** E2LSH buckets `(user_id[, vec], tbl, qs)` over a [[profileVecs]]
    * relation: `pt` tables of `pk` projections of width `pw`, capped per
    * bucket. Two users sharing a `(tbl, qs)` bucket are a candidate pair.
    * Registered queries pass the [[profParams]] ladder rung for the
    * corpus user count. Planes come from the prefix-stable shared pool
    * whenever the rung fits in it. */
  private[graft] def tsBuckets(vecs: DataFrame, pt: Int, pk: Int, pw: Double,
                               cap: Option[Long], withVec: Boolean): DataFrame = {
    val planes =
      if (pt * pk <= profPlanes.length) profPlanes
      else Similarity.planeIntMatrix(pt * pk, 24).map(_.map(_ / 1000.0))
    // One E2lshKeys expression for ALL pt*pk grid keys (r13): the old
    // per-projection floor(dotConst/w) array hit the same whole-stage
    // JIT cliff as sign-LSH once the ladder widened (224 fused dot loops
    // at the 15k-user rung ran interpreted). Same dot order and
    // floor-divide sequence — the oracle rebuilds identical keys.
    val qCols = graft.functions.E2lshKeys.e2lshKeys(
      col("vec"), planes.take(pt * pk), pw)
    // Per-table key = the rung's pk-element SLICE of the key array —
    // array-valued join key, exactly the oracle's `qs` list. The r13
    // form unrolled pt·pk element_at struct fields into the projection;
    // at the (53, 8) rung that one whole-stage method crossed HotSpot's
    // 8000-byte JIT limit (CodegenBudgetSpec caught it) — slice inside
    // posexplode generates a constant-size loop at any rung.
    val keep = if (withVec) Seq(col("user_id"), col("vec")) else Seq(col("user_id"))
    val buckets0 = vecs.withColumn("q", qCols)
      .select(keep :+ posexplode(
        transform(sequence(lit(0), lit(pt - 1)),
          t => slice(col("q"), t * lit(pk) + lit(1), lit(pk)))): _*)
      .select(keep ++ Seq(col("pos").cast("int").as("tbl"), col("col").as("qs")): _*)
    // Pairs form within a bucket QUADRATICALLY in its size, so the
    // skew-tail cap applies to BOTH sides of the self-join (unlike the
    // asymmetric query/corpus ANN form): within a truncated bucket only
    // the deterministic sample pairs up.
    Similarity.capPostings(buckets0, cap,
      idCol = "user_id", keyCols = Seq("tbl", "qs"))
  }

  /** Fused candidate-and-verify stream: the exact distance is computed
    * in the bucket self-join's OUTPUT PIPELINE, so only `(user_a,
    * user_b, dist)` — 24 bytes — ever reaches [[tsSimilarity]]'s heap and
    * the candidate pair stream is never materialized to an exchange.
    * This is the r19 slim-top reshape of the r18 scale-killer: the
    * previous plan pushed the 10⁹⁺-row pre-distinct pair stream through
    * a `.distinct()` re-shuffle and then re-shuffled the distinct
    * relation twice more to re-attach vectors (sort-merge above the
    * 500k-user broadcast bound) — at ~1M users those stacked shuffle
    * files exhausted ~230 GB of disk on one host (BASELINE.md r18).
    *
    * Two vector-attach regimes, both pair-exchange-free:
    *   - `broadcastAttach` (n ≤ [[BroadcastProfileMaxUsers]]): buckets
    *     stay SLIM (~130 B/row); the join's merged output streams
    *     through two broadcast-hash vector attaches (profile relation ≤
    *     ~460 MB at the bound) straight into the heap. Disk cost = the
    *     slim bucket exchange + its join sorts only.
    *   - fat form (above the bound, where the profile relation is
    *     genuinely too big to ship): the 24-dim profile RIDES IN the
    *     bucket relation (~330 B/row, ~2.5× the slim exchange) and the
    *     distance is computed from the join's own columns — shuffle
    *     stays n·pt rows, LINEAR in corpus size, with no broadcast and
    *     no pair-stream exchange at any n.
    * Identical results either way (same fold, same rounding — the
    * attach is a plan choice, as AQE would make). */
  private[graft] def tsScored(vecs: DataFrame,
                              pt: Int = ProfTables,
                              pk: Int = ProfProj,
                              pw: Double = ProfWidth,
                              cap: Option[Long] = None,
                              broadcastAttach: Boolean = true): DataFrame = {
    val buckets = tsBuckets(vecs, pt, pk, pw, cap, withVec = !broadcastAttach)
    val joined = buckets.as("ba")
      .join(buckets.as("bb"), Seq("tbl", "qs"), "inner")
      .where(col("ba.user_id") < col("bb.user_id"))
    val withVecs =
      if (broadcastAttach)
        joined
          .select(col("ba.user_id").as("user_a"), col("bb.user_id").as("user_b"))
          .join(broadcast(vecs.select(col("user_id").as("user_a"), col("vec").as("va"))), "user_a")
          .join(broadcast(vecs.select(col("user_id").as("user_b"), col("vec").as("vb"))), "user_b")
      else
        joined.select(col("ba.user_id").as("user_a"), col("bb.user_id").as("user_b"),
          col("ba.vec").as("va"), col("bb.vec").as("vb"))
    withVecs
      .withColumn("dist", pairDistCol)
      .select(col("user_a"), col("user_b"), col("dist"))
  }

  /** Max user count whose 24-dim profile relation ships as a broadcast
    * to [[tsScored]]'s vector attaches (~230 B/row → ~460 MB at the
    * bound — heavy but routine for a per-executor hash relation; above
    * it the fat-bucket form keeps the plan linear with no broadcast). */
  private[graft] val BroadcastProfileMaxUsers = 2000000L

  /** Time-series similarity search (the distributed top-k pattern of the
    * EDBT'19/ICDE'21 similarity-search literature, sized to this corpus):
    * each user's activity becomes a fixed 24-dim hourly profile, and the
    * top-20 closest user pairs by Euclidean distance are returned —
    * candidates generated by E2LSH bucketing, NOT an all-pairs join.
    *
    * APPROXIMATE BY CONTRACT: the registered semantics of
    * `ev_ts_similarity` are "top-20 among E2LSH-bucketed candidate
    * pairs", and the DuckDB oracle rebuilds the SAME planes/buckets from
    * the inlined integer matrix — so the correctness gate verifies that
    * two independent engines agree on the full LSH pipeline, not that
    * LSH equals exact nearest neighbors. The exact contract is covered
    * separately: the unregistered brute-force twin
    * ([[tsSimilarityBrute]]) cross-checks recall in EventOpsSpec at
    * sf0.01; the bench-SF (sf0.1) recall is recorded in BASELINE.md
    * "Similarity scaling".
    *
    * Scale: profiles are one groupBy; each user hashes into PT
    * (table, floor(v·p/w)…) bucket keys (per-row map over codegen'd
    * [[graft.functions.ConstVectorDot]] projections), candidates are an
    * equi-join on the bucket key, the exact distance is paid inside the
    * join pipeline ([[tsScored]]), and the top-20 is cut by a
    * per-partition heap with NO pair-stream exchange — no
    * BroadcastNestedLoopJoin anywhere in the plan (asserted in
    * PlanSpec). At 100 TB this is the same posting-key
    * equi-join shape as the dedup family — and amplification is
    * CORPUS-ADAPTIVE: the [[profParams]] ladder raises concatenation
    * with the user count so candidate selectivity FALLS as n grows
    * (`SIMILARITY_SCALE_r*.json`; at fixed k it was a flat 0.196
    * of all pairs = Θ(n²), VERDICT r10). The user count that picks the
    * rung is one tiny job over the persisted 24-dim profile relation —
    * the same plan-before-you-run runtime adaptivity as AQE, priced at
    * one aggregate over ≤|users| rows.
    *
    * Oracle-stability engineering: bucket sums are rounded at an
    * exactness-preserving scale BEFORE the distance (so both engines fold
    * identical doubles), projections/distances are explicitly SEQUENTIAL
    * folds mirrored by the oracle, ranking runs on the rounded distance
    * with id tie-breaks — and the ladder is integer thresholds on the
    * exact user count, so both engines deterministically pick the same
    * rung. */
  def tsSimilarity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vecs = profileVecs(s, dir).persist() // counted once for the rung pick
    val nUsers = vecs.count()
    val (pt, pk) = profParams(nUsers)
    // Slim-top shape (r19; replaces the r14 distinct + broadcast/SMJ
    // verify that blew the disk at ~1M users — see [[tsScored]]): the
    // scored stream feeds a TakeOrdered heap of size ProfTopK·pt, the
    // tiny survivor set is deduplicated, and the global top-20 is cut.
    //
    // WHY ProfTopK·pt IS EXACT (not approximate): a candidate pair
    // occurs once per table whose bucket both users share, so ≤ pt
    // occurrences, and every occurrence carries the IDENTICAL
    // deterministic `dist` (same fold, same rounding). Under the total
    // order (dist, user_a, user_b), the rows strictly ahead of any
    // occurrence of the rank-r (r ≤ 20) distinct pair are occurrences of
    // the r−1 ≤ 19 distinct pairs ranked ahead of it — at most 19·pt
    // rows — so after its own ≤ pt duplicate rows, some occurrence of
    // every top-20 pair sits within the first 20·pt rows. Dedup of that
    // ≤ 20·pt-row set (min over identical values = the value) and a
    // final top-20 therefore reproduce the pre-r19 `distinct → verify →
    // top-20` result bit-for-bit: oracle SQL and hashes unchanged.
    //
    // Plan shape: TakeOrderedAndProject keeps a 20·pt-row heap PER
    // PARTITION of the join output (≤ 4,880 rows at the widest ladder
    // rung — far under topKSortFallbackThreshold), merges once, and the
    // dedup aggregate + final top-20 run over that single tiny set. No
    // exchange ever sees a pair-stream row. PlanSpec pins this.
    tsScored(vecs, pt, pk, cap = profCap(nUsers),
        broadcastAttach = nUsers <= BroadcastProfileMaxUsers)
      .orderBy($"dist".asc, $"user_a".asc, $"user_b".asc)
      .limit(ProfTopK * pt)
      .groupBy($"user_a", $"user_b").agg(min($"dist").as("dist"))
      .orderBy($"dist".asc, $"user_a".asc, $"user_b".asc)
      .limit(ProfTopK)
  }

  /** Keyed first-event extraction (streaming dedup-by-key analog):
    * earliest event per (user_id, event_type), ties broken by event_id. */
  /** Event-path transition matrix: per user, order events by the unique
    * (ts, event_id) key and count every consecutive `from_type → to_type`
    * hop, with the exact integer microsecond gap sum — the Markov-chain /
    * user-path view that completes the sessionize / funnel / retention
    * product-analytics family (what "top next action after a view" style
    * path mining reads). avg_gap_s is ONE double division chain over the
    * exact integer sums, deterministically rounded in both engines.
    *
    * Scale: one user-keyed window shuffle (the same key sessionize and
    * firstPerKey already use — a co-partitioned pipeline reuses the
    * exchange), then an agg onto ≤|event_types|² keys with map-side
    * combine, so the second shuffle moves a few dozen rows regardless of
    * input size. No skew risk: the window key is user_id, not type. */
  def transitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us".asc, $"event_id".asc)
    Tables.events(s, dir)
      .select($"user_id", $"event_id", $"event_type", Tables.micros($"ts").as("us"))
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .withColumn("gap_us", lead($"us", 1).over(w) - $"us")
      .where($"to_type".isNotNull)
      .select($"event_type".as("from_type"), $"to_type", $"gap_us")
      .groupBy($"from_type", $"to_type")
      .agg(count(lit(1)).as("n"), sum($"gap_us").as("sum_gap_us"))
      .withColumn("avg_gap_s",
        round($"sum_gap_us".cast("double") / $"n" / lit(1000000.0), 6))
      .orderBy($"from_type", $"to_type")
  }

  def firstPerKey(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts".asc, $"event_id".asc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
      .orderBy($"user_id", $"event_type")
  }

  /** Robust anomaly detection via median / MAD (the Iglewicz–Hoaglin
    * modified z-score): unlike the p99-threshold [[outliers]] and any
    * mean/stddev z-score, the median and MAD are unaffected by the
    * outliers themselves (50% breakdown point), so a burst of bad values
    * cannot mask itself by inflating the threshold.
    *
    * Two exact-percentile aggregations per event_type (median of values,
    * then median of absolute deviations), each a single shuffle onto a
    * handful of keys with the per-type scalars broadcast back — the
    * events table itself never re-shuffles. At 100 TB swap `percentile`
    * for `percentile_approx` (constant-memory sketch) at the cost of the
    * exact oracle; the plan shape is identical. Flagging runs on the
    * ROUNDED score so the cut at 3.5 is reproducible cross-engine. */
  /** Per-type (median, MAD) threshold table — the "model" half of robust
    * anomaly detection, also served to the streaming apply path
    * ([[graft.streaming.EventStreamOps.scoreAnomalies]]): batch computes
    * the robust statistics, the stream scores against them statelessly. */
  private[graft] def madThresholds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val med = ev.groupBy($"event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    ev.join(broadcast(med), "event_type")
      .withColumn("absdev", abs($"value" - $"med"))
      .groupBy($"event_type")
      .agg(first($"med").as("med"), expr("percentile(absdev, 0.5)").as("mad"))
  }

  def anomalyMad(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .join(broadcast(madThresholds(s, dir)), "event_type")
      .withColumn("robust_z", round(lit(0.6745) * ($"value" - $"med") / $"mad", 6))
      .where(abs($"robust_z") > 3.5)
      .select($"event_type", $"event_id", $"value", $"robust_z")
      .orderBy($"event_type", $"event_id")
  }

  /** Watermark-delay audit: how late do events actually arrive, and what
    * fraction would a given watermark drop? Arrival order is event_id
    * (the ingest sequence); per event_type a running high-water-mark of
    * event time is carried along arrival order, and an event's lateness
    * is how far the clock had already advanced past it when it arrived —
    * exactly the quantity Structured Streaming's `withWatermark` bounds.
    * The output (max / p50 / p95 / p99 lateness + the drop rate of a
    * 10-minute watermark) is the table you read before choosing the
    * delay for the streaming jobs in [[graft.streaming]].
    *
    * Scale: the running max is an analytic partitioned BY KEY — each
    * event_type's arrival sequence sorts independently (one shuffle, no
    * single-partition global order), matching how per-key watermarks
    * shard in production. Lateness stays in exact integer microseconds
    * until the final per-type percentile aggregation. */
  def latenessAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("hwm", max($"ts").over(w))
      .withColumn("late_us", Tables.micros($"hwm") - Tables.micros($"ts"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        max($"late_us").as("max_late_us"),
        round(expr("percentile(late_us, 0.5)"), 6).as("p50_late_us"),
        round(expr("percentile(late_us, 0.95)"), 6).as("p95_late_us"),
        round(expr("percentile(late_us, 0.99)"), 6).as("p99_late_us"),
        sum(when($"late_us" > 600000000L, 1L).otherwise(0L)).as("n_dropped_10m"),
        round(sum(when($"late_us" > 600000000L, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("drop_rate_10m"))
      .orderBy($"event_type")
  }

  /** Time-grid gap fill: the dense (event_type × hour) grid over the
    * corpus's full time range with zero-filled empty cells — what every
    * downstream charting / forecasting / SLA job wants instead of a
    * sparse aggregate where absence is ambiguous.
    *
    * The grid derives from one scalar min/max aggregation (a 1-row
    * `sequence()` explode) crossed with the distinct keys — both sides
    * are tiny and broadcast; the only data-sized operation is the
    * pre-aggregated hourly count (one shuffle with map-side combine).
    * At 100 TB the hour axis grows with TIME, not data volume, so the
    * grid stays broadcastable by construction. */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", date_trunc("hour", $"ts").as("h"))
    val grid = ev.agg(min($"h").as("h0"), max($"h").as("h1"))
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val types = ev.select($"event_type").distinct()
    val counts = ev.groupBy($"event_type", $"h").agg(count(lit(1)).as("n"))
    grid.crossJoin(types)
      .join(broadcast(counts), Seq("event_type", "h"), "left")
      .select($"event_type", $"h".as("hour_start"),
        coalesce($"n", lit(0L)).as("n_events"))
      .orderBy($"event_type", $"hour_start")
  }

  private val HistWidth = 10.0

  /** Fixed-width value-distribution histogram per event type — the
    * data-profiling primitive a quality monitor computes per batch
    * (bucket counts + within-type shares; pair with [[anomalyMad]] for
    * the alerting side). Bucket = floor(value / 10), so bucket bounds
    * are exact rationals and the oracle reproduces them bit-for-bit.
    *
    * Scale: the heavy work is ONE partially-aggregated
    * groupBy(type, bucket) over the raw events; the share window then
    * runs on the already-aggregated (type × bucket) grid — thousands of
    * rows at any corpus size, never the raw stream. */
  def histogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byType = Window.partitionBy($"event_type")
    Tables.events(s, dir)
      .withColumn("bucket", floor($"value" / HistWidth).cast("long"))
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("n"))
      .withColumn("lo", $"bucket" * HistWidth)
      .withColumn("share", round($"n" / sum($"n").over(byType), 6))
      .select($"event_type", $"bucket", $"lo", $"n", $"share")
      .orderBy($"event_type", $"bucket")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_hourly_counts"  -> (hourlyCounts _),
    "ev_histogram"      -> (histogram _),
    "ev_anomaly_mad"    -> (anomalyMad _),
    "ev_lateness_audit" -> (latenessAudit _),
    "ev_gap_fill"       -> (gapFill _),
    "ev_10min_by_type"  -> (tenMinByType _),
    "ev_classify_geo"   -> (classifyGeo _),
    "ev_trend_join"     -> (trendJoin _),
    "ev_trend_lag"      -> (trendLag _),
    "ev_sliding_windows"-> (slidingWindows _),
    "ev_sessionize"     -> (sessionize _),
    "ev_asof_join"      -> (asofJoin _),
    "ev_asof_native"    -> (asofNative _),
    "ev_interval_join"  -> (intervalJoin _),
    "ev_first_per_key"  -> (firstPerKey _),
    "ev_json_props"     -> (jsonProps _),
    "ev_ts_similarity"  -> (tsSimilarity _),
    "ev_funnel"         -> (funnel _),
    "ev_retention"      -> (retention _),
    "ev_outliers"       -> (outliers _),
    "ev_validity"       -> (validityIntervals _),
    "ev_transitions"    -> (transitions _),
  )

  /** The E2LSH profile plane POOL as SQL VALUES rows `(h, plane
    * DOUBLE[])` — all [[ProfPoolSize]] rows; the ladder rung's
    * `pt·pk` prefix is selected by the WHERE in the oracle query. */
  private def profPlaneSqlValues: String =
    profPlaneInts.zipWithIndex.map { case (row, h) =>
      s"($h, list_transform([${row.mkString(",")}], k -> k / 1000.0))"
    }.mkString(",\n")

  /** The [[profParams]] ladder as a one-row SQL relation `(pk, pt)` over
    * a `vecs` CTE — generated from [[ProfSteps]] so the Scala rule and
    * the oracle's rule are the same object and cannot drift. Integer
    * threshold comparisons only: both engines pick the same rung for
    * the same user count, deterministically. */
  private def profParamCaseSql: String = {
    val steps = ProfSteps.reverse
    val pkCase = steps.map { case (thr, pk, _) => s"WHEN nu >= $thr THEN $pk" }
      .mkString(" ")
    val ptCase = steps.map { case (thr, _, pt) => s"WHEN nu >= $thr THEN $pt" }
      .mkString(" ")
    s"""SELECT CASE $pkCase ELSE $ProfProj END AS pk,
       |         CASE $ptCase ELSE $ProfTables END AS pt,
       |         CASE WHEN nu >= $ProfCapMinUsers THEN $ProfCap
       |              ELSE NULL END AS cap
       |  FROM (SELECT count(*) AS nu FROM vecs)""".stripMargin
  }

  private val trendOracle =
    """WITH w AS (
      |  SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT a.ws AS window_start, a.event_type, a.n, b.n AS prev_n
      |FROM w a JOIN w b
      |  ON a.event_type = b.event_type AND a.ws = b.ws + INTERVAL '10 minutes'
      |WHERE a.n >= 3 AND a.n >= 2 * b.n
      |ORDER BY window_start, a.event_type""".stripMargin

  override def oracles: Map[String, String] = Map(
    // Same unique (ts, event_id) total order on both sides; gaps are exact
    // integer microsecond sums, and avg_gap_s is the identical double
    // division chain (sum → /n → /1e6 → round 6) in both engines.
    "ev_transitions" ->
      """WITH o AS (
        |  SELECT event_type,
        |         lead(event_type) OVER w AS to_type,
        |         lead(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT event_type AS from_type, to_type,
        |       count(*) AS n, CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
        |       round(CAST(sum(gap_us) AS DOUBLE) / count(*) / 1000000.0, 6)
        |         AS avg_gap_s
        |FROM o WHERE to_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY from_type, to_type""".stripMargin,
    "ev_hourly_counts" ->
      """SELECT date_trunc('hour', ts) AS window_start,
        |       count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY window_start""".stripMargin,
    "ev_10min_by_type" ->
      """SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
        |       event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "ev_classify_geo" ->
      s"""WITH pts AS (
         |  SELECT ts,
         |       $coordsSql
         |  FROM events
         |), cls AS (
         |  SELECT ts,
         |       $classifySql
         |  FROM pts
         |)
         |SELECT date_trunc('hour', ts) AS window_start, hq, count(*) AS n
         |FROM cls GROUP BY 1, 2 ORDER BY window_start, hq""".stripMargin,
    "ev_trend_join" -> trendOracle,
    "ev_trend_lag"  -> trendOracle,
    // duration 10 / slide 5 ⇒ every event belongs to exactly the two
    // windows starting at bucket5(ts) and bucket5(ts) - 5 min
    "ev_sliding_windows" ->
      """WITH w AS (
        |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS b, event_type FROM events
        |), x AS (
        |  SELECT b AS ws, event_type FROM w
        |  UNION ALL
        |  SELECT b - INTERVAL '5 minutes' AS ws, event_type FROM w
        |)
        |SELECT ws AS window_start, event_type, count(*) AS n
        |FROM x GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,
    "ev_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts, value,
        |         -- > (not >=): Spark's session_window MERGES a gap equal to
        |         -- exactly the timeout (sessions touch → one session; split
        |         -- only when gap > timeout). Pinned by SessionizeSpec's
        |         -- exact-30-minute-gap fixture.
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                   > INTERVAL '30 minutes'
        |              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |), g AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                   ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM x
        |)
        |SELECT min(ts) AS session_start,
        |       max(ts) + INTERVAL '30 minutes' AS session_end,
        |       user_id, count(*) AS n_events, round(sum(value), 2) AS session_value
        |FROM g GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    // DuckDB's native ASOF JOIN — (user_id, ts) is unique in the data, so
    // the greatest-ts-≤ match is well-defined on both engines.
    "ev_asof_join" ->
      """WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        |       c.event_id AS click_id, c.ts AS click_ts,
        |       date_diff('microsecond', c.ts, p.ts) AS gap_us
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin,
    // identical oracle to ev_asof_join — the two Spark plans (window
    // composition vs custom merge operator) must agree with DuckDB and
    // hence with each other
    "ev_asof_native" ->
      """WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        |       c.event_id AS click_id, c.ts AS click_ts,
        |       date_diff('microsecond', c.ts, p.ts) AS gap_us
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin,
    "ev_interval_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.event_id AS purchase_id, p.user_id, count(c.event_id) AS n_clicks
        |FROM p LEFT JOIN c
        |  ON c.user_id = p.user_id
        | AND c.ts >= p.ts - INTERVAL '10 minutes' AND c.ts <= p.ts
        |GROUP BY 1, 2
        |ORDER BY purchase_id""".stripMargin,
    "ev_validity" ->
      """SELECT user_id, event_id, event_type, ts AS valid_from,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS valid_to
        |FROM events
        |ORDER BY user_id, valid_from, event_id""".stripMargin,
    "ev_outliers" ->
      """WITH thr AS (
        |  SELECT event_type, round(quantile_cont(value, 0.99), 6) AS p99
        |  FROM events GROUP BY 1
        |)
        |SELECT e.event_type, t.p99, count(*) AS n_outliers,
        |       round(max(e.value), 6) AS max_value
        |FROM events e JOIN thr t ON e.event_type = t.event_type
        |WHERE e.value > t.p99
        |GROUP BY 1, 2
        |ORDER BY 1""".stripMargin,
    "ev_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |      JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
        |      WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |      JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
        |      WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT step, n_users FROM (
        |  SELECT '1_view' AS step, count(*) AS n_users FROM v
        |  UNION ALL SELECT '2_click', count(*) FROM c
        |  UNION ALL SELECT '3_purchase', count(*) FROM p
        |) ORDER BY step""".stripMargin,
    "ev_retention" ->
      """WITH first AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS cohort FROM events GROUP BY 1
        |), act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |)
        |SELECT f.cohort, date_diff('day', f.cohort, a.d) AS day_offset,
        |       count(DISTINCT a.user_id) AS n_users
        |FROM act a JOIN first f ON a.user_id = f.user_id
        |WHERE date_diff('day', f.cohort, a.d) <= 7
        |GROUP BY 1, 2
        |ORDER BY cohort, day_offset""".stripMargin,
    "ev_ts_similarity" ->
      s"""WITH prof AS (
        |  SELECT user_id, CAST(extract(hour FROM ts) AS INT) AS h,
        |         round(sum(value), 2) AS v
        |  FROM events GROUP BY 1, 2
        |), grid AS (
        |  SELECT u.user_id, g.h
        |  FROM (SELECT DISTINCT user_id FROM events) u,
        |       unnest(generate_series(0, 23)) AS g(h)
        |), vecs0 AS (
        |  SELECT f.user_id, list(f.v ORDER BY f.h) AS vec
        |  FROM (SELECT g.user_id, g.h, COALESCE(p.v, 0.0) AS v
        |        FROM grid g LEFT JOIN prof p
        |          ON g.user_id = p.user_id AND g.h = p.h) f
        |  GROUP BY 1
        |), vecs AS (
        |  -- exact-twin collapse (see profileVecs): keep the $ProfTwinKeep
        |  -- smallest user_ids per identical vector; output-invariant for
        |  -- a top-$ProfTopK-pairs query, a no-op on twin-free corpora
        |  SELECT user_id, vec FROM (
        |    SELECT v0.user_id, v0.vec,
        |           row_number() OVER (PARTITION BY v0.vec
        |               ORDER BY v0.user_id ASC) AS twin_rank
        |    FROM vecs0 v0)
        |  WHERE twin_rank <= $ProfTwinKeep
        |), par AS (
        |  $profParamCaseSql
        |), pl AS (SELECT * FROM (VALUES
        |$profPlaneSqlValues
        |) AS t(h, p)),
        |proj AS (
        |  SELECT v.user_id, pl.h, par.pk,
        |         CAST(floor(list_dot_product(v.vec, pl.p) / $ProfWidth) AS BIGINT) AS q
        |  FROM vecs v CROSS JOIN pl CROSS JOIN par
        |  WHERE pl.h < par.pt * par.pk
        |), buckets AS (
        |  SELECT user_id, h // pk AS tbl, list(q ORDER BY h) AS qs
        |  FROM proj GROUP BY 1, 2
        |), cbk AS (
        |  SELECT user_id, tbl, qs FROM (
        |    SELECT b.user_id, b.tbl, b.qs, par.cap,
        |           row_number() OVER (PARTITION BY b.tbl, b.qs
        |               ORDER BY ((b.user_id % 1000003) * 2654435761) % 1000003 ASC,
        |                        b.user_id ASC) AS prn
        |    FROM buckets b CROSS JOIN par)
        |  WHERE cap IS NULL OR prn <= cap
        |), cand AS (
        |  SELECT DISTINCT ba.user_id AS user_a, bb.user_id AS user_b
        |  FROM cbk ba JOIN cbk bb
        |    ON ba.tbl = bb.tbl AND ba.qs = bb.qs AND ba.user_id < bb.user_id
        |)
        |SELECT c.user_a, c.user_b,
        |       round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(generate_series(1, 24),
        |             i -> (a.vec[i] - b.vec[i]) * (a.vec[i] - b.vec[i]))),
        |           (acc, x) -> acc + x)), 6) AS dist
        |FROM cand c
        |JOIN vecs a ON a.user_id = c.user_a
        |JOIN vecs b ON b.user_id = c.user_b
        |ORDER BY dist ASC, user_a ASC, user_b ASC
        |LIMIT 20""".stripMargin,
    "ev_json_props" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum,
        |       min(CAST(props->>'$.k' AS BIGINT)) AS k_min,
        |       max(CAST(props->>'$.k' AS BIGINT)) AS k_max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ev_first_per_key" ->
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                               ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events
        |)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    // Same median→deviation→median chain; quantile_cont matches Spark's
    // exact `percentile` interpolation, and the 3.5 cut runs on the
    // round-6 score in both engines.
    "ev_anomaly_mad" ->
      """WITH m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1
        |), d AS (
        |  SELECT e.event_type, e.event_id, e.value, m.med,
        |         abs(e.value - m.med) AS absdev
        |  FROM events e JOIN m USING (event_type)
        |), md AS (
        |  SELECT event_type, quantile_cont(absdev, 0.5) AS mad
        |  FROM d GROUP BY 1
        |)
        |SELECT d.event_type, d.event_id, d.value,
        |       round(0.6745 * (d.value - d.med) / md.mad, 6) AS robust_z
        |FROM d JOIN md USING (event_type)
        |WHERE abs(round(0.6745 * (d.value - d.med) / md.mad, 6)) > 3.5
        |ORDER BY d.event_type, d.event_id""".stripMargin,
    // Running event-time high-water-mark along arrival (event_id) order
    // per type; lateness stays integer microseconds (epoch_us) until the
    // final percentile, mirroring unix_micros on the Spark side.
    "ev_lateness_audit" ->
      """WITH l AS (
        |  SELECT event_type,
        |         epoch_us(max(ts) OVER (PARTITION BY event_type ORDER BY event_id ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |           - epoch_us(ts) AS late_us
        |  FROM events
        |)
        |SELECT event_type,
        |       count(*) AS n_events,
        |       max(late_us) AS max_late_us,
        |       round(quantile_cont(late_us, 0.5), 6) AS p50_late_us,
        |       round(quantile_cont(late_us, 0.95), 6) AS p95_late_us,
        |       round(quantile_cont(late_us, 0.99), 6) AS p99_late_us,
        |       CAST(sum(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dropped_10m,
        |       round(CAST(sum(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS drop_rate_10m
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same floor(value/10) bucketing; the share divides BIGINT/BIGINT
    // (double division in both engines) then rounds.
    "ev_histogram" ->
      s"""WITH h AS (
         |  SELECT event_type, CAST(floor(value / $HistWidth) AS BIGINT) AS bucket,
         |         count(*) AS n
         |  FROM events GROUP BY event_type, bucket
         |)
         |SELECT event_type, bucket, bucket * CAST($HistWidth AS DOUBLE) AS lo, n,
         |       round(n / sum(n) OVER (PARTITION BY event_type), 6) AS share
         |FROM h ORDER BY event_type, bucket""".stripMargin,
    "ev_gap_fill" ->
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h FROM events
        |), b AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
        |g AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b),
        |t AS (SELECT DISTINCT event_type FROM e),
        |c AS (SELECT event_type, h, count(*) AS n FROM e GROUP BY 1, 2)
        |SELECT t.event_type, g.h AS hour_start, COALESCE(c.n, 0) AS n_events
        |FROM g CROSS JOIN t
        |LEFT JOIN c ON c.event_type = t.event_type AND c.h = g.h
        |ORDER BY t.event_type, hour_start""".stripMargin,
  )
}
