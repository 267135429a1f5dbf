package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's testdata tables (TESTDATA.md / FIXTURES.md §3).
  *
  * One parquet file per table under `/root/testdata/sf{0.001,0.01,0.1}`.
  * All queries take
  * the sf dir as a runtime argument so the same plan runs at any scale
  * factor — nothing below hard-codes a path.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Round-robin fan-out of an UNSPLITTABLE scan to the session's default
    * parallelism (optimization guide §2.5, "input skew: one huge
    * unsplittable file … repartition immediately after the read").
    *
    * The driver's parquet fixtures are written as a SINGLE ROW GROUP per
    * table (verified via parquet metadata at every SF), and a row group is
    * the unit of parquet split assignment — no split-size configuration
    * can put two tasks on one row group. Without this, every scan is ONE
    * task and all downstream per-row compute serializes on one core: the
    * r22 profile measured `text_repetition` at 4 tasks TOTAL for the whole
    * query, 1.4 s of single-core n-gram fold while 31 cores idled.
    *
    * Applied PER OPERATOR, not per table: the r22 interleaved A/B
    * (fan-out on/off, OPTIMIZATION_r22.md) measured the fan-out a 30-45 %
    * wall win exactly where downstream work is per-row compute
    * (`text_repetition` 1.57 → 0.87 s, `mm_png_decode` 0.93 → 0.65 s) and
    * a LOSS wherever the query's own shuffles dominate (the extra
    * exchange plus 32× more shuffle-file syscalls on the map side:
    * `rel_revenue_by_nation` 0.98 → 1.42 s, `ev_ts_similarity` 0.75 →
    * 1.07 s). So only the per-row-dominant operators (text folds, codec
    * decodes) opt in; aggregation/join-shaped queries keep the bare scan.
    *
    * Scale-adaptive by construction, not a local[32] constant: the fan-out
    * only fires when the scan yields FEWER partitions than
    * `defaultParallelism` (on a cluster, total executor cores; here,
    * `$SPARK_GRAFT_CPUS`), so any production-sized multi-row-group table
    * skips it and the plan is unchanged. Row placement is semantics-free
    * for every registered query (each ends in a keyed aggregation and/or a
    * total ORDER BY; fp-order-sensitive sums are scaled-integer by
    * convention), and the full oracle gate re-verified 117/117 at
    * sf0.001 + sf0.01 with the fan-out active. */
  private[graft] def fanOutScan(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark only reads with
    * `spark.sql.legacy.parquet.nanosAsLong=true` (as an epoch-nanos
    * LongType). All stored values are whole microseconds (verified), so
    * `div 1000` is lossless; the column comes back as a proper
    * TimestampType named `ts` either way. */
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** [[events]] with `ts` normalized to TimestampType (LTZ) — for
    * event-time STREAMING consumers only: `withWatermark` rejects
    * TIMESTAMP_NTZ outright ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]), so
    * any spec or job that stages events for a watermarked stream must
    * stage this form. Batch queries keep the pass-through [[events]]:
    * the driver's DuckDB compare needs the output flavor to track the
    * input parquet's flavor, whatever the generator emitted this round.
    * Under the pinned UTC session the cast is instant-preserving. */
  def eventsLtz(s: SparkSession, d: String): DataFrame = {
    val df = events(s, d)
    df.withColumn("ts",
      df("ts").cast(org.apache.spark.sql.types.TimestampType))
  }

  /** Epoch-micros of a timestamp column, robust to the parquet flavor the
    * driver's generator happens to emit: `events.ts` has shipped as
    * TIMESTAMP(NANOS) (read as LongType under the legacy flag, normalized
    * in [[events]]), TIMESTAMP(MICROS, adjustedToUTC=true) (LTZ) and naive
    * TIMESTAMP(MICROS) (NTZ, the round-12 flavor) across rounds.
    * `unix_micros` only accepts LTZ, so cast first: every session here
    * pins `spark.sql.session.timeZone=UTC`, making the NTZ→LTZ cast
    * instant-preserving and bit-identical to DuckDB's `epoch_us` on the
    * same naive values. */
  def micros(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.unix_micros(
      c.cast(org.apache.spark.sql.types.TimestampType))
}

/** A group of named queries plus their DuckDB oracle SQL (driver contract:
  * `SparkEntry.queries` / `SparkEntry.oracleSql`). Modules are merged in
  * [[SparkEntry]].
  *
  * Conventions that keep the driver's hash-compare green:
  *   - every output column is explicitly aliased, identically in the Spark
  *     plan and the oracle SQL;
  *   - every query ends in a total deterministic ORDER BY (ties broken by a
  *     key column) in BOTH forms;
  *   - double-valued aggregates are rounded to a fixed scale chosen so the
  *     rounded value is exact (inputs have 2-decimal money columns), making
  *     the result independent of floating-point summation order.
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
