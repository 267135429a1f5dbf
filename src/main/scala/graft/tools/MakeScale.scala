package graft.tools

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize a K× scale-up of a testdata dir (default: sf0.1 × 10 ≈ sf1)
  * for the full-suite scale proof (VERDICT r10 next-round #1). The driver
  * only ships sf{0.001,0.01,0.1}; this writes `/tmp/graft_sf1` — the
  * read-only `/root/testdata` is never touched.
  *
  * Replication is ISOMORPHIC-BUT-DISJOINT per replica, so per-query work
  * should scale like real data growth, not like duplicated data:
  *
  *   - fact/dim keys are offset by `r * 1e8` per replica `r`, with orders
  *     pointing at replica-r customers and lineitem at replica-r
  *     parts/suppliers — join fan-outs and group sizes scale linearly,
  *     group CARDINALITY on nation/region/priority stays fixed (the
  *     realistic shape: sf1 still has 25 nations);
  *   - `region`/`nation` are fixed dims, copied verbatim (as in TPC-H);
  *   - `documents.text` for r > 0 gets every 3rd token suffixed `~r`:
  *     every 3-token shingle ([[graft.functions.ShingleArray]]) contains
  *     a suffixed token, so replicas share NO shingles — near-dup pair
  *     output grows K×, not K²× (same construction as the round-4
  *     dedup scale-up, BASELINE.md, which pinned the linearity), while 2/3 of
  *     tokens keep their identity for stopword/char-distribution ops;
  *   - `embeddings.vec_id` is numbered `r * n + vec_id` over the base
  *     table's `n` rows, which must hold ids exactly `0..n-1`: the ids
  *     stay dense from 0, so quantizer training's `vec_id < TrainCap`
  *     sample and its seeds draw from every replica, not replica 0 only;
  *   - `embeddings.embedding` is rotated by `(r * 7) mod dim` positions:
  *     a coordinate permutation is orthogonal, so WITHIN a replica all
  *     norms/dots/neighborhoods are identical to the original, while
  *     cross-replica similarities decorrelate — the K× corpus is K
  *     independent copies of the same ANN problem (exact copies would
  *     instead make every vector have K-1 cos=1 twins and blow semdedup
  *     pair output up quadratically);
  *   - names (`c_name`/`s_name`/`p_name`) get a `~r` suffix so
  *     name-grouped results keep per-replica distinctness.
  *
  * Run: `sbt "runMain graft.tools.MakeScale /root/testdata/sf0.1 /tmp/graft_sf1 10"`
  * An optional 4th arg restricts output to a comma-listed table subset
  * (e.g. `events,embeddings,documents` for the sf10 ladder probe, where
  * replicating 60M lineitem rows would cost minutes for tables the
  * probed queries never read).
  */
object MakeScale {

  private val Off = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val tableFilter = args.lift(3).map(_.split(",").toSet)
    val spark = graft.Sessions.create("MakeScale")
    spark.sparkContext.setLogLevel("WARN")
    replicate(spark, src, out, k, tableFilter)
    spark.stop()
  }

  /** Write `k` replicas of each table of `src` (or of the `tableFilter`
    * subset) as `out/<table>.parquet`. */
  def replicate(spark: SparkSession, src: String, out: String, k: Int,
                tableFilter: Option[Set[String]]): Unit = {
    def rep(base: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(r => f(base, r)).reduce(_ unionByName _)

    def offset(c: String, r: Int): Column = col(c) + lit(r * Off)
    def tag(c: String, r: Int): Column =
      if (r == 0) col(c) else concat(col(c), lit(s"~$r"))

    def write(name: String, df: => DataFrame): Unit =
      if (tableFilter.forall(_.contains(name))) {
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")
        println(s"$name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
      }

    write("region", Tables.region(spark, src))
    write("nation", Tables.nation(spark, src))

    write("customer", rep(Tables.customer(spark, src)) { (d, r) =>
      d.withColumn("c_custkey", offset("c_custkey", r))
        .withColumn("c_name", tag("c_name", r))
    })
    write("supplier", rep(Tables.supplier(spark, src)) { (d, r) =>
      d.withColumn("s_suppkey", offset("s_suppkey", r))
        .withColumn("s_name", tag("s_name", r))
    })
    write("part", rep(Tables.part(spark, src)) { (d, r) =>
      d.withColumn("p_partkey", offset("p_partkey", r))
        .withColumn("p_name", tag("p_name", r))
    })
    write("orders", rep(Tables.orders(spark, src)) { (d, r) =>
      d.withColumn("o_orderkey", offset("o_orderkey", r))
        .withColumn("o_custkey", offset("o_custkey", r))
    })
    write("lineitem", rep(Tables.lineitem(spark, src)) { (d, r) =>
      d.withColumn("l_orderkey", offset("l_orderkey", r))
        .withColumn("l_partkey", offset("l_partkey", r))
        .withColumn("l_suppkey", offset("l_suppkey", r))
    })
    write("events", rep(Tables.events(spark, src)) { (d, r) =>
      d.withColumn("event_id", offset("event_id", r))
        .withColumn("user_id", offset("user_id", r))
    })
    write("documents", rep(Tables.documents(spark, src)) { (d, r) =>
      val text =
        if (r == 0) col("text")
        else array_join(
          transform(split(col("text"), " ", -1),
            (t, i) => when(i % 3 === 0, concat(t, lit(s"~$r"))).otherwise(t)),
          " ")
      d.withColumn("doc_id", offset("doc_id", r)).withColumn("text", text)
    })
    // Rotation ∘ per-replica pseudo-random sign diagonal ([[ScaleVecs]]):
    // orthogonal (within-replica geometry preserved, cross-replica
    // directions decorrelated) and distinct for ANY k and ANY dim — the
    // r15 rotation-only and r16 negation-cycle constructions both had
    // finite transform families (dim and 2·dim) plus a gcd(7, dim)
    // precondition on the rotation step (ADVICE r16); the sign vectors
    // remove the precondition and the family bound outright, and
    // distinctness is asserted at construction instead of argued.
    ScaleVecs.assertDistinct(k)
    write("embeddings", {
      val base = Tables.embeddings(spark, src)
      val ids = base.agg(count(lit(1)), countDistinct(col("vec_id")),
        min(col("vec_id")), max(col("vec_id"))).head()
      val n = ids.getLong(0)
      require(n > 0 && ids.getLong(1) == n && ids.getLong(2) == 0L && ids.getLong(3) == n - 1,
        s"$src embeddings: vec_id must be exactly 0..${n - 1}, got $n rows, " +
          s"${ids.get(1)} distinct ids in [${ids.get(2)}, ${ids.get(3)}]")
      rep(base) { (d, r) =>
        val emb = ScaleVecs.replicaTransform(col("embedding"), size(col("embedding")), r)
        d.withColumn("vec_id", col("vec_id") + lit(r * n)).withColumn("embedding", emb)
      }
    })
  }
}
