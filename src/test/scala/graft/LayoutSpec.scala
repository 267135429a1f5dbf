package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Data-at-rest layout strategies (SCALE.md "cluster-mode deltas"):
  * partitioned writes must prune at the scan, bucketed tables must elide
  * the join shuffle entirely. These are the two levers that change a
  * 100 TB job's shuffle bill without touching the query. */
class LayoutSpec extends AnyFunSuite with TestSpark.TempDirs {
  lazy val spark = TestSpark.spark

  test("partitionBy write → partition pruning at the scan") {
    val dir = tempDir("layout_part").toString
    Tables.events(spark, TestSpark.sf)
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)

    val df = spark.read.parquet(dir).where(col("event_type") === "click")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the predicate must land in PartitionFilters (directory pruning),
    // not in PushedFilters (row-group evaluation)
    val pf = formatted.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("event_type"), formatted)
    val expected = Tables.events(spark, TestSpark.sf)
      .where(col("event_type") === "click").count()
    assert(df.count() === expected)
  }

  test("bucketed tables join without any exchange") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // a crashed prior run can leave the managed location behind with no
    // catalog entry — CREATE then refuses on LOCATION_ALREADY_EXISTS
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    Seq("b_orders", "b_lineitem").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(d)
      }
    }
    Tables.orders(spark, TestSpark.sf)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.lineitem(spark, TestSpark.sf)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")

    // co-bucketed on the join key: the shuffle is already materialized in
    // the layout, so the join plans with zero Exchange nodes
    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders").hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    // both scans read bucketed layout, and neither join key is
    // re-partitioned — the only permitted exchange is the downstream
    // aggregation on o_orderpriority (a different key)
    assert("Bucketed: true".r.findAllIn(plan).size === 2, plan)
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
           !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join still shuffles a join key:\n$plan")

    val expected = Tables.lineitem(spark, TestSpark.sf)
      .join(Tables.orders(spark, TestSpark.sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }
}
