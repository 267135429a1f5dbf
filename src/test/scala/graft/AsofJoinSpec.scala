package graft

import java.sql.Timestamp
import graft.operators.EventOps
import graft.plans.{Asof, AsofJoinExec, AsofJoinStrategy}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AsofJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  // AQE wraps subtrees in QueryStageExec LEAF nodes — flatten through them
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec        => p +: flatten(q.plan)
    case other                    => other +: other.children.flatMap(flatten)
  }

  test("handcrafted fixture: latest reference at-or-before each probe, nulls when none") {
    import spark.implicits._
    val trades = Seq(
      (1L, ts("2024-01-01 10:00:00"), "t1"),
      (1L, ts("2024-01-01 10:05:00"), "t2"),
      (2L, ts("2024-01-01 09:00:00"), "t3"), // before any quote for key 2
      (3L, ts("2024-01-01 12:00:00"), "t4")  // key with no quotes at all
    ).toDF("k", "t", "trade")
    val quotes = Seq(
      (1L, ts("2024-01-01 09:59:00"), 101.0),
      (1L, ts("2024-01-01 10:05:00"), 102.0), // exact tie: counts (<=)
      (1L, ts("2024-01-01 10:06:00"), 103.0), // after t2: never matched
      (2L, ts("2024-01-01 09:30:00"), 201.0)
    ).toDF("qk", "qt", "price")
    val out = Asof.join(trades, quotes, Seq("k"), Seq("qk"), "t", "qt")
      .select($"trade", $"price")
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1)))
      .toMap
    assert(out === Map("t1" -> 101.0, "t2" -> 102.0, "t3" -> null, "t4" -> null))
  }

  test("forward direction: earliest reference at-or-after each probe") {
    import spark.implicits._
    val probes = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (1L, ts("2024-01-01 10:06:00"), "p2"), // exact tie with q3
      (1L, ts("2024-01-01 11:00:00"), "p3")  // after all quotes
    ).toDF("k", "t", "p")
    val refs = Seq(
      (1L, ts("2024-01-01 09:59:00"), 101.0),
      (1L, ts("2024-01-01 10:05:00"), 102.0),
      (1L, ts("2024-01-01 10:06:00"), 103.0)
    ).toDF("qk", "qt", "price")
    val out = Asof.join(probes, refs, Seq("k"), Seq("qk"), "t", "qt", "forward")
      .select($"p", $"price")
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1)))
      .toMap
    assert(out === Map("p1" -> 102.0, "p2" -> 103.0, "p3" -> null))
  }

  test("fuzz: forward direction agrees with a driver-side reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val probes = (0 until 300).map { i =>
      (i.toLong, rnd.nextInt(15).toLong,
       new Timestamp(ts("2024-01-01 00:00:00").getTime + rnd.nextInt(50000) * 1000L))
    }.distinctBy(r => (r._2, r._3))
    val refs = (1000 until 1250).map { i =>
      (i.toLong, rnd.nextInt(15).toLong,
       new Timestamp(ts("2024-01-01 00:00:00").getTime + rnd.nextInt(50000) * 1000L))
    }.distinctBy(r => (r._2, r._3))
    val got = Asof.join(probes.toDF("pid", "k", "pt"), refs.toDF("rid", "rk", "rt"),
        Seq("k"), Seq("rk"), "pt", "rt", "forward")
      .select($"pid", $"rid")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    val byKey = refs.groupBy(_._2)
    val expected = probes.map { case (pid, k, pt) =>
      pid -> byKey.getOrElse(k, Seq.empty)
        .filter(!_._3.before(pt)).sortBy(_._3.getTime)
        .headOption.map(_._1).getOrElse(-1L)
    }.toMap
    assert(got === expected)
  }

  test("Asof.join installs its strategy on any session, once") {
    // a new session has its own, empty planner lists — like a session
    // that Sessions.create did not build
    val fresh = spark.newSession()
    assert(fresh.experimental.extraStrategies.isEmpty)
    def joined(s: SparkSession) = {
      import s.implicits._
      val trades = Seq(
        (1L, ts("2024-01-01 10:00:00"), "t1"),
        (1L, ts("2024-01-01 10:05:00"), "t2"),
        (2L, ts("2024-01-01 09:00:00"), "t3")
      ).toDF("k", "t", "trade")
      val quotes = Seq(
        (1L, ts("2024-01-01 09:59:00"), 101.0),
        (1L, ts("2024-01-01 10:05:00"), 102.0),
        (2L, ts("2024-01-01 09:30:00"), 201.0)
      ).toDF("qk", "qt", "price")
      Asof.join(trades, quotes, Seq("k"), Seq("qk"), "t", "qt")
    }
    def rows(s: SparkSession) =
      joined(s).select("trade", "price").collect().map(_.toString).sorted.toSeq
    val first = joined(fresh)
    first.collect()
    assert(flatten(first.queryExecution.executedPlan).exists(_.isInstanceOf[AsofJoinExec]),
      s"no AsofJoinExec in:\n${first.queryExecution.executedPlan}")
    val freshRows = rows(fresh) // the second join
    assert(fresh.experimental.extraStrategies.count(_ == AsofJoinStrategy) === 1)
    assert(freshRows === rows(spark))
  }

  test("plans as AsofJoinExec (no window machinery) with one exchange per side") {
    val ev = Tables.events(spark, TestSpark.sf)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pt"))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("ct"))
    val df = Asof.join(p, c, Seq("user_id"), Seq("cu"), "pt", "ct")
    df.collect() // finalize any adaptive plan
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[AsofJoinExec]),
      s"no AsofJoinExec in:\n${df.queryExecution.executedPlan}")
    assert(nodes.exists(_.getClass.getSimpleName == "SortExec"),
      "expected EnsureRequirements sorts")
  }

  test("fuzz: custom operator agrees with a driver-side reference on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // unique (key, ts) per side — the tie contract EventOpsSpec pins
    val probes = rnd.shuffle((0 until 400).map { i =>
      (i.toLong, rnd.nextInt(20).toLong, ts("2024-01-01 00:00:00").getTime + rnd.nextInt(100000) * 1000L)
    }.distinctBy(r => (r._2, r._3)).toVector)
      .map { case (id, k, ms) => (id, k, new Timestamp(ms)) }
    val refs = rnd.shuffle((1000 until 1300).map { i =>
      (i.toLong, rnd.nextInt(20).toLong, ts("2024-01-01 00:00:00").getTime + rnd.nextInt(100000) * 1000L)
    }.distinctBy(r => (r._2, r._3)).toVector)
      .map { case (id, k, ms) => (id, k, new Timestamp(ms)) }

    val pDf = probes.toDF("pid", "k", "pt")
    val rDf = refs.toDF("rid", "rk", "rt")
    val got = Asof.join(pDf, rDf, Seq("k"), Seq("rk"), "pt", "rt")
      .select(col("pid"), col("rid"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap

    val byKey = refs.groupBy(_._2)
    val expected = probes.map { case (pid, k, pt) =>
      val best = byKey.getOrElse(k, Vector.empty)
        .filter(!_._3.after(pt))
        .sortBy(_._3.getTime)
        .lastOption.map(_._1).getOrElse(-1L)
      pid -> best
    }.toMap
    assert(got === expected)
  }

  test("bucketed inputs satisfy the declared distribution: no join exchange") {
    import spark.implicits._
    val ev = Tables.events(spark, TestSpark.sf)
    spark.sql("DROP TABLE IF EXISTS b_purchases")
    spark.sql("DROP TABLE IF EXISTS b_clicks")
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    Seq("b_purchases", "b_clicks").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) { def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }; rm(d) }
    }
    ev.where($"event_type" === "purchase")
      .select($"event_id".as("pid"), $"user_id", $"ts".as("pt"))
      .write.bucketBy(8, "user_id").sortBy("user_id", "pt")
      .mode("overwrite").saveAsTable("b_purchases")
    ev.where($"event_type" === "click")
      .select($"user_id".as("cu"), $"ts".as("ct"), $"event_id".as("cid"))
      .write.bucketBy(8, "cu").sortBy("cu", "ct")
      .mode("overwrite").saveAsTable("b_clicks")

    val df = Asof.join(spark.table("b_purchases"), spark.table("b_clicks"),
                       Seq("user_id"), Seq("cu"), "pt", "ct")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the declared ClusteredDistribution is satisfied by the bucket layout,
    // so EnsureRequirements plants NO exchange on either join key — the
    // payoff of declaring requirements instead of hand-partitioning
    assert(plan.contains("AsofJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed asof join still shuffles:\n$plan")

    // and the result matches the unbucketed run
    val unbucketed = Asof.join(
        ev.where($"event_type" === "purchase")
          .select($"event_id".as("pid"), $"user_id", $"ts".as("pt")),
        ev.where($"event_type" === "click")
          .select($"user_id".as("cu"), $"ts".as("ct"), $"event_id".as("cid")),
        Seq("user_id"), Seq("cu"), "pt", "ct")
      .select($"pid", $"cid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val bucketed = df.select($"pid", $"cid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(bucketed === unbucketed)
  }

  test("custom operator agrees with the union+window composition on real events") {
    val native = EventOps.asofNative(spark, TestSpark.sf).collect().toSeq
    val window = EventOps.asofJoin(spark, TestSpark.sf).collect().toSeq
    assert(native === window)
  }

  test("SQLMetrics: output and matched row counts are reported") {
    import spark.implicits._
    val trades = Seq(
      (1L, ts("2024-01-01 10:00:00"), "t1"),
      (1L, ts("2024-01-01 10:05:00"), "t2"),
      (2L, ts("2024-01-01 09:00:00"), "t3"), // probe before any reference
      (3L, ts("2024-01-01 12:00:00"), "t4")  // key with no references
    ).toDF("k", "t", "trade")
    val quotes = Seq(
      (1L, ts("2024-01-01 09:59:00"), 101.0),
      (2L, ts("2024-01-01 09:30:00"), 201.0)
    ).toDF("qk", "qt", "price")
    val df = Asof.join(trades, quotes, Seq("k"), Seq("qk"), "t", "qt")
    df.collect()
    val exec = flatten(df.queryExecution.executedPlan)
      .collectFirst { case a: AsofJoinExec => a }
      .getOrElse(fail("no AsofJoinExec in plan"))
    assert(exec.metrics("numOutputRows").value === 4L)
    assert(exec.metrics("numMatchedRows").value === 2L) // t1, t2 matched
  }

  test("rejects int-backed time columns at plan time") {
    import spark.implicits._
    val l = Seq((1L, 10, "a")).toDF("k", "t", "v")         // t: IntegerType
    val r = Seq((1L, 5L, 1.0)).toDF("rk", "rt", "price")
    val e = intercept[IllegalArgumentException] {
      Asof.join(l, r, Seq("k"), Seq("rk"), "t", "rt")
    }
    assert(e.getMessage.contains("TimestampType, TimestampNTZType or LongType"), e.getMessage)
    // DateType is int-backed too — also rejected on the right side
    val l2 = Seq((1L, 10L, "a")).toDF("k", "t", "v")
    val r2 = Seq((1L, java.sql.Date.valueOf("2024-01-01"), 1.0)).toDF("rk", "rt", "price")
    val e2 = intercept[IllegalArgumentException] {
      Asof.join(l2, r2, Seq("k"), Seq("rk"), "t", "rt")
    }
    assert(e2.getMessage.contains("rt"), e2.getMessage)
  }

  test("rejects mixed time-column flavors at plan time (ADVICE r12)") {
    import spark.implicits._
    // Each side alone passes the per-type check, but LTZ epoch-micros vs
    // NTZ naive micros (or vs a raw long ordinal) are different clocks —
    // comparing them silently mismatches in any non-UTC session.
    val ltz = Seq((1L, ts("2024-01-01 10:00:00"), "a")).toDF("k", "t", "v")
    val ntz = ltz.select($"k".as("rk"),
      $"t".cast("timestamp_ntz").as("rt"), lit(1.0).as("price"))
    val e = intercept[IllegalArgumentException] {
      Asof.join(ltz, ntz, Seq("k"), Seq("rk"), "t", "rt")
    }
    assert(e.getMessage.contains("share one type"), e.getMessage)
    val asLong = Seq((1L, 5L, 1.0)).toDF("rk", "rt", "price")
    val e2 = intercept[IllegalArgumentException] {
      Asof.join(ltz, asLong, Seq("k"), Seq("rk"), "t", "rt")
    }
    assert(e2.getMessage.contains("share one type"), e2.getMessage)
    // same-flavor NTZ×NTZ still plans and runs
    val lNtz = ltz.select($"k", $"t".cast("timestamp_ntz").as("t"), $"v")
    assert(Asof.join(lNtz, ntz, Seq("k"), Seq("rk"), "t", "rt").count() === 1L)
  }
}
