package graft

import graft.geo.Geo
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY §5.4.3): point-in-polygon against an
  * independent winding-number implementation, tumbling/sliding window
  * coverage, and the trend predicate against a direct reference
  * implementation. Pure-Scala properties — the Spark operators these back
  * are oracle-/spec-gated elsewhere; here the underlying math is fuzzed. */
class PropertySpec extends AnyFunSuite {

  /** Run a ScalaCheck property (500 cases) and surface any failure.
    * (Raw ScalaCheck runner — scalatestplus isn't among the offline
    * deps, and this is all the integration we need.) */
  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  // ---------------------------------------------------------------- geometry

  /** Independent check: winding number via signed angles (sum of atan2
    * deltas ≈ ±2π inside, 0 outside). Numerically forgiving, so points
    * within eps of an edge are excluded by the generator instead. */
  private def windingContains(poly: Array[Double], x: Double, y: Double): Boolean = {
    val n = poly.length / 2
    var sum = 0.0
    var i = 0
    while (i < n) {
      val ax = poly(2 * i) - x; val ay = poly(2 * i + 1) - y
      val j = (i + 1) % n
      val bx = poly(2 * j) - x; val by = poly(2 * j + 1) - y
      sum += math.atan2(ax * by - ay * bx, ax * bx + ay * by)
      i += 1
    }
    math.abs(sum) > math.Pi // ±2π inside, ~0 outside
  }

  private def distToEdges(poly: Array[Double], x: Double, y: Double): Double = {
    val n = poly.length / 2
    (0 until n).map { i =>
      val j = (i + 1) % n
      val ax = poly(2 * i); val ay = poly(2 * i + 1)
      val bx = poly(2 * j); val by = poly(2 * j + 1)
      val dx = bx - ax; val dy = by - ay
      val t = math.max(0.0, math.min(1.0,
        ((x - ax) * dx + (y - ay) * dy) / (dx * dx + dy * dy)))
      math.hypot(x - (ax + t * dx), y - (ay + t * dy))
    }.min
  }

  test("ray casting agrees with winding number on both HQ polygons") {
    val lonGen = Gen.chooseNum(-74.020, -74.005)
    val latGen = Gen.chooseNum(40.710, 40.725)
    for (poly <- Seq(Geo.goldman, Geo.citigroup)) {
      check(forAll(lonGen, latGen) { (lon, lat) =>
        distToEdges(poly, lon, lat) < 1e-9 || // skip near-boundary points
          Geo.contains(poly, lon, lat) == windingContains(poly, lon, lat)
      })
    }
  }

  // ----------------------------------------------------------------- windows

  private val tsGen = Gen.chooseNum(0L, 7L * 24 * 3600 * 1000000L) // a week in micros

  test("every timestamp lands in exactly one tumbling window") {
    val width = 600000000L // 10 min in micros
    check(forAll(tsGen) { ts =>
      val start = math.floorDiv(ts, width) * width
      val inWindow = start <= ts && ts < start + width
      // no adjacent window also claims it
      val prevClaims = (start - width) <= ts && ts < start
      val nextClaims = (start + width) <= ts && ts < start + 2 * width
      inWindow && !prevClaims && !nextClaims
    })
  }

  test("sliding 10/5 windows: every timestamp is claimed by exactly duration/slide windows") {
    val width = 600000000L; val slide = 300000000L
    check(forAll(tsGen) { ts =>
      // windows start on the slide grid; count those containing ts
      val firstStart = math.floorDiv(ts, slide) * slide - width + slide
      val claims = Iterator.iterate(firstStart)(_ + slide)
        .takeWhile(_ <= ts)
        .count(s => s <= ts && ts < s + width)
      claims == (width / slide)
    })
  }

  // ---------------------------------------------------------------- shingles

  /** Plain-Scala reference for the native ShingleArray expression. */
  private def shinglesRef(text: String): Seq[String] = {
    val toks = text.split(" ", -1)
    val n = math.max(toks.length - 2, 1)
    (0 until n).map(i => toks.slice(i, math.min(i + 3, toks.length)).mkString(" ")).distinct
  }

  test("native ShingleArray matches the reference on arbitrary token strings") {
    val tokGen = Gen.listOf(Gen.oneOf("a", "bb", "ccc", "", "d e")) // incl. empties
    check(forAll(tokGen) { toks =>
      val text = toks.mkString(" ")
      val got = graft.functions.ShingleArray
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(text))
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      got == shinglesRef(text)
    })
  }

  // -------------------------------------------------------- sorted intersect

  /** Elements that stress the merge order: shared prefixes ("a b c" vs
    * "a b cd"), the empty string, and multi-byte UTF-8 — U+1F600 sorts
    * before U+FFFD as UTF-16 but after it as UTF-8 bytes, so a kernel
    * comparing in any order but Spark's would miscount. */
  private val pool = Seq("a b c", "a b cd", "a b", "a", "", "b a c", "é x", "e x",
    "ä ö ü", "日本 語 x", "\uFFFD z", "\uD83D\uDE00 z", "ａ b", "z z z")
  private val elemGen = Gen.oneOf(
    Gen.oneOf(pool),
    Gen.chooseNum(0, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", " ", "é", "日", "\uD83D\uDE00", "\uFFFD"))
        .map(_.mkString)))
  private val setGen = Gen.containerOf[Set, String](elemGen)

  test("SortedIntersectSize == array intersection == Scala Set, codegen'd and interpreted") {
    import graft.functions.SortedIntersectSize
    import graft.functions.SortedIntersectSize.sortedIntersectSize
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.functions._
    import org.apache.spark.unsafe.types.UTF8String
    val spark = TestSpark.spark
    import spark.implicits._
    val pairGen = Gen.frequency(
      6 -> Gen.zip(setGen, setGen),
      1 -> setGen.map(a => (a, a)),                                  // identical
      1 -> setGen.map(a => (a, Set.empty[String])),                   // one side empty
      1 -> Gen.zip(setGen, setGen).map { case (a, b) => (a, b -- a) }) // disjoint
    val edge = Seq((Set.empty[String], Set.empty[String]), (Set("a b c"), Set("a b cd")))
    val pairs = edge ++ Gen.listOfN(500 - edge.size, pairGen)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(20261019L))
    val df = pairs.zipWithIndex.map { case ((a, b), i) => (i, a.toSeq, b.toSeq) }
      .toDF("id", "a", "b")
      .repartition(2) // keep the projection out of a driver-side local relation
      .select($"id", sort_array($"a").as("sa"), sort_array($"b").as("sb"),
        size(array_intersect($"a", $"b")).as("hashed"),
        sortedIntersectSize(array_sort($"a"), array_sort($"b")).as("via_array_sort"))
      .withColumn("merged", sortedIntersectSize($"sa", $"sb"))
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString // the final, run plan
    assert(plan.contains("sorted_intersect_size") && plan.contains("*("), plan)
    assert(rows.length === 500)
    rows.foreach { r =>
      val (a, b) = pairs(r.getInt(0))
      val expected = (a intersect b).size
      def arr(i: Int) = new GenericArrayData(
        r.getSeq[String](i).map(x => UTF8String.fromString(x): Any).toArray)
      val interpreted = SortedIntersectSize(null, null).nullSafeEval(arr(1), arr(2))
      withClue(s"a=$a b=$b") {
        assert(r.getAs[Int]("merged") === expected)
        assert(r.getAs[Int]("hashed") === expected)
        assert(r.getAs[Int]("via_array_sort") === expected)
        assert(interpreted === expected)
      }
    }
    assert(rows.exists(_.getAs[Int]("merged") > 1) && rows.exists(_.getAs[Int]("merged") == 0))
  }

  // ------------------------------------------------------------------- trend

  /** Direct reference implementation of the Task4 doubling rule over a
    * per-window count series (`Task4.py:126-132` semantics, n >= 3 gate as
    * in EventOps.trendLag). */
  private def trendRef(counts: List[Long]): List[Int] =
    counts.zipWithIndex.drop(1).collect {
      case (n, i) if n >= 3 && n >= 2 * counts(i - 1) => i
    }

  test("lag-form trend detector matches the reference rule on generated series") {
    val seriesGen = Gen.listOfN(40, Gen.chooseNum(0L, 12L)).suchThat(_.nonEmpty)
    check(forAll(seriesGen) { counts =>
      // lag formulation: compare (prev, cur) pairs — what trendLag computes
      val viaLag = counts.sliding(2).zipWithIndex.collect {
        case (Seq(prev, cur), i) if cur >= 3 && cur >= 2 * prev => i + 1
      }.toList
      viaLag == trendRef(counts)
    })
  }
}
