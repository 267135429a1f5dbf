package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.util.Random

/** A seeded one-day taxi feed for the streaming e2e specs, with its ground
  * truth taken from the generator's own bookkeeping (never from the
  * pipelines under test).
  *
  * @param dir       the 1,440 headerless `part-2015-12-01-HHMM.csv` files
  * @param hourTruth dropoff hour → rows
  * @param hqTruth   (dropoff hour, headquarters) → rows, for `goldman`,
  *                  `citigroup` and `none`; zero counts are absent
  */
final case class TaxiFeed(dir: Path, hourTruth: Map[Int, Long],
                          hqTruth: Map[(Int, String), Long]) {
  def total: Long = hourTruth.values.sum
}

/** Writes [[TaxiFeed]]s (FIXTURES.md §1, "Generated feed").
  *
  * Every minute file holds 3–7 background rows whose dropoffs lie clear of
  * both headquarters, plus the planted dropoffs strictly inside goldman or
  * citigroup. Rows mix the yellow-20 and green-22 layouts, so the green22 and
  * split24 overlays and the per-type coord coalesce all see both. Each
  * headquarters gets 0–9 planted dropoffs per 10-minute window, except
  * citigroup [08:40,08:50) = 3 and [08:50,09:00) = 12: the one trend firing
  * of the day, `(citigroup, (12, 32400, 3))`, as on the real day.
  *
  * Coordinates are rounded to float32 (the type `TaxiSchemas` reads) before
  * they are written, and each written point is checked against the
  * FIXTURES.md polygon constants with this object's own even-odd test;
  * generation fails if a planted point is not strictly inside its polygon
  * or a background point comes within [[Margin]] of either polygon.
  */
object TaxiFeed {
  val Seed: Long = 20151201L

  /** FIXTURES.md §1 polygon constants, `(lon, lat)` vertices. */
  private val goldman: Seq[(Double, Double)] = Seq(
    (-74.0141012, 40.7152191), (-74.013777, 40.7152275),
    (-74.0141027, 40.7138745), (-74.0144185, 40.7140753))
  private val citigroup: Seq[(Double, Double)] = Seq(
    (-74.011869, 40.7217236), (-74.009867, 40.721493),
    (-74.010140, 40.720053), (-74.012083, 40.720267))
  private val polygons = Map("goldman" -> goldman, "citigroup" -> citigroup)

  /** Least distance, in degrees (about 1 m), between any written point and
    * an edge of either polygon. */
  val Margin: Double = 1e-5

  /** Planted dropoffs per (headquarters, 10-minute window of the day) that
    * are fixed rather than drawn: the 08:50 citigroup trend. */
  private val fixedWindows = Map(("citigroup", 52) -> 3, ("citigroup", 53) -> 12)

  private val day = LocalDateTime.of(2015, 12, 1, 0, 0)
  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Even-odd ray cast toward +x. */
  private def evenOdd(poly: Seq[(Double, Double)], x: Double, y: Double): Boolean =
    poly.indices.count { i =>
      val (xi, yi) = poly(i)
      val (xj, yj) = poly((i + 1) % poly.size)
      (yi > y) != (yj > y) && x < (xj - xi) * (y - yi) / (yj - yi) + xi
    } % 2 == 1

  /** Planar distance from (x, y) to the polygon's nearest edge. */
  private def edgeDistance(poly: Seq[(Double, Double)], x: Double, y: Double): Double =
    poly.indices.map { i =>
      val (ax, ay) = poly(i)
      val (bx, by) = poly((i + 1) % poly.size)
      val (dx, dy) = (bx - ax, by - ay)
      val t = math.max(0.0, math.min(1.0, ((x - ax) * dx + (y - ay) * dy) / (dx * dx + dy * dy)))
      math.hypot(x - (ax + t * dx), y - (ay + t * dy))
    }.min

  private def clearOf(poly: Seq[(Double, Double)], x: Double, y: Double): Boolean =
    !evenOdd(poly, x, y) && edgeDistance(poly, x, y) > Margin

  private def strictlyIn(poly: Seq[(Double, Double)], x: Double, y: Double): Boolean =
    evenOdd(poly, x, y) && edgeDistance(poly, x, y) > Margin

  /** A float32 point inside a convex polygon: a random convex combination of
    * its vertices, pulled 40 % of the way toward the vertex mean. */
  private def interior(poly: Seq[(Double, Double)], rnd: Random): (Float, Float) = {
    val w = poly.map(_ => rnd.nextDouble() + 1e-3)
    val (qx, qy) = (poly.zip(w).map(p => p._1._1 * p._2).sum / w.sum,
                    poly.zip(w).map(p => p._1._2 * p._2).sum / w.sum)
    val (cx, cy) = (poly.map(_._1).sum / poly.size, poly.map(_._2).sum / poly.size)
    ((cx + 0.6 * (qx - cx)).toFloat, (cy + 0.6 * (qy - cy)).toFloat)
  }

  /** A float32 point in midtown/uptown Manhattan, east of both polygons. */
  private def uptown(rnd: Random): (Float, Float) =
    ((-73.999 + 0.07 * rnd.nextDouble()).toFloat, (40.70 + 0.10 * rnd.nextDouble()).toFloat)

  private def cents(c: Int): String = s"${c / 100}.${c % 100 / 10}${c % 10}"

  /** One CSV row, dropping off at `drop` at `(dLon, dLat)`; `green` picks
    * the 22-column layout, else the 20-column yellow one. */
  private def row(rnd: Random, green: Boolean, drop: LocalDateTime,
                  pick: (Float, Float), dLon: Float, dLat: Float): String = {
    val pickTs = drop.minusSeconds(60L + rnd.nextInt(1800)).format(tsFormat)
    val dropTs = drop.format(tsFormat)
    val vendor = 1 + rnd.nextInt(2)
    val pax = 1 + rnd.nextInt(4)
    val dist = cents(30 + rnd.nextInt(1500))
    val fare = 250 + rnd.nextInt(4000)
    val tip = rnd.nextInt(600)
    val total = cents(fare + 50 + 50 + tip + 30)
    val payment = 1 + rnd.nextInt(2)
    val fields =
      if (green)
        Seq("green", vendor, pickTs, dropTs, "N", 1, pick._1, pick._2, dLon, dLat,
            pax, dist, cents(fare), "0.5", "0.5", cents(tip), 0, "", "0.3", total,
            payment, 1)
      else
        Seq("yellow", vendor, pickTs, dropTs, pax, dist, pick._1, pick._2, 1, "N",
            dLon, dLat, payment, cents(fare), "0.5", "0.5", cents(tip), 0, "0.3", total)
    require(fields.size == (if (green) 22 else 20))
    fields.mkString(",")
  }

  /** Writes the feed for [[Seed]] into `dir` (created if absent). */
  def write(dir: Path): TaxiFeed = {
    val rnd = new Random(Seed)
    val files = Array.fill(1440)(mutable.ArrayBuffer.empty[String])
    val hq = mutable.Map.empty[(Int, String), Long].withDefaultValue(0L)

    def add(second: Int, where: String, dLon: Float, dLat: Float,
            pick: (Float, Float)): Unit = {
      val (x, y) = (dLon.toDouble, dLat.toDouble)
      polygons.foreach { case (name, poly) =>
        val ok = if (name == where) strictlyIn(poly, x, y) else clearOf(poly, x, y)
        require(ok, s"$where dropoff ($dLon, $dLat) misplaced against $name")
      }
      files(second / 60) += row(rnd, rnd.nextInt(5) == 0, day.plusSeconds(second.toLong),
                                pick, dLon, dLat)
      hq((second / 3600, where)) += 1
    }

    // planted headquarters dropoffs, window by window
    for (w <- 0 until 144; (name, poly) <- polygons.toSeq.sortBy(_._1)) {
      val n = fixedWindows.getOrElse((name, w), rnd.nextInt(10))
      (0 until n).foreach { _ =>
        val (x, y) = interior(poly, rnd)
        add(w * 600 + rnd.nextInt(600), name, x, y, uptown(rnd))
      }
    }
    // background: 3-7 rows a minute, dropoffs clear of both polygons; every
    // tenth picks up inside one, so only the dropoff coords may classify
    for (m <- 0 until 1440; _ <- 0 until 3 + rnd.nextInt(5)) {
      val (x, y) = uptown(rnd)
      val pick =
        if (rnd.nextInt(10) == 0) interior(if (rnd.nextBoolean()) goldman else citigroup, rnd)
        else uptown(rnd)
      add(m * 60 + rnd.nextInt(60), "none", x, y, pick)
    }

    Files.createDirectories(dir)
    files.zipWithIndex.foreach { case (rows, m) =>
      val f = dir.resolve(f"part-2015-12-01-${m / 60}%02d${m % 60}%02d.csv")
      Files.write(f, rows.map(_ + "\n").mkString.getBytes(UTF_8))
    }
    val hqTruth = hq.toMap
    val hourTruth = hqTruth.groupMapReduce(_._1._1)(_._2)(_ + _)
    require(hourTruth.size == 24)
    TaxiFeed(dir, hourTruth, hqTruth)
  }
}
