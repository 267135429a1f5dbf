package graft.operators

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

/** The quantizer training sample collected to the driver: row `i` is
  * `ids(i)`, its vector `v(i)` and the relation's own `norm(i)` (NaN when
  * the frame carries no norm). A null vector is a null `v(i)`. A null
  * element is stored as 0.0, which adds nothing to the sums or to a dot
  * against a finite centroid — what [[graft.functions.VectorDot]]'s and
  * Spark's `sum`'s null skipping give. */
private[graft] final class TrainRows(val ids: Array[Long],
    val v: Array[Array[Double]], val norm: Array[Double])

/** Deterministic Lloyd k-means over a [[TrainRows]] sample, in plain
  * arrays on the driver — the training behind both IVF-PQ quantizers
  * ([[Similarity.ivfPqCentroids]] and [[Similarity.pqCodebook]]).
  *
  * Every number equals what the oracle SQL computes (`ivfKmCte`,
  * `pqCodesCte`): scores are rounded as Spark's `round(_, 6)`, dots run
  * [[graft.functions.VectorDot]]'s left-to-right loop, the argmin is the
  * `(score, cid)` minimum under Spark's double ordering (-0.0 = 0.0, NaN
  * greatest, ties to the lowest cid), and each mean is the exact
  * `floor(x·2³⁰)` long sum ([[Similarity.PqScale]]) divided on the
  * driver. The sums are exact, so the rows are split into one chunk per
  * driver core and the per-chunk sums merge in any order. */
private[graft] object Lloyd {

  /** Spark's `round(x, 6)` on a double: HALF_UP on the shortest decimal
    * string, NaN and ±∞ passed through. */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `x[off, off + dim) · c`. */
  private def dot(x: Array[Double], off: Int, c: Array[Double], dim: Int): Double = {
    var acc = 0.0; var j = 0
    while (j < dim) { acc += x(off + j) * c(j); j += 1 }
    acc
  }

  /** `seeds` are row indices in ascending cid order; returns the trained
    * centroids (coordinates `[off, off + dim)` of the rows) and their
    * norms. `spherical` scores `1 − round(x·c / (‖x‖·‖c‖), 6)` with a
    * zero or NaN cosine pinned to 1.0 ([[Similarity.semAssign]]), and a
    * mean that cancels to zero keeps the previous centroid; otherwise
    * the score is `round(‖c‖² − 2·x·c, 6)`. An empty cell keeps its
    * centroid in both. */
  def train(rows: TrainRows, seeds: Array[Int], off: Int, dim: Int,
            spherical: Boolean): (Array[Array[Double]], Array[Double]) = {
    import Similarity.PqScale
    val k = seeds.length
    val cent = seeds.map(i => java.util.Arrays.copyOfRange(rows.v(i), off, off + dim))
    val cnorm = seeds.map(rows.norm(_))
    val n = rows.v.length
    val cores = Runtime.getRuntime.availableProcessors
    val chunk = math.max(1, (n + cores - 1) / cores)
    for (_ <- 1 to Similarity.PqLloydIters if k > 0) {
      val cc = cent.map(c => dot(c, 0, c, dim))
      // The score is a monotone function of `w`, so only the centroids
      // whose `w` lies within a rounding step of the row's minimum can
      // reach the minimum score; only those are rounded and compared.
      def w(i: Int, c: Int, d: Double): Double =
        if (!spherical) cc(c) - 2.0 * d
        else {
          val p = rows.norm(i) * cnorm(c)
          val q = if (p == 0) Double.NaN else d / p
          if (q.isNaN) -1.0 else -q
        }
      def score(w: Double): Double =
        if (spherical) 1.0 - round6(-w) else round6(w)
      def assign(from: Int, until: Int): (Array[Long], Array[Long]) = {
        val cnt = new Array[Long](k)
        val sums = new Array[Long](k * dim)
        val ws = new Array[Double](k)
        var i = from
        while (i < until) {
          val x = rows.v(i)
          // a null vector scores null on every centroid, and Spark's
          // struct ordering puts null first: it joins the lowest cid
          var best = 0
          if (x != null) {
            var c = 0
            while (c + 4 <= k) {
              // four independent left-to-right sums per pass over x
              val c0 = cent(c); val c1 = cent(c + 1); val c2 = cent(c + 2); val c3 = cent(c + 3)
              var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0; var j = 0
              while (j < dim) {
                val xj = x(off + j)
                a0 += xj * c0(j); a1 += xj * c1(j); a2 += xj * c2(j); a3 += xj * c3(j)
                j += 1
              }
              ws(c) = w(i, c, a0); ws(c + 1) = w(i, c + 1, a1)
              ws(c + 2) = w(i, c + 2, a2); ws(c + 3) = w(i, c + 3, a3)
              c += 4
            }
            while (c < k) { ws(c) = w(i, c, dot(x, off, cent(c), dim)); c += 1 }
            var wmin = Double.PositiveInfinity; var any = false
            c = 0
            while (c < k) { if (ws(c) <= wmin) { wmin = ws(c); any = true }; c += 1 }
            // all NaN: every score is NaN, a tie won by the lowest cid
            if (any) {
              val lim = if (wmin.isInfinite) wmin else wmin + 1e-5 + 1e-9 * math.abs(wmin)
              var bestScore = 0.0; best = -1; c = 0
              while (c < k) {
                if (ws(c) <= lim) {
                  val sc = score(ws(c))
                  if (best < 0 || (sc != bestScore && java.lang.Double.compare(sc, bestScore) < 0)) {
                    best = c; bestScore = sc
                  }
                }
                c += 1
              }
            }
            var j = 0
            while (j < dim) {
              sums(best * dim + j) += math.floor(x(off + j) * PqScale).toLong
              j += 1
            }
          }
          cnt(best) += 1
          i += 1
        }
        (cnt, sums)
      }
      val parts = (0 until n by chunk)
        .map(from => Future(assign(from, math.min(n, from + chunk))))
        .map(Await.result(_, Duration.Inf))
      for (c <- 0 until k) {
        val cn = parts.map(_._1(c)).sum
        if (cn > 0) {
          val mean = Array.tabulate(dim)(j =>
            (parts.map(_._2(c * dim + j)).sum.toDouble / PqScale) / cn.toDouble)
          val d = dot(mean, 0, mean, dim)
          if (!spherical) cent(c) = mean
          else if (d != 0.0) { cent(c) = mean; cnorm(c) = math.sqrt(d) }
        }
      }
    }
    (cent, cnorm)
  }
}
