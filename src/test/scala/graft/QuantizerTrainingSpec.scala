package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.functions.VectorDot.vectorDot
import graft.operators.Similarity
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sqrt}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The driver-side coarse-quantizer training ([[Similarity.ivfPqCentroids]])
  * against an independent Scala spherical Lloyd — the twin of
  * `Round9OpsSpec.refinedCodebook`, which pins [[Similarity.pqCodebook]]
  * — on the gate corpus and on seeded corpora that reach the zero-norm,
  * empty-cell and zero-mean edges; and the Spark jobs an index build
  * fires. */
class QuantizerTrainingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def prepared(rows: Seq[(Long, Array[Double])]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("vec_id", "v").withColumn("norm", sqrt(vectorDot(col("v"), col("v"))))
  }

  /** Spherical Lloyd, written out: first-`cells` nonzero seeds, per step
    * each vector joins the cell of least `1 − round(cos, 6)` (a zero
    * norm scores cos 1.0; strict < keeps the lowest cid), and each
    * nonempty cell moves to its exact `floor(x·2³⁰)` mean unless that
    * mean is the zero vector. Returns (cid, cv, cnorm) by cid. */
  private def sphericalLloyd(vecs: Seq[(Long, Array[Double], Double)],
                             cells: Int): Seq[(Long, Array[Double], Double)] = {
    val scale = Similarity.PqScale
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0
      for (i <- a.indices) s += a(i) * b(i)
      s
    }
    var cent = vecs.filter { case (id, _, n) => id < cells && n > 0 }.sortBy(_._1)
    for (_ <- 1 to Similarity.PqLloydIters) {
      val sums = Array.fill(cent.size, 64)(0L)
      val cnt = Array.fill(cent.size)(0L)
      vecs.foreach { case (_, v, norm) =>
        var best = -1
        var bestD = Double.MaxValue
        for (c <- cent.indices) {
          val (_, cv, cnorm) = cent(c)
          // Spark's ROUND: BigDecimal.valueOf (decimal string), HALF_UP
          val ccos = if (norm * cnorm == 0) 1.0
            else BigDecimal.valueOf(dot(v, cv) / (norm * cnorm))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (1.0 - ccos < bestD) { bestD = 1.0 - ccos; best = c }
        }
        cnt(best) += 1
        for (i <- 0 until 64) sums(best)(i) += math.floor(v(i) * scale).toLong
      }
      cent = cent.indices.map { c =>
        val mean = Array.tabulate(64)(i => (sums(c)(i).toDouble / scale) / cnt(c))
        if (cnt(c) == 0 || dot(mean, mean) == 0.0) cent(c)
        else (cent(c)._1, mean, math.sqrt(dot(mean, mean)))
      }
    }
    cent
  }

  private def bits(xs: Seq[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToRawLongBits)

  private def assertTrained(e: DataFrame, cells: Int): Unit = {
    val vecs = e.select("vec_id", "v", "norm").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val expect = sphericalLloyd(vecs, cells)
      .map { case (cid, cv, cnorm) => (cid, bits(cv.toSeq), bits(Seq(cnorm))) }
    val got = Similarity.ivfPqCentroids(e, cells).collect().toSeq
      .map(r => (r.getLong(0), bits(r.getSeq[Double](1)), bits(Seq(r.getDouble(2)))))
      .sortBy(_._1)
    assert(got.nonEmpty)
    assert(got == expect, s"trained centroids differ from the reference at $cells cells")
  }

  test("coarse centroids equal the Scala spherical Lloyd on the gate corpus") {
    val e = Similarity.vecs(spark, TestSpark.sf)
    Seq(16, 64, 128).foreach(assertTrained(e, _))
    spark.catalog.clearCache()
  }

  test("coarse centroids equal the Scala spherical Lloyd on a seeded random corpus") {
    val rnd = new scala.util.Random(14)
    val base = (0 until 600).map { i =>
      i.toLong -> Array.fill(64)(math.round(rnd.nextGaussian() * 1e4) / 1e5)
    }.toMap
    // vec 0 is zero (a zero-norm vector and a filtered seed candidate);
    // vec 5 repeats vec 3, so cell 5 ties to cell 3 and starts empty
    val rows = base.updated(0L, Array.fill(64)(0.0)).updated(5L, base(3L)).toSeq
    assertTrained(prepared(rows), cells = 16)
  }

  test("coarse centroids at the zero-norm, empty-cell and zero-mean edges") {
    def axis(i: Int, x: Double) = Array.tabulate(64)(j => if (j == i) x else 0.0)
    // vec 0: zero vector and zero-norm seed candidate. Seeds 1-4 share
    // one direction, so every vector ties every cell and joins cell 1:
    // cells 2-4 stay empty, and cell 1's members sum to zero, so both
    // guards keep every seed.
    val rows = Seq(0L -> Array.fill(64)(0.0), 1L -> axis(0, 1.0), 2L -> axis(0, 2.0),
      3L -> axis(0, 3.0), 4L -> axis(0, 1.0), 5L -> axis(0, -7.0),
      6L -> axis(1, 1.0), 7L -> axis(1, -1.0))
    val e = prepared(rows)
    assertTrained(e, cells = 5)
    val cent = Similarity.ivfPqCentroids(e, 5).collect()
      .map(r => r.getLong(0) -> bits(r.getSeq[Double](1))).sortBy(_._1).toSeq
    assert(cent == (1 to 4).map(i => rows(i)._1 -> bits(rows(i)._2.toSeq)),
      "vacuous: a cancelled or empty cell moved")
  }

  test("null elements and a null vector train as zeros") {
    val rnd = new scala.util.Random(15)
    val vecs = (0 until 300).map { i =>
      i.toLong -> Array.fill(64)(math.round(rnd.nextGaussian() * 1e4) / 1e5)
    }
    // every 5th element of vecs 20-59 is null, and vec 70 is null: both
    // add nothing, and a null vector joins the lowest cell as a
    // zero-norm one does
    def isNull(i: Long, j: Int) = i >= 20 && i < 60 && j % 5 == 0
    val s = spark; import s.implicits._
    val withNulls = vecs.map { case (i, v) =>
      (i, if (i == 70) None else Some(v.indices.map(j => if (isNull(i, j)) None else Some(v(j)))))
    }.toDF("vec_id", "v").withColumn("norm", sqrt(vectorDot(col("v"), col("v"))))
    val zeros = prepared(vecs.map { case (i, v) =>
      i -> (if (i == 70) Array.fill(64)(0.0)
            else v.indices.map(j => if (isNull(i, j)) 0.0 else v(j)).toArray)
    })
    def trained(df: DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), bits(r.getSeq[Double](1)))).sortBy(_._1)
    assert(trained(Similarity.ivfPqCentroids(withNulls, 16)) ==
      trained(Similarity.ivfPqCentroids(zeros, 16)))
    // a null vector takes PQ code 0 where a zero vector takes the entry
    // of least norm, so the PQ comparison leaves vec 70 out
    assert(trained(Similarity.pqCodebook(withNulls.where(col("vec_id") =!= 70), 16)) ==
      trained(Similarity.pqCodebook(zeros.where(col("vec_id") =!= 70), 16)))
  }

  test("an IVF-PQ index build fires three jobs: the ladder count's two and one sample collect") {
    val e = Similarity.vecs(spark, TestSpark.sf)
    e.count()
    // stage names of each job ("collect at Similarity.scala:N"), or the
    // description of the marker job
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(j.stageInfos.map(_.name).mkString("|")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Similarity.ivfPqIndex(e)
      // the listener bus delivers in order: once this job is seen, every
      // job the build fired has been counted
      spark.sparkContext.setJobDescription("marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      eventually(timeout(10.seconds)) { assert(jobs.contains("marker")) }
      // under AQE the count is two jobs (its shuffle-map stage, then the
      // result); both quantizers train from the one collect
      val built = jobs.asScala.filter(_ != "marker").toSeq
      assert(built.size == 3, built)
      assert(built.count(_.startsWith("collect at Similarity.scala")) == 1, built)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
    }
  }
}
