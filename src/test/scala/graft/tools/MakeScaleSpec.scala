package graft.tools

import graft.{Tables, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[MakeScale]] keeps `embeddings.vec_id` dense from 0 across replicas:
  * quantizer training samples `vec_id < TrainCap` and seeds its cells
  * from the lowest ids, so offset ids would train on replica 0 only. */
class MakeScaleSpec extends AnyFunSuite with TestSpark.TempDirs {
  lazy val spark = TestSpark.spark

  test("embeddings replicas number vec_id 0..k*n-1 and only the ids move") {
    val s = spark; import s.implicits._
    val k = 3
    val out = tempDir("makescale").toString
    MakeScale.replicate(spark, TestSpark.sf, out, k, Some(Set("embeddings")))
    val base = Tables.embeddings(spark, TestSpark.sf)
    val n = base.count()
    val got = spark.read.parquet(s"$out/embeddings.parquet")
    assert(got.select($"vec_id").as[Long].collect().sorted.toSeq === (0L until k * n))
    // each replica r holds what replicaTransform gave for it, at r*n + vec_id
    val expected = (0 until k).map { r =>
      base.select(($"vec_id" + lit(r * n)).as("vec_id"),
        ScaleVecs.replicaTransform($"embedding", size($"embedding"), r).as("embedding"),
        $"label")
    }.reduce(_ unionByName _)
    def rows(df: DataFrame) =
      df.select($"vec_id", $"embedding", $"label").collect()
        .map(r => (r.getLong(0), r.getSeq[Any](1).toVector, r.get(2))).sortBy(_._1).toSeq
    assert(rows(got) === rows(expected))
  }
}
