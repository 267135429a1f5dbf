package graft.tools

import graft.SparkEntry

/** Ad-hoc per-query timer for iterating on a single operator: runs the
  * named queries (args; default = all) `SPARK_GRAFT_REPS` times each
  * (default 3) against `SPARK_GRAFT_SF_DIR` through the same noop-write
  * path as [[graft.Bench]], printing every sample. Unlike Bench this is
  * a dev tool — no warm-up ladder, no JSON contract — so a first-rep
  * time includes codegen compilation; read the min.
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = graft.Sessions.create("QueryBench")
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        t
      }
      println(f"QBENCH $name min=${times.min}%.3f samples=" +
        times.map(t => f"$t%.3f").mkString(","))
    }
    spark.stop()
  }
}
