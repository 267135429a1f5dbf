package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.create("Verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated query-name filter for fast iteration on a
    // single operator (dev only; the driver runs unfiltered).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Loud + unmissable: if this filter leaks into a driver/judged run the
    // missing outputs must be attributable to it, not misread as failures.
    only.foreach { f =>
      val msg = s"[verify] WARNING: SPARK_GRAFT_ONLY is set — running ONLY " +
        s"${f.size} of ${SparkEntry.queries.size} queries (${f.mkString(",")}). " +
        "This is a dev-iteration filter; driver runs must be unfiltered."
      // stderr ONLY: the harness may parse Verify stdout line-by-line, and
      // an interleaved warning there could corrupt per-query output.
      System.err.println(msg)
    }
    // Failures are collected AND written as an artifact: round 11's four
    // NTZ-broken queries only printed to stderr here, so the correctness
    // report silently shrank by four rows instead of showing four reds —
    // a missing row reads as "not run", which is exactly the wrong signal
    // for a query that crashed (ADVICE r11, high).
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop any relations the query persisted (multi-branch operators
      // cache small derived frames); keeps ~60 queries from accumulating
      // cache blocks in one session
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Unmissable crash record alongside the outputs: `{name: message}` per
    // failed query (empty object on a clean run). The driver ignores files
    // it doesn't know; humans and the judge get the red list either way.
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failJson)
    spark.stop()
  }
}
