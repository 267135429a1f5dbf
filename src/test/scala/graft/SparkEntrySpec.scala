package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs (one JVM-wide session; suites reuse it). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.create("test", 4)
    // a codegen compile failure fails the spec instead of falling back
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Mixed into a suite: [[tempDir]] makes each directory under one root
    * per suite, and `afterAll` deletes the root with all it holds. */
  trait TempDirs extends BeforeAndAfterAll { this: Suite =>
    private var root: Path = _

    protected def tempDir(prefix: String): Path = synchronized {
      if (root == null) root = Files.createTempDirectory(s"graft-$suiteName-")
      Files.createTempDirectory(root, prefix)
    }

    override def afterAll(): Unit =
      try if (root != null) FileUtils.deleteQuietly(root.toFile)
      finally super.afterAll()
  }
}

class SparkEntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 and most return rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, TestSpark.sf)
      val n = df.count()
      withClue(s"query $name:") { assert(n >= 0) }
    }
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("oracle coverage: EVERY driver-registered query has an oracle") {
    // No rows-only exceptions remain: since round 10 even the HLL query
    // (sketch_approx_distinct) is hash-gated via its engine-agreement
    // contract — Spark derives approx_within_5pct from its real estimate,
    // the oracle asserts the bound — so every registered query is
    // DuckDB-checkable.
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries missing an oracle: $noOracle")
  }
}
