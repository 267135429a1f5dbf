package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every graft entry point gets its session from [[Sessions.create]]. */
class SessionsSpec extends AnyFunSuite {

  /** `file:line` of every non-comment line under `src/` that `pattern`
    * matches. */
  private def codeSites(pattern: scala.util.matching.Regex): Seq[String] = {
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"src/ not found from ${Paths.get("").toAbsolutePath}")
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    files.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if !isComment(line) && pattern.findFirstIn(line).isDefined =>
          s"$f:${i + 1}"
      }
    }
  }

  test("Sessions.scala holds the only SparkSession builder under src/") {
    val sites = codeSites("""SparkSession\s*\.\s*builder""".r)
    assert(sites.size == 1 && sites.head.startsWith("src/main/scala/graft/Sessions.scala:"),
      sites.mkString("\n"))
  }

  test("Asof.join holds the only planner, optimizer and function hook under src/main") {
    // Asof.join installs AsofJoinStrategy per session, whoever built it;
    // a second install path (session extensions, hand-edited planner
    // lists, registered SQL functions) is what this keeps out
    val hooks = Seq("extraStrategies", "extraOptimizations", "injectOptimizerRule",
      "injectPlannerStrategy", "injectFunction", "spark.sql.extensions",
      "createOrReplaceTempFunction")
    val sites = codeSites(hooks.map(java.util.regex.Pattern.quote).mkString("|").r)
      .filter(_.startsWith("src/main/"))
    assert(sites.nonEmpty, "Asof.join's install no longer found")
    assert(sites.forall(_.startsWith("src/main/scala/graft/plans/AsofJoin.scala:")),
      sites.mkString("\n"))
  }

  test("create without SPARK_MASTER: local[cpus] with the shared confs") {
    assume(!sys.env.contains("SPARK_MASTER"), "SPARK_MASTER is set")
    // the specs' session exists, so this returns it: no second
    // SparkContext is started in the test JVM. Its confs are read before
    // the call too, so they are the ones it was built with.
    val shared = TestSpark.spark
    val expected = Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "8192",
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString)
    def confs(s: org.apache.spark.sql.SparkSession) =
      expected.map { case (k, _) => k -> s.conf.get(k) }
    assert(confs(shared) == expected)
    val s = Sessions.create("sessions-spec", 4)
    assert(s eq shared)
    assert(confs(s) == expected)
    assert(s.sparkContext.master == "local[4]")
    assert(s.sparkContext.getConf.get("spark.local.dir") == Sessions.localDir)
  }
}
