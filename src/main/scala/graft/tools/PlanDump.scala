package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.util.matching.Regex
import org.apache.spark.sql.catalyst.expressions.NamedExpression

/** Dump `.explain("formatted")` of registered queries, one file per query
  * (`<dir>/<query>.txt`), in a form that reproduces across JVMs and hosts:
  * see [[normalise]]. Side-effecting build queries (index/pair
  * materialization) run their build as part of plan CONSTRUCTION; the
  * dumped plan is the query's returned relation, exactly what the bench's
  * noop sink executes.
  *
  * Usage: `runMain graft.tools.PlanDump [--check] [dir] [name,name,...]`
  *   - `dir` defaults to `plans/head`; no names = every registered query,
  *     in sorted order;
  *   - `--check` writes nothing: it dumps afresh, diffs each plan against
  *     `dir/<query>.txt` and exits non-zero naming every query whose plan
  *     changed, failed, or has no committed dump (and, on a full run,
  *     every committed dump with no registered query).
  *
  * The session runs at a fixed `local[4]` with 4 shuffle partitions, so
  * the dumps do not depend on the host's core count. Tables are read from
  * `SPARK_GRAFT_SF_DIR` (default sf0.1). */
object PlanDump {
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val check = args.contains("--check")
    val rest = args.filterNot(_ == "--check")
    val dir = Paths.get(rest.lift(0).getOrElse("plans/head"))
    val filtered = rest.length > 1
    val registered = graft.SparkEntry.queries.keys.toSeq.sorted
    val names = if (filtered) rest(1).split(",").toSeq else registered
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.create("PlanDump", Cpus)
    spark.sparkContext.setLogLevel("WARN")
    if (!check) Files.createDirectories(dir)
    val bad = names.flatMap { name =>
      val file = dir.resolve(s"$name.txt")
      pinExprIds(registered.indexOf(name))
      val plan =
        try Right(normalise(graft.SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode), sfDir))
        catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }
      spark.catalog.clearCache()
      plan match {
        case Left(msg) =>
          println(s"PLANDUMP $name FAILED: $msg"); Some(name)
        case Right(p) if !check =>
          Files.writeString(file, p)
          println(s"PLANDUMP $name ok (${p.length} chars)"); None
        case Right(p) => firstDiff(file, p).map { where =>
          println(s"PLANCHECK $name changed: $where"); name
        }
      }
    }
    val stale =
      if (!check || filtered || !Files.isDirectory(dir)) Nil
      else Files.list(dir).toArray.map(_.asInstanceOf[Path].getFileName.toString)
        .filter(_.endsWith(".txt")).map(_.stripSuffix(".txt"))
        .filterNot(graft.SparkEntry.queries.contains).sorted.toSeq
    stale.foreach(n => println(s"PLANCHECK $n changed: no registered query"))
    spark.stop()
    val failed = bad ++ stale
    if (check) println(s"PLANCHECK ${failed.size} of ${names.size + stale.size} changed" +
      (if (failed.isEmpty) "" else failed.mkString(": ", ",", "")))
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Where a fresh plan first departs from the committed dump, if it does. */
  private def firstDiff(file: Path, fresh: String): Option[String] =
    if (!Files.exists(file)) Some(s"no committed dump $file")
    else {
      val old = Files.readString(file)
      if (old == fresh) None
      else {
        val (a, b) = (old.split("\n", -1), fresh.split("\n", -1))
        val i = a.indices.find(i => i >= b.length || a(i) != b(i)).getOrElse(a.length)
        Some(s"line ${i + 1}: ${a.lift(i).getOrElse("<end>").take(120)} -> " +
          b.lift(i).getOrElse("<end>").take(120))
      }
    }

  /** Start the expression ids of the `i`-th registered query at
    * `(i + 1) << 32`. Spark draws them from one JVM-wide counter, and
    * RewriteDistinctAggregates orders an aggregate's distinct groups by a
    * hash of their attributes, ids included, so without this the plan
    * itself, not only its ids, would depend on the queries composed
    * before it (seen in `dedup_decontaminate`'s Expand). Disjoint
    * per-query ranges keep ids unique within the process. */
  private def pinExprIds(i: Int): Unit = {
    val curId = NamedExpression.getClass.getDeclaredMethod("curId")
    curId.setAccessible(true)
    curId.invoke(NamedExpression).asInstanceOf[AtomicLong].set((i + 1).toLong << 32)
  }

  private val ExprId = """#(\d+)""".r
  private val LambdaVar = """(?<=lambda )([A-Za-z]+)_(\d+)""".r
  private val PlanId = """plan_id=(\d+)""".r
  private val CachePath = """(/tmp/graft_[a-z_]+)/[^/\]\s,)]+""".r
  private val Lambda = """\$\$Lambda\$\d+/0x[0-9a-f]+""".r
  private val IdentityHash = """(?<=[\w\];$])@[0-9a-f]{1,8}\b""".r

  /** A formatted plan with everything that depends on the process or the
    * host rewritten to fixed tokens:
    *   - expression ids (`doc_id#524L`), exchange ids (`plan_id=1021`) and
    *     lambda variable names (`lambda x_4`) come from JVM-wide counters,
    *     so they depend on which queries ran earlier; each becomes its
    *     ordinal of first appearance in this plan;
    *   - the tables root (`sfDir`) becomes `$SF`;
    *   - the `/tmp/graft_*` cache directories are keyed on source mtime and
    *     size; the key becomes `$KEY`;
    *   - lambda class names and identity hashes in object-operator
    *     arguments (`Dedup$$$Lambda$6012/0x…@1db4ea47`, `[J@71549247`)
    *     become `$$Lambda` and `@_`. */
  def normalise(plan: String, sfDir: String): String = {
    def ordinals(s: String, re: Regex, fmt: (Regex.Match, Int) => String): String = {
      val seen = scala.collection.mutable.HashMap[String, Int]()
      re.replaceAllIn(s, m => Regex.quoteReplacement(
        fmt(m, seen.getOrElseUpdate(m.matched, seen.size + 1))))
    }
    val paths = CachePath.replaceAllIn(plan.replace(sfDir, "$SF"),
      m => Regex.quoteReplacement(m.group(1) + "/$KEY"))
    val objs = IdentityHash.replaceAllIn(Lambda.replaceAllIn(paths, "\\$\\$Lambda"), "@_")
    val ids = ordinals(ordinals(objs, ExprId, (_, i) => s"#$i"), PlanId, (_, i) => s"plan_id=$i")
    ordinals(ids, LambdaVar, (m, i) => s"${m.group(1)}_$i")
  }
}
