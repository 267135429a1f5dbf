package graftbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark: runs one workload through graft's public
  * entry points and writes raw measurements as JSON for `run.py`.
  *
  * Usage: graftbench.Main <mode> key=value...
  *   batch: data= warm= queries=a,b,c seconds= min_passes= trace=0|1 out= work= cpus=
  *   taxi:  see [[TaxiRun]]
  *   digest: dir= out= (see [[digestDirs]])
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val spark = session(opts("cpus").toInt, opts("work"))
    try args(0) match {
      case "batch" => BatchRun(spark, opts)
      case "taxi" => TaxiRun(spark, opts)
      case "digest" => digestDirs(spark, opts("dir"), opts("out"))
    } finally spark.stop()
  }

  /** Digests of saved results (one parquet directory per query, as
    * `graft.Verify` writes them), for cross-checking pinned digests
    * against outputs the DuckDB oracle passed. */
  def digestDirs(spark: SparkSession, dir: String, out: String): Unit =
    writeJson(out, new File(dir).listFiles().filter(_.isDirectory).map { d =>
      spark.read.parquet(d.getPath).write.format("graftbench.DigestSink")
        .option("id", d.getName).mode("overwrite").save()
      d.getName -> DigestSink.take(d.getName)
    }.toMap)

  /** The session confs of `graft.Bench`, with scratch space inside the
    * benchmark's own work directory. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- tiny JSON writer -------------------------------------------------
  def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case n: Number => n.toString
    case x => js(x.toString)
  }

  def writeJson(path: String, v: Any): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.println(js(v)) finally w.close()
  }

  /** `cpu` line of /proc/stat: (steal, busy) jiffies, where busy is all
    * but idle and iowait, steal included. */
  def cpuStat(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val xs = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
      (if (xs.length > 7) xs(7) else 0L, xs.take(8).sum - xs(3) - xs(4))
    } catch { case _: Throwable => (0L, 0L) }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/self/status")
      try f.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
        .getOrElse(0.0) finally f.close()
    } catch { case _: Throwable => 0.0 }
}

/** A batch workload: a fixed list of registered queries, each composed and
  * written once, timed one by one with the noop write of `graft.Bench` (as
  * [[DigestSink]], which also digests the rows: the output check). */
object BatchRun {
  import Main._

  private type Query = (SparkSession, String) => DataFrame

  def apply(spark: SparkSession, o: Map[String, String]): Unit = {
    val names = o("queries").split(",").toSeq
    val registry = graft.SparkEntry.queries
    val queries = names.map(n => n -> registry(n))
    val trace = new Trace(o("trace") == "1")
    val failed = mutable.LinkedHashMap.empty[String, String]
    val catalyst = mutable.Map.empty[String, Map[String, Double]]
    val digests = mutable.Map.empty[String, String].withDefaultValue("")

    // `id` is the query's name and its pass, as in `rel_cube_agg#2`
    def run(id: String, q: Query, dir: String): Unit = {
      trace.span(id, "query", "") {
        val df = trace.span(id, "compose", id)(q(spark, dir))
        if (trace.listening)
          trace.span(id, "plan", id)(df.queryExecution.executedPlan)
        trace.span(id, "execute", id)(
          df.write.format("graftbench.DigestSink").option("id", id)
            .mode("overwrite").save())
        if (trace.listening) {
          val ph = df.queryExecution.tracker.phases
          catalyst(id) = Seq("analysis", "optimization", "planning")
            .flatMap(p => ph.get(p).map(t => p -> t.durationMs / 1e3)).toMap
        }
      }
      digests(id) = DigestSink.take(id)
      spark.catalog.clearCache()
    }

    def attempt(name: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        failed.getOrElseUpdate(name, String.valueOf(e.getMessage).take(300))
        spark.catalog.clearCache()
      }

    // set-up: every query once on small tables compiles its generated code
    // and warms the JIT. Each family runs in order on its own thread and its
    // own hard-linked copy of the tables: an index or pair build warms up
    // ahead of the query that loads it, and the program's directory-keyed
    // caches never race between threads. Families with more queries start
    // first.
    val t0 = System.currentTimeMillis()
    val families = queries.groupBy(_._1.takeWhile(_ != '_')).toSeq
      .sortBy { case (fam, qs) => (-qs.size, fam) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors)
    val warmErrors = try families.map { case (fam, qs) =>
      val dir = linkCopy(o("warm"), s"${o("warm")}-$fam")
      pool.submit(() => qs.flatMap { case (n, q) =>
        try {
          q(spark, dir).write.format("graftbench.DigestSink").option("id", s"warm:$n")
            .mode("overwrite").save()
          DigestSink.take(s"warm:$n")
          None
        } catch { case e: Throwable => Some(s"$n: ${e.getMessage}".take(300)) }
      })
    }.flatMap(_.get())
    finally pool.shutdown()
    spark.catalog.clearCache()
    val warmS = (System.currentTimeMillis() - t0) / 1e3
    if (trace.listening) spark.sparkContext.addSparkListener(trace)

    // timed passes over the tables until `seconds` have passed, and at
    // least `min_passes`. Each pass reads its own hard-linked copy of the
    // tables, so the program's directory-keyed caches miss in every pass.
    val timedStartMs = System.currentTimeMillis()
    val stat0 = cpuStat()
    var passes = 0
    while (passes < o("min_passes").toInt ||
           System.currentTimeMillis() - timedStartMs < o("seconds").toDouble * 1000) {
      passes += 1
      val dir = linkCopy(o("data"), s"${o("data")}-pass$passes")
      queries.foreach { case (n, q) => attempt(n)(run(s"$n#$passes", q, dir)) }
    }
    val timedEndMs = System.currentTimeMillis()
    val stat1 = cpuStat()

    def seconds(id: String, kind: String): Option[Double] =
      trace.spans.find(s => s.kind == kind && s.name == id).map(_.seconds)
    val ids = for (k <- 1 to passes; n <- names) yield s"$n#$k"
    val perQuery = ids.map { id =>
      Map("name" -> id.takeWhile(_ != '#'), "pass" -> id.dropWhile(_ != '#').tail.toInt,
          "wall" -> seconds(id, "query"), "compose" -> seconds(id, "compose"),
          "plan" -> seconds(id, "plan"), "execute" -> seconds(id, "execute"),
          "digest" -> digests(id), "error" -> failed.get(id.takeWhile(_ != '#')))
    }
    val layers = if (trace.listening) {
      trace.drain()
      layerTotals(trace, ids, catalyst).map { case (k, v) => k -> v / passes }
    } else Map.empty[String, Double]
    writeJson(o("out"), Map(
      "mode" -> "batch", "warm_s" -> warmS, "passes" -> passes, "warm_errors" -> warmErrors,
      "timed_start_ms" -> timedStartMs, "timed_end_ms" -> timedEndMs,
      "steal_jiffies" -> (stat1._1 - stat0._1), "busy_jiffies" -> (stat1._2 - stat0._2),
      "rss_peak_mb" -> rssPeakMb(), "cpus" -> spark.sparkContext.defaultParallelism,
      "queries" -> perQuery, "layers" -> layers,
      "spans" -> (if (trace.listening) trace.spans.toSeq.map(spanJson) else Nil)))
  }

  private def linkCopy(from: String, to: String): String = {
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.createDirectories(dst)
    new File(from).listFiles().foreach { f =>
      java.nio.file.Files.createLink(dst.resolve(f.getName), f.toPath)
    }
    to
  }

  def spanJson(s: Span): Map[String, Any] =
    Map("name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "s" -> s.seconds)

  /** Per-layer totals of the timed passes; `ids` are `name#pass`. */
  def layerTotals(t: Trace, ids: Seq[String],
                  catalyst: collection.Map[String, Map[String, Double]]): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    ids.foreach { n =>
      val fam = n.takeWhile(_ != '_')
      def span(kind: String) = t.spans.find(s => s.kind == kind && s.name == n)
      def secs(kind: String) = span(kind).map(_.seconds).getOrElse(0.0)
      out("operators.compose_s") += secs("compose")
      out(s"operators.compose_s.$fam") += secs("compose")
      out("catalyst.plan_s") += secs("plan")
      out("execution.s") += secs("execute")
      out(s"family_wall_s.$fam") += secs("query")
      catalyst.getOrElse(n, Map.empty).foreach { case (p, v) => out(s"catalyst.${p}_s") += v }
      span("compose").foreach(s => out("operators.compose_jobs") += t.jobsIn(s).size)
      span("execute").foreach { s =>
        val js = t.jobsIn(s)
        val st = t.stagesOf(js)
        out("execution.jobs") += js.size
        out("execution.stages") += st.size
        out("execution.tasks") += st.map(_.tasks).sum
        out("execution.task_run_s") += st.map(_.runMs).sum / 1e3
        out("execution.task_cpu_s") += st.map(_.cpuNs).sum / 1e9
        out("execution.task_deser_s") += st.map(_.deserMs).sum / 1e3
        out("execution.gc_s") += st.map(_.gcMs).sum / 1e3
        out("execution.shuffle_write_bytes") += st.map(_.shufWrite).sum
        out("execution.shuffle_read_bytes") += st.map(_.shufRead).sum
        out("execution.spill_bytes") += st.map(_.spill).sum
        out("execution.input_bytes") += st.map(_.input).sum
      }
    }
    out.toMap
  }
}
