package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Max stdout-line length the driver's 2000-char tail window can hold
    * (margin for our trailing newline; build.sbt's showSuccess := false
    * keeps sbt from printing after us). */
  private[graft] val MaxLine = 1985

  private def fmt(v: Double, dec: Int): String = {
    val s = String.format(java.util.Locale.ROOT, s"%.${dec}f", v)
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") else s
  }
  private def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)

  /** Max failed-query names carried verbatim on a DEGRADED rung. 10 names
    * at ~25 chars each keeps the floor rung provably under [[MaxLine]] even
    * if every query fails (ADVICE r12: the unbounded list was ~2314 chars
    * at 115 failures — over the window exactly in the mass-failure case the
    * list exists for). "failed_n" always carries the TRUE count, so a
    * truncated list is self-identifying (failed_n > names shown). */
  private[graft] val FailedCap = 10

  /** The bench stdout line, degraded until it fits [[MaxLine]] — pure so
    * BenchLineSpec can pin the bound at any synthetic query count. Ladder:
    * full per-query map at 2 then 1 decimals (first with the full failed
    * list, then with it capped at [[FailedCap]]), then a TOP-K-SLOWEST map
    * (1 decimal, remainder rolled into "_rest_n"/"_rest_total" — the
    * expensive tail is what the plan audit reads), then a marker-only
    * "_omitted_n" map as the never-ship-garbage guard. The headline total
    * stays 3-decimal on every rung. */
  private[graft] def stdoutLine(results: Seq[(String, Double)], sfDir: String,
                                loadBefore: String, contaminated: String,
                                loadAfter: String = "-1", waitSec: Int = 0,
                                failed: Seq[String] = Nil,
                                filtered: Boolean = false): String = {
    def queriesJson(dec: Int): String =
      results.map { case (k, v) => "\"" + k + "\":" + fmt(v, dec) }
        .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Same field set as the canonical BENCH.json record (ADVICE r11: the
    // per-round record parsed from this line must round-trip with it):
    // full sf path, load_after, wait_sec, failed list + true count, and
    // the filtered flag (ADVICE r12: a SPARK_GRAFT_ONLY run's
    // partial total must self-identify IN-BAND — the stderr warning is
    // not part of the record the driver parses).
    def failedJson(cap: Int): String =
      failed.take(cap).map("\"" + _ + "\"").mkString("[", ",", "]")
    def wrap(queries: String, fCap: Int): String =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$queries,"sf":"$sfDir","load_before":$loadBefore,"load_after":$loadAfter,"wait_sec":$waitSec,"failed":${failedJson(fCap)},"failed_n":${failed.size},"filtered":$filtered,"contaminated":$contaminated}"""
    val byCost = results.sortBy { case (n, v) => (-v, n) }
    def lineTopK(k: Int): String = {
      val (top, rest) = byCost.splitAt(k)
      val entries = top.map { case (n, v) => "\"" + n + "\":" + fmt(v, 1) } ++
        Seq("\"_rest_n\":" + rest.size,
            "\"_rest_total\":" + fmt(rest.map(_._2).sum, 1))
      wrap(entries.mkString("{", ",", "}"), FailedCap)
    }
    val noQueries = wrap(s"""{"_omitted_n":${results.size}}""", FailedCap)
    // capped-failed rungs exist only when the cap actually bites —
    // otherwise they'd duplicate the full-list rungs byte for byte
    val cappedRungs =
      if (failed.size > FailedCap)
        Seq(wrap(queriesJson(2), FailedCap), wrap(queriesJson(1), FailedCap))
      else Nil
    val ladder = (Seq(wrap(queriesJson(2), failed.size),
                      wrap(queriesJson(1), failed.size)) ++ cappedRungs).view ++
      (results.size to 1 by -1).view.map(lineTopK)
    ladder.find(_.length <= MaxLine).getOrElse(noQueries)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.create("Bench")
    spark.sparkContext.setLogLevel("WARN")
    // Host load at bench start: a contaminated run (concurrent host load)
    // is then self-identifying in the artifact (see BASELINE.md, round 4
    // showed 7-10x phantom "regressions" from a loaded host).
    def loadAvg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").head
      catch { case _: Throwable => "-1" }
    // Contamination auto-retry (VERDICT r9 #8): if the 1-min load at start
    // is elevated, the run would measure the HOST, not the engine — so
    // wait out the spike (poll every 15 s, up to 4 min, enough for a
    // 1-min loadavg to decay from a finished burst) before warming up.
    // The WAIT target is 1.0 (VERDICT r12 #5: driver runs started at
    // load ~1.6 sat ~20% above clean canonicals while still under the
    // contamination threshold); the CONTAMINATED self-flag stays at 2.0 —
    // between 1.0 and 2.0 a run is slightly noisy but honest, and if the
    // load never subsides we proceed anyway with the flag telling the
    // truth. An unreadable /proc/loadavg ("-1") skips the wait.
    var loadBefore = loadAvg()
    var waited = 0
    while (loadBefore.toDoubleOption.exists(_ > 1.0) && waited < 240) {
      // visible progress (ADVICE r10): without it a waiting run looks
      // hung for up to 4 minutes
      println(s"BENCH-WAIT load=$loadBefore > 1.0, sleeping 15s (waited ${waited}s)")
      Thread.sleep(15000L); waited += 15; loadBefore = loadAvg()
    }
    // Dev-iteration filter, the same SPARK_GRAFT_ONLY Verify reads: time a
    // comma-listed subset at the bench SF. Guards against leaking into a
    // judged run: loud stderr warning AND BENCH.json is NOT written, so a
    // filtered run can never replace the canonical record.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    only.foreach { f => System.err.println(
      s"[bench] WARNING: SPARK_GRAFT_ONLY is set — timing ONLY " +
        s"${f.size} queries; BENCH.json will NOT be written.") }
    // Warm-up: parquet footers at the bench SF, then every (selected)
    // query once at the smallest SF. Whole-stage-codegen classes are
    // cached by generated source, so the sf0.001 run compiles each
    // query's codegen + JITs its hot loops — the timed sf run then
    // measures the engine, not one-time compilation (~3-4s of which
    // otherwise lands on the first queries).
    Tables.names.foreach { t =>
      try Tables.load(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      SparkEntry.queries
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (_, fn) =>
        // warm through the same noop-write path the timed runs use, so the
        // sort/write codegen is compiled before timing too
        try { fn(spark, warmDir).write.mode("overwrite").format("noop").save(); spark.catalog.clearCache() }
        catch { case _: Throwable => () }
      }
    // clearCache between queries: several operators persist() small derived
    // relations consumed by multiple join branches; dropping them once the
    // query finishes keeps repeated query runs from accumulating cache
    // blocks (GC/memory-manager pressure measurably drags later queries).
    // A query that THROWS must never masquerade as a speedup: round 11's
    // four NTZ-broken asof/lateness queries failed in ~70 ms each and the
    // old silent catch recorded that as an 8-10x "win" (ADVICE r11, high).
    // Failures are collected per name and shipped in a "failed" list in
    // BOTH the stdout line and BENCH.json — an artifact with failed:[...]
    // is self-identifying as not a performance measurement for those rows.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // noop write, not count(): under count() Catalyst's EliminateSorts
      // drops each query's final presentation orderBy, so sorted queries
      // were slightly under-timed. The noop sink executes the FULL plan
      // (sort included) and discards rows executor-side.
      try { fn(spark, sfDir).write.mode("overwrite").format("noop").save() }
      catch { case e: Throwable =>
        if (failed.add(name))
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      t
    }
    // Min-of-2 per query, run as two INTERLEAVED full passes (A,B,…,A,B,…
    // rather than A,A,B,B): back-to-back repeats share any transient host
    // load spike, so both samples of a query could be contaminated at once
    // and the min still doubled; with ~20s between a query's two samples, a
    // spike has to persist across the whole pass to survive the min. A
    // third pass covers sub-0.5s queries, whose single-shot times are
    // dominated by scheduler/GC noise on this box.
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val passA = named.map { case (name, fn) => once(name, fn) }
    val passB = named.map { case (name, fn) => once(name, fn) }
    val resultsAll = named.lazyZip(passA).lazyZip(passB).map { case ((name, fn), a, b) =>
      val m = math.min(a, b)
      name -> (if (m < 0.5) math.min(m, once(name, fn)) else m)
    }
    // A failed query's ~70ms time-to-throw is NOT a measurement (ADVICE
    // r12): excluded from both the queries map and the headline total, so
    // "value" only ever sums real runs; the failed list names the gaps.
    val results = resultsAll.filterNot { case (name, _) => failed.contains(name) }
    // The driver parses the JSON line out of the LAST 2000 chars of sbt's
    // stdout, so the stdout line must fit that window (round 4 and round 7
    // both shipped parsed:null when it didn't: r4 from log noise after the
    // line, r7 because 76 queries at 3 decimals grew the line to 1994 chars
    // and sbt's trailing "[success]" line pushed its head out of the
    // window). Defenses, layered:
    //   * per-query times at 2 decimals with trailing zeros stripped
    //     ("0.30"->"0.3"); 10 ms granularity on 0.2-4 s queries loses
    //     nothing the judge compares on, and BENCH.json below keeps the
    //     full 3-decimal line for the record;
    //   * if the line would still exceed the window (future query growth),
    //     degrade the stdout copy to 1 decimal rather than ship a line the
    //     driver provably cannot parse;
    //   * build.sbt sets showSuccess := false so nothing prints after us.
    // Locale.ROOT, not the f interpolator: a comma-decimal default locale
    // would emit 0,123 — invalid JSON in both stdout and BENCH.json.
    def queriesJson(dec: Int): String =
      results.map { case (k, v) => "\"" + k + "\":" + fmt(v, dec) }
        .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Self-flag contaminated runs: rounds 4-6 each shipped a bench artifact
    // whose times were inflated by concurrent host activity. load_before is
    // the 1-min load average BEFORE our 32 threads start — on a quiet host
    // it's the tail of sbt's own compile (~<2); anything above 2.0 means
    // another workload is sharing the cores and the numbers measure the
    // host, not the engine. (load_after is NOT checked: it includes the
    // bench's own 32 threads and is legitimately high.) When the load is
    // UNKNOWN (loadAvg() sentinel "-1": no readable /proc/loadavg) the flag
    // is null, not false — the artifact must never vouch for a cleanliness
    // it could not observe.
    val contaminated = loadBefore.toDoubleOption match {
      case Some(l) if l >= 0 => (l > 2.0).toString
      case _ => "null"
    }
    // The stdout line now carries the SAME field set as BENCH.json —
    // full sf path, load_after, wait_sec, failed — so the driver's
    // per-round record round-trips with the canonical one (ADVICE r11).
    // load_after includes the bench's own 32 threads and is never used to
    // judge cleanliness (see the contaminated scaladoc above); it's here
    // for record consistency only. The stdoutLine ladder (2-dec → 1-dec
    // full map → top-K slowest + rollup → marker-only guard) absorbs the
    // extra constant bytes by degrading per-query precision if needed;
    // the headline total stays 3-decimal on every rung. Full 3-decimal
    // precision always lands in BENCH.json regardless.
    val loadAfter = loadAvg()
    val failedJson = failed.toSeq.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(stdoutLine(results, sfDir, loadBefore, contaminated,
                       loadAfter, waited, failed.toSeq,
                       filtered = only.nonEmpty))
    // "filtered" is literally false here: a filtered run never reaches this
    // write (the canonical record is only ever a full-suite measurement).
    if (only.isEmpty) try {
      val w = new java.io.PrintWriter("/root/repo/BENCH.json")
      try w.println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${queriesJson(3)},"sf":"$sfDir","load_before":$loadBefore,"load_after":$loadAfter,"wait_sec":$waited,"failed":$failedJson,"failed_n":${failed.size},"filtered":false,"contaminated":$contaminated}""") finally w.close()
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
