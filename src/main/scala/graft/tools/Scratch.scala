package graft.tools


/** Throwaway measurement probes for the optimization round (r21):
  * A/B a single SQL conf over a set of registered queries (noop sink).
  *
  * INTERLEAVED since the r21 order-bias discovery: the original
  * base×3-then-alt×3 shape let the JVM's C2 JIT warm across the base
  * reps, so the alt arm inherited a hot JIT and "won" even in a
  * null test (conf set to its default: dedup_cand_pairs task CPU
  * 9.31 → 4.61 s between arms with IDENTICAL config). Reps now run
  * as alternating base/alt pairs after one discarded warm rep of
  * each, so both arms share the same JIT temperature; min of 3. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val confKey = if (args.length > 1) args(1) else null
    val confVal = if (args.length > 2) args(2) else null
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.create("Scratch")
    spark.sparkContext.setLogLevel("WARN")
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
    })

    def once(name: String): (Double, Double) = {
      val fn = graft.SparkEntry.queries(name)
      Thread.sleep(200); cpuNs.set(0L)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(200)
      (t, cpuNs.get / 1e9)
    }
    def setBase(): Unit = if (confKey != null) spark.conf.unset(confKey)
    def setAlt(): Unit = if (confKey != null) spark.conf.set(confKey, confVal)
    for (name <- names) {
      setBase(); once(name) // discarded warm rep, base
      if (confKey != null) { setAlt(); once(name) } // discarded warm rep, alt
      // ABBA ordering (ADVICE r21, low): alternate which arm runs first
      // per pair so neither arm systematically sits later in JIT warm-up.
      val pairs = (1 to 3).map { i =>
        if (confKey == null) (once(name), (-1.0, -1.0))
        else if (i % 2 == 1) {
          setBase(); val b = once(name); setAlt(); val a = once(name); (b, a)
        } else {
          setAlt(); val a = once(name); setBase(); val b = once(name); (b, a)
        }
      }
      val (bw, bc) = (pairs.map(_._1._1).min, pairs.map(_._1._2).min)
      val (aw, ac) = (pairs.map(_._2._1).min, pairs.map(_._2._2).min)
      println(f"AB $name base=$bw%.3f cpu=$bc%.2f alt=$aw%.3f altcpu=$ac%.2f")
    }
    spark.stop()
  }
}
