package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver's testdata generator has shipped `events.ts` in three
  * parquet flavors across rounds: TIMESTAMP(NANOS) (read as LongType
  * under the legacy flag), TIMESTAMP(MICROS, adjustedToUTC=true) (LTZ)
  * and naive TIMESTAMP(MICROS) (NTZ). The round-11→12 flip from LTZ to
  * NTZ crashed every query that used `unix_micros` or the native as-of
  * plan — and the crashes were silently dropped from both the
  * correctness report and the bench. This spec pins the fix at its
  * semantic root, for the WHOLE events family (r13: every registered
  * ev_ query, derived from the registry — not just the four r11
  * crashers): each must return IDENTICAL flavor-independent values on
  * an LTZ and an NTZ copy of the same data, so the next flavor flip is
  * a no-op instead of a multi-query outage. */
class TimestampFlavorSpec extends AnyFunSuite with TestSpark.TempDirs {
  lazy val spark = TestSpark.spark

  /** A full sf0.001 testdata dir staged once per flavor: every table
    * copied, with `events.ts` cast to LTZ (`timestamp`) or NTZ
    * (`timestamp_ntz`). Under the UTC session both casts are
    * instant-preserving, so the two dirs hold the same instants in
    * different physical types — and because ALL tables are present, every
    * registered query can run against either dir. */
  private def stage(flavor: String): String = {
    val dir = tempDir(s"tsflavor_$flavor").toString
    Tables.names.foreach { t =>
      val df = Tables.load(spark, TestSpark.sf, t)
      val out = if (t == "events") df.withColumn("ts", col("ts").cast(flavor))
                else df
      out.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }
  private lazy val ltzDir = stage("timestamp")
  private lazy val ntzDir = stage("timestamp_ntz")

  /** Collects only flavor-independent columns (longs/strings/doubles —
    * everything except columns CONTAINING a timestamp anywhere in their
    * type, e.g. window structs, whose JVM type rightly tracks the
    * flavor) as a comparable multiset. */
  private def values(df: DataFrame): Seq[Seq[Any]] = {
    val keep = df.schema.fields.filter(f =>
      !f.dataType.sql.toLowerCase.contains("timestamp")).map(_.name).toSeq
    df.select(keep.map(col): _*).collect().toSeq.map(_.toSeq)
  }

  /** EVERY registered events-family query (VERDICT r12 #6: the r12 spec
    * pinned only the four r11 crashers + sessionize; nothing pinned the
    * rest of the family against the next generator flip). The list is
    * derived from the registry, so a new ev_ query is covered the day
    * it's registered. */
  private lazy val affected: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1).filter(_._1.startsWith("ev_"))

  /** The four r11 crashers must stay non-vacuous (rows > 0). */
  private val mustReturnRows = Set("ev_asof_join", "ev_asof_native",
    "ev_lateness_audit", "ev_transitions", "ev_sessionize")

  test("every ev_ query reads both LTZ and NTZ events without error") {
    assert(affected.size >= 20, s"registry shrank? ${affected.map(_._1)}")
    for ((name, fn) <- affected; dir <- Seq(ltzDir, ntzDir)) {
      val n = withClue(s"$name on $dir:") { fn(spark, dir).count() }
      if (mustReturnRows(name))
        withClue(s"$name on $dir:") { assert(n > 0) }
      spark.catalog.clearCache()
    }
  }

  test("flavor-independent results are identical across LTZ and NTZ") {
    for ((name, fn) <- affected) {
      val l = values(fn(spark, ltzDir))
      spark.catalog.clearCache()
      val n = values(fn(spark, ntzDir))
      spark.catalog.clearCache()
      withClue(s"$name:") { assert(l == n) }
    }
  }

  test("micros helper agrees with unix_micros on LTZ and is cast-stable on NTZ") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789")
    val df = Seq(t).toDF("ts")
    val viaHelper = df.select(Tables.micros($"ts")).as[Long].head()
    val viaBuiltin = df.select(unix_micros($"ts")).as[Long].head()
    assert(viaHelper === viaBuiltin)
    val ntz = df.select($"ts".cast("timestamp_ntz").as("ts"))
    assert(ntz.select(Tables.micros($"ts")).as[Long].head() === viaBuiltin)
  }
}
