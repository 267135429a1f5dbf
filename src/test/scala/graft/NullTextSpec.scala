package graft

import graft.operators.{Pipelines, TextOps}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** NULL-document robustness (ADVICE r9 / VERDICT r9 §wrong-4): the
  * library's convention is that operators over `documents.text` EXCLUDE
  * NULL-text rows on both the Spark and oracle sides — otherwise the
  * engines diverge (Spark keeps the row with NULL aggregates; DuckDB's
  * inner joins / CASE WHEN arms drop or zero it).
  *
  * The driver's corpus has no NULL text today, so this spec builds the
  * hostile fixture itself: the sf0.001 documents table plus a NULL-text
  * row in an existing source AND a new source whose every document is
  * NULL-text (the degenerate case where `avail_tokens` would aggregate
  * to NULL in pipe_mix_epochs).
  */
class NullTextSpec extends AnyFunSuite with TestSpark.TempDirs {
  lazy val spark = TestSpark.spark

  /** sf0.001 documents + NULL-text rows, written under a temp sf dir. */
  private lazy val hostileDir: String = {
    val dir = tempDir("graft-nulltext").toString
    val base = Tables.documents(spark, TestSpark.sf)
    val extra = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(900001L, null, "en", "src3", 0L),    // NULL doc in a live source
        Row(900002L, null, "en", "src99", 0L),   // all-NULL source…
        Row(900003L, null, "de", "src99", 0L)),  // …with two documents
      base.schema)
    base.unionByName(extra).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("mix_epochs drops NULL-text rows; an all-NULL source vanishes, no NULL columns") {
    val out = Pipelines.mixEpochs(spark, hostileDir)
    val rows = out.collect()
    assert(!rows.map(_.getString(0)).contains("src99"),
      "a source with only NULL-text docs must not surface")
    assert(rows.forall(r => !r.anyNull), s"NULL leaked into: ${rows.filter(_.anyNull).mkString(";")}")
    // the NULL row in src3 must not perturb its token count vs the clean corpus
    val clean = Pipelines.mixEpochs(spark, TestSpark.sf)
      .where(col("source") === "src3").select("avail_tokens").head.getLong(0)
    val hostile = out.where(col("source") === "src3").select("avail_tokens").head.getLong(0)
    assert(clean === hostile)
  }

  test("text_diversity excludes NULL-text docs and emits no NULL columns") {
    val out = TextOps.diversity(spark, hostileDir)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(900001L) && !ids.contains(900002L))
    assert(out.collect().forall(r => !r.anyNull))
  }

  test("text_blocklist excludes NULL-text docs") {
    val out = TextOps.blocklistScrub(spark, hostileDir)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(900001L))
    assert(out.collect().forall(r => !r.anyNull))
  }
}
