package graft

import graft.operators.{EventOps, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.scalatest.funsuite.AnyFunSuite

/** Structural pin for the r13 JIT-cliff class of regressions (VERDICT r13
  * #8): the r12 ladder was oracle-green and bench-green at every gated SF
  * yet 2.7× SLOWER at sf1, because the per-plane signature expressions
  * fused into ONE whole-stage method that outgrew HotSpot's
  * `DontCompileHugeMethods` threshold (8000 bytecode bytes) and ran
  * interpreted — invisible to any correctness check, to Janino (which
  * compiles fine up to Spark's 64KB `hugeMethodLimit`), and to the bench
  * SFs. The r13 fix made the generated signature code CONSTANT-SIZE in
  * the ladder rung ([[graft.functions.LshBucketIds]] /
  * [[graft.functions.E2lshKeys]] loop over a plane-matrix field instead
  * of unrolling per plane); this spec makes that property a failing test:
  * for EVERY shipped rung — including the top ones no gated SF reaches —
  * compile each whole-stage method of the hot (signature-derivation)
  * stage and assert its max method bytecode size stays under the HotSpot
  * JIT threshold.
  *
  * Generated code size depends only on the plan (rung parameters), never
  * on data volume, so tiny literal frames prove the property for any
  * corpus size. AQE is disabled around plan construction so
  * WholeStageCodegenExec nodes are present in `executedPlan` without
  * materializing stages.
  */
class CodegenBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** HotSpot -XX:HugeMethodLimit: methods above this many bytecode bytes
    * are never JIT-compiled (flag is develop-only in release JVMs, so the
    * limit is effectively fixed). Spark's own fallback threshold
    * (`spark.sql.codegen.hugeMethodLimit`, 65536) is far looser — the
    * (8000, 65536) gap is exactly where the r12 regression lived. */
  private val HotSpotJitLimit = 8000

  /** Max compiled-method bytecode size across every whole-stage codegen
    * stage of `df`'s physical plan (compiled through Spark's own Janino
    * path, same stats the engine uses for its fallback decision). */
  private def maxWholeStageMethodBytes(df: DataFrame): Int = {
    val saved = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val stages = df.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w
      }
      assert(stages.nonEmpty,
        s"no WholeStageCodegen stage found:\n${df.queryExecution.executedPlan}")
      stages.map { w =>
        val (_, source) = w.doCodeGen()
        val (_, stats) = CodeGenerator.compile(source)
        assert(stats.maxMethodCodeSize > 0,
          s"bytecode stats unavailable for stage:\n$w")
        stats.maxMethodCodeSize
      }.max
    } finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
        case None    => spark.conf.unset("spark.sql.adaptive.enabled")
      }
    }
  }

  private def tinyVecs(dim: Int): DataFrame = {
    val s = spark; import s.implicits._
    Seq((0L, Array.fill(dim)(0.25), 2.0), (50L, Array.fill(dim)(0.5), 4.0))
      .toDF("vec_id", "v", "norm")
  }

  test("sign-LSH signature stage stays JIT-compilable at every rung") {
    val rungs = (Similarity.LshSteps.map { case (_, pt, pb) => (pt, pb) })
      .prepended((4, 6)) // base rung
    rungs.foreach { case (pt, pb) =>
      val sz = maxWholeStageMethodBytes(
        Similarity.lshBuckets(tinyVecs(64), tables = pt, bits = pb))
      assert(sz < HotSpotJitLimit,
        s"sign-LSH rung ($pt,$pb): max whole-stage method $sz bytes " +
          s"≥ HotSpot JIT limit $HotSpotJitLimit — this rung would run interpreted")
    }
  }

  test("ranked-probe margin stage (PlaneDots) stays JIT-compilable at every rung") {
    val s = spark; import s.implicits._
    // r15's PlaneDots computes pt·pb projection margins per query — the
    // same shape (per-plane dot products in one projection) that caused
    // the r12 cliff; pin it at every rung including the 14×12 top one
    val q = Seq((0L, Array.fill(64)(0.5), 4.0)).toDF("query_id", "qv", "qnorm")
    val rungs = (Similarity.LshSteps.map { case (_, pt, pb) => (pt, pb) })
      .prepended((4, 6)) // base rung
    rungs.foreach { case (pt, pb) =>
      val sz = maxWholeStageMethodBytes(
        Similarity.rankedFlips(q, pt, pb, Similarity.LshRankedProbeMult * pt))
      assert(sz < HotSpotJitLimit,
        s"ranked-margin rung ($pt,$pb): max whole-stage method $sz bytes " +
          s"≥ HotSpot JIT limit $HotSpotJitLimit — this rung would run interpreted")
    }
  }

  test("E2LSH key stage stays JIT-compilable at every profile rung") {
    val s = spark; import s.implicits._
    val profiles = Seq((1L, Array.fill(24)(1.0)), (2L, Array.fill(24)(2.0)))
      .toDF("user_id", "vec")
    val rungs = (EventOps.ProfSteps.map { case (_, pk, pt) => (pt, pk) })
      .prepended((18, 5)) // base rung
    rungs.foreach { case (pt, pk) =>
      val sz = maxWholeStageMethodBytes(
        EventOps.tsBuckets(profiles, pt, pk, EventOps.ProfWidth, Some(400L), withVec = false))
      assert(sz < HotSpotJitLimit,
        s"E2LSH rung (pt=$pt,pk=$pk): max whole-stage method $sz bytes " +
          s"≥ HotSpot JIT limit $HotSpotJitLimit — this rung would run interpreted")
    }
  }
}
