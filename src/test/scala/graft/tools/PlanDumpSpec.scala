package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[PlanDump.normalise]]: two dumps of one plan that differ only in
  * process counters, host paths and object identities normalise equal. */
class PlanDumpSpec extends AnyFunSuite {

  test("ids, lambda names, cache paths, the tables root and object identities become fixed tokens") {
    val raw =
      """Exchange hashpartitioning(doc_id#524L, 4), ENSURE_REQUIREMENTS, [plan_id=1021]
        |Input [2]: [doc_id#524L, sh#533]
        |Output [2]: [sh#533, doc_id#524L]
        |Location: InMemoryFileIndex [file:/root/testdata/sf0.1/documents.parquet]
        |Location: InMemoryFileIndex [file:/tmp/graft_ivfpq_index/_root_testdata_sf0.1_1787108963387_798695_c64_k16/cent]
        |Arguments: graft.operators.Dedup$$$Lambda$6012/0x00007f797d5b5bc8@1db4ea47, obj#1044: scala.Tuple5
        |Functions [1]: [minhash_sketch(x#534L, [J@71549247, 0)]
        |Output [1]: [transform(sh#533, lambdafunction(lambda x_17#2000, lambda x_17#2000, false)) AS t#2001]
        |Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1077]""".stripMargin
    val norm = PlanDump.normalise(raw, "/root/testdata/sf0.1")
    assert(norm ==
      """Exchange hashpartitioning(doc_id#1L, 4), ENSURE_REQUIREMENTS, [plan_id=1]
        |Input [2]: [doc_id#1L, sh#2]
        |Output [2]: [sh#2, doc_id#1L]
        |Location: InMemoryFileIndex [file:$SF/documents.parquet]
        |Location: InMemoryFileIndex [file:/tmp/graft_ivfpq_index/$KEY/cent]
        |Arguments: graft.operators.Dedup$$$Lambda@_, obj#3: scala.Tuple5
        |Functions [1]: [minhash_sketch(x#4L, [J@_, 0)]
        |Output [1]: [transform(sh#2, lambdafunction(lambda x_1#5, lambda x_1#5, false)) AS t#6]
        |Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=2]""".stripMargin)
    // the same plan from a process whose counters stood elsewhere
    val shifted = raw.replace("#524", "#9524").replace("#533", "#9533")
      .replace("#534", "#9534").replace("#1044", "#91044").replace("#2000", "#92000")
      .replace("#2001", "#92001").replace("x_17", "x_3")
      .replace("plan_id=1021", "plan_id=7").replace("plan_id=1077", "plan_id=8")
      .replace("1787108963387_798695", "1800000000000_798695")
      .replace("$6012/0x00007f797d5b5bc8@1db4ea47", "$17/0x00007f0000001000@5")
    assert(PlanDump.normalise(shifted, "/root/testdata/sf0.1") == norm)
  }
}
