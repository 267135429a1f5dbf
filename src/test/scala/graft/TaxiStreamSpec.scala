package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import graft.streaming.{TaxiJobs, TaxiPipelines}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Using

/** End-to-end tests for the taxi pipelines against independently computed
  * ground truth (NOT the reference's golden files, which mix stale code
  * versions and partial update-mode snapshots, SURVEY.md §5.2).
  *
  * The first six tests run on a seeded generated day ([[TaxiFeed]]) whose
  * truth comes from the generator's bookkeeping, so they run on any host.
  * The `reference data: …` tests hold the real day's truths (SURVEY §5.3)
  * and the golden-byte parity with the reference's output; they run only
  * where `/root/reference` exists, and are canceled elsewhere.
  */
class TaxiStreamSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  private val taxiData = "/root/reference/taxi-data"
  private val refOutput = "/root/reference/output"

  /** True dropoff counts per hour-of-day (417,740 rows total). */
  private val hourTruth = Map(
    0 -> 7396L, 1 -> 5780L, 2 -> 3605L, 3 -> 2426L, 4 -> 2505L, 5 -> 3858L,
    6 -> 10258L, 7 -> 19007L, 8 -> 23799L, 9 -> 24003L, 10 -> 21179L,
    11 -> 20219L, 12 -> 20522L, 13 -> 20556L, 14 -> 21712L, 15 -> 22016L,
    16 -> 18034L, 17 -> 19719L, 18 -> 25563L, 19 -> 28178L, 20 -> 27449L,
    21 -> 27072L, 22 -> 24078L, 23 -> 18806L)

  /** (dropoff hour → (goldman, citigroup)) spot truths. */
  private val hqTruth = Map(7 -> (17L, 62L), 9 -> (39L, 60L), 10 -> (26L, 18L))

  /** Every directory the suite writes lives under `root`, removed in
    * `afterAll`. */
  private var root: Path = _
  private lazy val feed = TaxiFeed.write(tmp("feed"))
  private lazy val feedData = feed.dir.toString

  /** Generated-feed spot hours; 8 holds the planted trend. */
  private val spotHours = Seq(7, 8, 9, 10)
  private def feedSpots: Map[Int, (Long, Long)] = spotHours.map { h =>
    h -> (feed.hqTruth.getOrElse((h, "goldman"), 0L),
          feed.hqTruth.getOrElse((h, "citigroup"), 0L))
  }.toMap

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = Files.createTempDirectory("taxi-stream-spec")
  }

  override def afterAll(): Unit =
    try {
      if (root != null)
        Using.resource(Files.walk(root)) {
          _.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
        }
    } finally super.afterAll()

  private def tmp(prefix: String): Path = Files.createTempDirectory(root, prefix)

  private def stage(src: String, dst: Path, hours: Range): Unit =
    hours.foreach { h =>
      (0 until 60).foreach { m =>
        val f = f"part-2015-12-01-$h%02d$m%02d.csv"
        Files.copy(Paths.get(src, f), dst.resolve(f))
      }
    }

  private def drain(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  /** Task2/Task3 file for dropoff-hour h: stamp (h+1)*360000 (h=23 → 24). */
  private def stamp(h: Int): Long = (h + 1) * 360000L

  private def hourly(input: String): Map[Int, Long] =
    TaxiPipelines.hourlyCounts(
        TaxiPipelines.scanGreen22(spark, input, streaming = false))
      .select(hour(col("window.start")).as("h"), col("count"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  private def hourlyHq(input: String): Map[(Int, String), Long] =
    TaxiPipelines.hourlyHqCounts(
        TaxiPipelines.scanSplit24(spark, input, streaming = false))
      .select(hour(col("window.start")).as("h"), col("headquarters"), col("count"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap

  private def checkHqSpots(got: Map[(Int, String), Long],
                           spots: Map[Int, (Long, Long)]): Unit =
    spots.foreach { case (h, (g, c)) =>
      assert(got((h, "goldman")) == g, s"goldman h$h")
      assert(got((h, "citigroup")) == c, s"citigroup h$h")
    }

  /** Runs Task2 over `input`; the bodies of hours 0, 8, 14, 22 and 23 must
    * be the bare count, byte for byte (no trailing newline). */
  private def checkTask2(input: String, truth: Map[Int, Long]): Path = {
    val out = tmp("t2out")
    drain(TaxiJobs.task2(spark, input, out.toString))
    Seq(0, 8, 14, 22, 23).foreach { h =>
      val body = new String(Files.readAllBytes(out.resolve(s"output-${stamp(h)}")), UTF_8)
      assert(body == truth(h).toString, s"hour $h")
    }
    out
  }

  /** Runs Task3 over `input`; each spot hour's file holds both lines, in
    * the `('citigroup', n)\n('goldman', n)` layout. */
  private def checkTask3(input: String, spots: Map[Int, (Long, Long)]): Path = {
    val out = tmp("t3out")
    drain(TaxiJobs.task3(spark, input, out.toString))
    spots.foreach { case (h, (g, c)) =>
      val body = Files.readString(out.resolve(s"output3-${stamp(h)}"))
      assert(body.contains(s"('citigroup', $c)"), s"h$h: $body")
      assert(body.contains(s"('goldman', $g)"), s"h$h: $body")
      assert(body.matches("\\('citigroup', \\d+\\)\n\\('goldman', \\d+\\)"), body)
    }
    out
  }

  /** Runs Task4 over hour 08 of `input` staged as one micro-batch; the
    * 08:50 citigroup trend must fire, and the fired windows must equal a
    * batch-mode trend computation over the same files. */
  private def checkTask4(input: String): Path = {
    val in = tmp("t4in"); val out = tmp("t4out")
    stage(input, in, 8 to 8) // dropoffs 08:00-08:59 → one micro-batch
    drain(TaxiJobs.task4(spark, in.toString, out.toString))
    // [08:50,09:00) citigroup: 12 dropoffs vs 3 in [08:40,08:50) →
    // fires (≥10, ≥2×3); window end 09:00 → ts 32400 → part-3240000
    // (reference golden has the same firing with a partial count).
    val f = out.resolve("part-3240000")
    assert(Files.exists(f), s"missing; files=${out.toFile.list.toSeq}")
    assert(Files.readString(f) == "(citigroup, (12, 32400, 3))")
    // streaming batch output == batch-mode trend computation on same files
    val expected = TaxiPipelines.trending(TaxiPipelines.tenMinHqCounts(
        TaxiPipelines.scanSplit24(spark, in.toString, streaming = false)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val gotFiles = out.toFile.list.toSeq.filter(_.startsWith("part-"))
    assert(gotFiles.size == expected.map(_._3).size)
    out
  }

  /** Task2 over hours 0-1 with a checkpoint, then a restart after hour 2
    * is staged: the restart resumes at the next batch and leaves the
    * earlier hours' files as they were. */
  private def checkCheckpoint(input: String, truth: Map[Int, Long]): Unit = {
    val in = tmp("ckin"); val out = tmp("ckout"); val ck = tmp("ck")
    def body(h: Int) = Files.readString(out.resolve(s"output-${stamp(h)}")).trim
    stage(input, in, 0 to 1)
    drain(TaxiJobs.task2(spark, in.toString, out.toString, Some(ck.toString),
      maxFilesPerTrigger = 60))
    assert(body(0) == truth(0).toString)
    assert(body(1) == truth(1).toString)

    stage(input, in, 2 to 2)
    val q2 = TaxiJobs.task2(spark, in.toString, out.toString, Some(ck.toString),
      maxFilesPerTrigger = 60)
    val lastBatch = try { q2.processAllAvailable(); q2.lastProgress.batchId }
                    finally q2.stop()
    // recovered stream continues past the 2 committed batches
    assert(lastBatch >= 2, s"batchId $lastBatch — checkpoint not recovered")
    // new hour processed; previously final files untouched and correct
    assert(body(2) == truth(2).toString)
    assert(body(0) == truth(0).toString)
  }

  private def assumeDirs(paths: String*): Unit =
    paths.foreach(p => assume(Files.isDirectory(Paths.get(p)), s"$p is absent"))

  // ------------------------------------------------------------------ batch

  test("batch: hourly counts match ground truth for all 24 hours") {
    val got = hourly(feedData)
    assert(got == feed.hourTruth)
    assert(got.values.sum == feed.total)
  }

  test("batch: per-HQ hourly counts match ground truth spot values") {
    val got = hourlyHq(feedData)
    feedSpots.foreach { case (h, (g, c)) =>
      assert(g > 0 && c > 0, s"feed plants no dropoffs at one headquarters in h$h")
    }
    checkHqSpots(got, feedSpots)
    assert(got == feed.hqTruth)
  }

  // -------------------------------------------------------------- streaming

  test("streaming task2: final golden files converge to ground truth") {
    checkTask2(feedData, feed.hourTruth)
  }

  test("streaming task3: final golden files converge to ground truth") {
    checkTask3(feedData, feedSpots)
  }

  test("streaming task4: chronological hour-08 batch fires the known trend") {
    checkTask4(feedData)
  }

  test("streaming task2: checkpoint recovery resumes without reprocessing") {
    checkCheckpoint(feedData, feed.hourTruth)
  }

  // ----------------------------------------- reference data (SURVEY §5.3)

  test("reference data: hourly counts match the real day's 24 hours") {
    assumeDirs(taxiData)
    val got = hourly(taxiData)
    assert(got == hourTruth)
    assert(got.values.sum == 417740L)
  }

  test("reference data: per-HQ hourly counts match the real spot values") {
    assumeDirs(taxiData)
    checkHqSpots(hourlyHq(taxiData), hqTruth)
  }

  test("reference data: task2 golden files match the reference's bytes") {
    assumeDirs(taxiData, refOutput)
    val out = checkTask2(taxiData, hourTruth)
    // BYTE parity with the reference's sane golden files (hours whose
    // count had converged before the reference run stopped): the emitted
    // bodies must be bit-identical — bare count, no trailing newline — so
    // a formatting regression can't slip past the value asserts above.
    Seq(14 -> "output-5400000", 22 -> "output-8280000").foreach { case (h, ref) =>
      val ours = Files.readAllBytes(out.resolve(s"output-${(h + 1) * 360000L}"))
      val golden = Files.readAllBytes(Paths.get(refOutput, ref))
      assert(ours.sameElements(golden),
        s"hour $h bytes differ from golden $ref: ${new String(ours, "UTF-8")}")
    }
  }

  test("reference data: task3 golden lines match the reference's bytes") {
    assumeDirs(taxiData, refOutput)
    val out = checkTask3(taxiData, hqTruth)
    // Byte parity with the golden files, at line level: the reference's
    // whole files carry its partial-update artifact (SURVEY §5.2b — e.g.
    // golden h09 citigroup reads 58 vs the true 60), so only the lines
    // that had converged in BOTH runs can match bit-for-bit. Golden h07
    // citigroup 62 (line 0 of output3-2880000) and h09 goldman 39 (line 1
    // of output3-3600000) are final; assert those lines byte-identical,
    // and the whole-file layout (citigroup line, LF, goldman line, no
    // trailing newline) structurally identical to the golden bodies.
    val ref = Paths.get(refOutput)
    val ours7 = Files.readString(out.resolve("output3-2880000"))
    val golden7 = Files.readString(ref.resolve("output3-2880000"))
    assert(ours7.linesIterator.next() == golden7.linesIterator.next(),
      s"h07 citigroup line differs: $ours7 vs $golden7")
    val ours9 = Files.readString(out.resolve("output3-3600000"))
    val golden9 = Files.readString(ref.resolve("output3-3600000"))
    assert(ours9.linesIterator.toSeq(1) == golden9.linesIterator.toSeq(1),
      s"h09 goldman line differs: $ours9 vs $golden9")
    Seq(ours7, ours9).foreach { b =>
      assert(b.matches("\\('citigroup', \\d+\\)\n\\('goldman', \\d+\\)"), b)
    }
  }

  test("reference data: task4 part-3240000 matches the golden bytes") {
    assumeDirs(taxiData, refOutput)
    val f = checkTask4(taxiData).resolve("part-3240000")
    // Byte parity with golden part-3240000 modulo the one documented
    // divergence: the reference's partial count 10 (its file pickup order
    // admitted fewer of the window's rows into that batch, SURVEY §5.2b)
    // vs our 12. Substituting the count must make the files bit-identical,
    // pinning every other byte of the format: parens, comma-space, window
    // end, prev count, no trailing newline.
    val golden4 = Files.readString(Paths.get(refOutput, "part-3240000"))
    assert(golden4.replace("(10,", "(12,") == Files.readString(f),
      s"format bytes differ from golden: ${Files.readString(f)}")
  }

  test("reference data: checkpoint recovery resumes on the real hours 0-2") {
    assumeDirs(taxiData)
    checkCheckpoint(taxiData, hourTruth)
  }
}
