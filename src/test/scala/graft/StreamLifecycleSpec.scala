package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import graft.streaming.{LocalCheckpointFileManager, StreamLifecycle, TaxiJobs}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[StreamLifecycle.start]] and the checkpoint file manager it installs,
  * [[LocalCheckpointFileManager]]. */
class StreamLifecycleSpec extends AnyFunSuite with TestSpark.TempDirs {
  lazy val spark = TestSpark.spark
  private val key = StreamLifecycle.ManagerKey
  private val graftManager = classOf[LocalCheckpointFileManager].getName
  private val sparkDefault = classOf[FileContextBasedCheckpointFileManager].getName

  private lazy val feed = TaxiFeed.write(tempDir("feed"))

  /** Copies the feed's minute files `from until to` (minutes of the day)
    * into `dst`, with modification times one second apart in minute order,
    * so the file source picks them up in that order. */
  private def stage(dst: Path, from: Int, to: Int): Unit = {
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    (from until to).foreach { m =>
      val name = f"part-2015-12-01-${m / 60}%02d${m % 60}%02d.csv"
      val f = Files.copy(feed.dir.resolve(name), dst.resolve(name))
      Files.setLastModifiedTime(f, FileTime.fromMillis(t0 + m * 1000L))
    }
  }

  private def withManager(manager: Option[String]): SparkSession = {
    val s = spark.newSession()
    manager.foreach(s.conf.set(key, _))
    s
  }

  /** Each file under `dir`, by its path relative to `dir`. */
  private def files(dir: Path): Map[String, Path] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> f).toMap

  private def lastCommit(ck: Path): Long =
    Files.list(ck.resolve("commits")).iterator().asScala
      .map(_.getFileName.toString).filter(_.forall(_.isDigit)).map(_.toLong).max

  /** Task4 over minutes 07:00-09:59 at 25 files a trigger (8 batches), run
    * in one query per `(manager, minutes staged before it)` step on one
    * checkpoint; returns the output's part files and the checkpoint's
    * file names, and the last committed batch id. */
  private def task4Steps(steps: (Option[String], Int)*): (Map[String, String], Set[String], Long) = {
    val in = tempDir("in"); val out = tempDir("out"); val ck = tempDir("ck")
    var staged = 7 * 60
    steps.foreach { case (manager, upTo) =>
      stage(in, staged, upTo); staged = upTo
      val s = withManager(manager)
      val q = TaxiJobs.task4(s, in.toString, out.toString, Some(ck.toString),
        maxFilesPerTrigger = 25)
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(e => fail(e))
      assert(s.conf.get(key) == manager.getOrElse(graftManager))
    }
    (files(out).map { case (name, f) => name -> Files.readString(f) },
      files(ck).keySet, lastCommit(ck))
  }

  test("the FileSystem-based manager is chosen on the resolved local file system only") {
    val conf = new Configuration()
    def viaFs(p: String, c: Configuration = conf) =
      LocalCheckpointFileManager.writesThroughFileSystem(new HPath(p).getFileSystem(c))
    assert(viaFs("file:/tmp/ck"))
    assert(viaFs("/tmp/ck"), "no scheme under the default local file system")
    // A non-local file system, by a stand-in that is not a LocalFileSystem
    // (no HDFS client is built): both an explicit scheme and a scheme-less
    // path under it as fs.defaultFS stay on FileContext.
    val cluster = new Configuration()
    cluster.set("fs.stub.impl", classOf[RawLocalFileSystem].getName)
    cluster.setBoolean("fs.stub.impl.disable.cache", true)
    cluster.set("fs.defaultFS", "stub:///")
    assert(!viaFs("stub:///ck", cluster))
    assert(!viaFs("/ck", cluster), "no scheme under a non-local fs.defaultFS")

    val dir = tempDir("mgr")
    Seq(dir.toUri.toString, dir.toString).foreach { p =>
      val m = new LocalCheckpointFileManager(new HPath(p), conf)
      assert(m.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager], p)
      assert(m.isLocal)
    }
  }

  test("task4 names graft's manager on a session that names none") {
    val s = withManager(None)
    assert(s.conf.getOption(key).isEmpty)
    val in = tempDir("cfin"); stage(in, 480, 485)
    val q = TaxiJobs.task4(s, in.toString, tempDir("cfout").toString)
    try q.processAllAvailable() finally q.stop()
    assert(s.conf.get(key) == graftManager)
  }

  test("a session that names a manager keeps it") {
    val s = withManager(Some(sparkDefault))
    val in = tempDir("cfin"); stage(in, 480, 485)
    val q = TaxiJobs.task4(s, in.toString, tempDir("cfout").toString)
    try q.processAllAvailable() finally q.stop()
    assert(s.conf.get(key) == sparkDefault)
  }

  test("task4 checkpoints resume across Spark's default manager and graft's, both ways") {
    // 07:00-09:59 at 25 files a trigger: batches end at 07:24, 07:49, ...;
    // the restart after 08:14 splits the [08:10,08:20) window, so the
    // resumed query reads that window's count from the checkpointed state
    val restartAt = 8 * 60 + 15
    val (parts, names, last) = task4Steps(Some(sparkDefault) -> 10 * 60)
    assert(last == 7)
    assert(parts.get("part-3240000").contains("(citigroup, (12, 32400, 3))"), parts)
    Seq(
      "default, then graft's" -> Seq(Some(sparkDefault) -> restartAt, None -> 10 * 60),
      "graft's, then default" -> Seq(None -> restartAt, Some(sparkDefault) -> 10 * 60),
      "graft's alone" -> Seq(None -> 10 * 60)
    ).foreach { case (what, steps) =>
      val (p, n, l) = task4Steps(steps: _*)
      withClue(s"$what: ") {
        assert(l == last)
        assert(p == parts)
        assert(n == names)
      }
    }
  }

  test("StreamLifecycle.scala holds the only DataStreamWriter start under src/main") {
    // a `.start(` or `.toTable(` whose receiver is not an object (a
    // capitalised name such as `StreamLifecycle.start(`)
    val start = """(?<!\b[A-Z]\w{0,64})\.(start|toTable)\(""".r
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 30, s"src/main not found from ${Paths.get("").toAbsolutePath}")
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val sites = files.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if !isComment(line) && start.findFirstIn(line).isDefined =>
          s"$f:${i + 1}"
      }
    }
    assert(sites.size == 1 &&
      sites.head.startsWith("src/main/scala/graft/streaming/StreamLifecycle.scala:"),
      sites.mkString("\n"))
  }
}
