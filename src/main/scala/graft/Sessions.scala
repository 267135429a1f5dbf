package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a Spark session: Bench, Verify, the dev
  * tools, the runnable streaming apps and the specs all call [[create]].
  * (The reference's programs take theirs from the PySpark shell
  * bootstrap, `Task2.py:1`; SURVEY §2.10.) */
object Sessions {

  /** Cores for the local master and the shuffle partition count:
    * `SPARK_GRAFT_CPUS`, else every core the JVM sees (what `local[*]`
    * would use). */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A session named `app` on `SPARK_MASTER` (a deployment setting), else
    * on `local[cpus]`. An existing session is returned as it is, with these
    * confs applied where Spark allows it at runtime. */
  def create(app: String, cpus: Int = Sessions.cpus): SparkSession =
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // shuffle/spill files on the fastest local storage (tmpfs here;
      // NVMe on a cluster)
      .config("spark.local.dir", localDir)
      // ObjectHashAggregate (collect_list/collect_set paths: the dedup
      // rarity index, PQ LUT maps, …) falls back to SORT-based
      // aggregation past 128 distinct groups per task — a default so
      // conservative the fallback fired on EVERY task at sf0.1
      // (numTasksFallBacked=32; measured r21: dedup_cand_pairs -37%
      // CPU, dedup_source_overlap -17% with the fallback lifted).
      // 8192 groups × doc-sized lists is a few MB per task at any
      // scale; the fallback (graceful, per-task) still guards the
      // pathological case.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
      // The file source lists each trigger's files as separate paths. At
      // the stream apps' 60 files a trigger that crosses the default
      // threshold of 32, so every trigger ran a 60-task Spark job to list
      // files the source had already found. List them on the driver
      // instead. Batch reads list one root path per table, below any
      // threshold, so this changes nothing for them.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        Int.MaxValue.toString)
      // spark.sql.join.preferSortMergeJoin deliberately stays at its
      // default: an r21 sequential A/B showed apparent 25-46% wins that
      // a null test (conf set to its own default) reproduced — pure JIT
      // order bias. The honest interleaved A/B (r21) measured SMJ vs
      // shuffled-hash within +-10% noise at sf0.1, with only
      // rel_salted_join's plan changing at all. See OPTIMIZATION_r21.md
      // "O4 (negative result)".
      .getOrCreate()

  /** Free space `/dev/shm` must have before shuffle files go there. */
  private val ShmMinFree = 4L << 30

  /** Scratch directory for shuffle and spill files (`spark.local.dir`).
    *
    * Optimization guide §2.1: "Local disk bandwidth for shuffle files can
    * be the tighter limit on machines with slow disks — check both." On
    * the r22 host it WAS the limit — /tmp sat on a virtio ext4 disk whose
    * file syscalls are slow, and r22 thread dumps of the hot 32-task
    * stages caught the RUNNABLE executor threads inside shuffle-file
    * syscalls (`FileOutputStream.open0`, `FileDispatcherImpl.write0`,
    * `FileChannelImpl.map0/unmap0`, `UnixFileSystem.delete0`), not inside
    * query compute. /dev/shm is RAM-backed (tmpfs); moving the shuffle
    * dirs there removed that term (r22, adjacent runs: `text_tfidf_topk`
    * 1.69 → 0.98 s, `sim_pq_codes` 2.41 → 1.81 s).
    *
    * tmpfs is used only when it has [[ShmMinFree]] usable: the bench SF's
    * shuffle volume is a few MB per query, but a small /dev/shm (a
    * container's 64 MB default) would fail a query with "No space left on
    * device" where `java.io.tmpdir` works. On a production cluster this
    * must point at the fastest LOCAL DISK array (NVMe), not tmpfs — at
    * 100 TB shuffle data cannot live in RAM — hence the
    * `SPARK_GRAFT_LOCAL_DIR` override. */
  def localDir: String =
    sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite && shm.getUsableSpace > ShmMinFree)
        "/dev/shm/graft-spark-local"
      else System.getProperty("java.io.tmpdir", "/tmp")
    })
}
