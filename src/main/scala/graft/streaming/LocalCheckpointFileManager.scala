package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager graft's streaming jobs start with
  * ([[StreamLifecycle.start]]): Spark's `FileSystem`-based manager for a
  * checkpoint on the local file system, Spark's default `FileContext`-based
  * manager for any other.
  *
  * Hadoop 3.4 without its native library starts a process for local
  * `FileContext` writes: `readlink` on each rename
  * (`RawLocalFileSystem.getFileLinkStatus`) and `chmod` on each create. A
  * micro-batch writes an offset file, a commit file and a state-store delta
  * per partition, so those processes were most of a trigger's fixed cost.
  * The `FileSystem` manager renames with `File.renameTo` (an atomic
  * `rename(2)` on a local disk) and starts none. File names and contents
  * are the same under both, so a checkpoint begun under one resumes under
  * the other.
  *
  * The choice is made on the path's resolved file system, not on its
  * scheme: a scheme-less path on a cluster whose `fs.defaultFS` is HDFS
  * stays on `FileContext`, whose rename-with-overwrite is atomic there.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (LocalCheckpointFileManager.writesThroughFileSystem(path.getFileSystem(conf)))
      new FileSystemBasedCheckpointFileManager(path, conf)
    else new FileContextBasedCheckpointFileManager(path, conf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  /** True if a checkpoint whose path resolves to `fs` is written through
    * Spark's `FileSystem`-based manager, false for its `FileContext`-based
    * default. */
  private[graft] def writesThroughFileSystem(fs: FileSystem): Boolean =
    fs.isInstanceOf[LocalFileSystem]
}
