package graftbench

import java.util
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `noop` sink of `graft.Bench`, plus a digest of what it was given:
  * the row count and the sum of a 64-bit hash of each row's UnsafeRow
  * bytes. The sum is independent of partitioning and row order, so the
  * timed write is also the output check and no query runs twice.
  *
  * `df.write.format("graftbench.DigestSink").option("id", k).mode("overwrite").save()`,
  * then `DigestSink.take(k)`. */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = DigestSink.table
}

object DigestSink {
  private val results = new ConcurrentHashMap[String, String]()

  /** The digest `count:hash` of the write tagged `id`, removed. */
  def take(id: String): String = Option(results.remove(id)).getOrElse("")

  final case class Part(rows: Long, hash: Long) extends WriterCommitMessage

  private class Writer(schema: StructType) extends DataWriter[InternalRow] {
    private val project = UnsafeProjection.create(schema)
    private var rows = 0L
    private var hash = 0L
    override def write(r: InternalRow): Unit = {
      val u = project(r)
      rows += 1
      hash += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
    }
    override def commit(): WriterCommitMessage = Part(rows, hash)
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }

  private class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new Writer(schema)
  }

  private val table: Table = new Table with SupportsWrite {
    override def name(): String = "digest-table"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new BatchWrite {
            override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
              new Factory(info.schema())
            override def commit(messages: Array[WriterCommitMessage]): Unit = {
              val parts = messages.collect { case p: Part => p }
              results.put(info.options().get("id"),
                f"${parts.map(_.rows).sum}:${parts.map(_.hash).sum}%016x")
            }
            override def abort(messages: Array[WriterCommitMessage]): Unit = ()
          }
        }
      }
  }
}
