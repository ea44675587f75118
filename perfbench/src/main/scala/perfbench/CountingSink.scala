package perfbench

import java.util
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark's `noop` sink with one addition: it counts the rows it is handed.
  * Every row of the plan is still produced and then dropped, exactly as
  * with `write.format("noop")`; the count lets each sample be checked
  * against the oracle's row count. The count is kept in this JVM, which
  * holds for the `local[N]` sessions the benchmark runs. */
class CountingSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = CountingSink.Sink
}

object CountingSink {
  val format: String = classOf[CountingSink].getName

  private val rows = new AtomicLong()

  /** Rows written since the last call. */
  def take(): Long = rows.getAndSet(0L)

  private final case class Written(n: Long) extends WriterCommitMessage

  private object Sink extends Table with SupportsWrite {
    override def name(): String = "perfbench-counting-noop"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = Batch
        }
      }
  }

  private object Batch extends BatchWrite {
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory = Factory
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      messages.foreach { case Written(n) => rows.addAndGet(n); case _ => }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private object Factory extends DataWriterFactory {
    override def createWriter(partitionId: Int,
        taskId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
      private var n = 0L
      override def write(record: InternalRow): Unit = n += 1
      override def commit(): WriterCommitMessage = Written(n)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
  }
}
