package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A `noop`-shaped write sink that also fingerprints what it discards.
  *
  * Bench materializes every query with `write.format("noop")`, which
  * evaluates every column of every row and throws the rows away. This sink
  * has the same table capabilities, so Spark plans the same overwrite
  * command over the same query plan; each task additionally folds an
  * xxhash64 of every row into an order-independent (count, sum) pair. The
  * benchmark thus checks each timed materialization without running the
  * query a second time.
  */
class HashSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = new HashSink.HashTable
}

object HashSink {
  /** Row count and content fingerprint of one materialized result. */
  final case class Digest(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  private val results = new ConcurrentHashMap[String, Digest]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  /** Materialize `df` through the sink and return its digest. */
  def materialize(df: DataFrame): Digest = {
    val id = s"d${ids.incrementAndGet()}"
    df.write.format(classOf[HashSink].getName).mode("overwrite").option("id", id).save()
    val d = results.remove(id)
    require(d != null, s"hash sink committed no digest for $id")
    d
  }

  final case class Msg(rows: Long, hash: Long) extends WriterCommitMessage

  private class HashTable extends Table with SupportsWrite {
    override def name(): String = "perfbench-hash"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite =
            new HashBatch(info.options.get("id"), info.schema.fields.map(_.dataType))
        }
      }
  }

  private class HashBatch(id: String, types: Array[DataType]) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new HashWriterFactory(types)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      var rows = 0L
      var hash = 0L
      messages.foreach { case Msg(r, h) => rows += r; hash += h }
      results.put(id, Digest(rows, hash))
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private class HashWriterFactory(types: Array[DataType]) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private var rows = 0L
        private var hash = 0L
        override def write(row: InternalRow): Unit = {
          var h = 42L
          var i = 0
          while (i < types.length) {
            if (!row.isNullAt(i)) h = XxHash64Function.hash(row.get(i, types(i)), types(i), h)
            i += 1
          }
          rows += 1
          hash += h
        }
        override def commit(): WriterCommitMessage = Msg(rows, hash)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
