package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A sink that, like `noop`, materializes every row of every column and
  * keeps the plan's final sort, and in passing folds each row into an
  * order-insensitive digest: the row count and the wrapping sum of the
  * rows' XXH64 hashes over their UnsafeRow bytes. Results land in
  * [[DigestSink.results]] under the writer option `key`.
  *
  * Use: `df.write.format(classOf[DigestSink].getName).option("key", k)
  * .mode("append").save()`.
  */
final class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new DigestSink.DigestTable(schema)
}

object DigestSink {
  final case class Digest(rows: Long, hashSum: Long) {
    def +(o: Digest): Digest = Digest(rows + o.rows, hashSum + o.hashSum)
    def hex: String = f"$hashSum%016x"
  }

  val results = new ConcurrentHashMap[String, Digest]()

  private final case class Part(d: Digest) extends WriterCommitMessage

  private final class DigestTable(schema: StructType) extends Table with SupportsWrite {
    override def name(): String = "perfbench_digest"
    override def schema(): StructType = schema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_WRITE).asJava
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val key = info.options().get("key")
      val rowSchema = info.schema()
      new WriteBuilder { override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
            new Factory(rowSchema)
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            results.put(key, messages.collect { case Part(d) => d }
              .foldLeft(Digest(0L, 0L))(_ + _))
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
      } }
    }
  }

  private final class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val project = UnsafeProjection.create(schema)
        private var rows = 0L
        private var sum = 0L
        override def write(row: InternalRow): Unit = {
          val u = project(row)
          rows += 1
          sum += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        override def commit(): WriterCommitMessage = Part(Digest(rows, sum))
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
