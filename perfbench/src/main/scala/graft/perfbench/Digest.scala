package graft.perfbench

import java.nio.file.{Files, Path}
import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Order-insensitive content digest of a query result: the row count and
  * the sum, modulo 2^64, of a 64-bit hash of each row. Equal multisets of
  * rows give equal digests whatever the row order or partitioning.
  */
final case class Digest(rows: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
  override def toString: String = f"$rows%d $hash%016x"
}

object Digest {
  val Zero: Digest = Digest(0, 0)

  /** Execute `df` into [[DigestSink]] — a write that, like Spark's `noop`
    * format, runs the whole plan and keeps no rows — and return the digest
    * of what it wrote. */
  def of(df: DataFrame): Digest = {
    val id = DigestSink.nextId.incrementAndGet().toString
    df.write.format(classOf[DigestSink].getName).option("id", id).mode("overwrite").save()
    Option(DigestSink.results.remove(id)).getOrElse(Zero)
  }

  /** Hash of one row: XXH64 over its UnsafeRow bytes, which are equal
    * exactly when the rows' values are. */
  def hashRow(row: InternalRow, toUnsafe: UnsafeProjection): Long = {
    val u = toUnsafe(row)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
  }

  /** Committed digests: one `name rows hash_hex` line per query. */
  def read(path: Path): Map[String, Digest] =
    Files.readAllLines(path).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, hash) = l.split("\\s+")
        name -> Digest(rows.toLong, java.lang.Long.parseUnsignedLong(hash, 16))
      }.toMap

  def write(path: Path, digests: Seq[(String, Digest)]): Unit =
    Files.write(path, (Seq("# query rows row-hash-sum (perfbench Digest.scala)") ++
      digests.sortBy(_._1).map { case (n, d) => s"$n $d" }).asJava)
}

/** Write-only data source behind [[Digest.of]]: each task digests the rows
  * it is handed and the driver sums the task digests at commit. */
class DigestSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "perfbench-digest"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new DigestSink.Sink(properties.get("id"))
}

object DigestSink {
  private[perfbench] val nextId = new AtomicLong
  private[perfbench] val results = new ConcurrentHashMap[String, Digest]

  final class Sink(id: String) extends Table with SupportsWrite {
    override def name(): String = s"perfbench-digest-$id"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new Batch(id, info.schema())
        }
      }
  }

  final class Batch(id: String, schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new Factory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      results.put(id, messages.collect { case Part(d) => d }.foldLeft(Digest.Zero)(_ + _))
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  final case class Part(digest: Digest) extends WriterCommitMessage

  final class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val toUnsafe = UnsafeProjection.create(schema)
        private var d = Digest.Zero
        override def write(row: InternalRow): Unit =
          d = Digest(d.rows + 1, d.hash + Digest.hashRow(row, toUnsafe))
        override def commit(): WriterCommitMessage = Part(d)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
