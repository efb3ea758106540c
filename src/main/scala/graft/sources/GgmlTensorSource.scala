package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, IsNotNull, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ner.{BertTensors, ModelFormat}

/** `ggml` — a DataSource V2 relation over the reference's model container:
  * one row per stored tensor, payloads never read.
  *
  * {{{
  * spark.read.format("ggml").load("/models")          // dir => every *.bin
  * spark.read.format("ggml").load("/models/ner.bin")  // single container
  * }}}
  *
  * Schema: `file, tensor, ndims, shape ARRAY<INT> (innermost-first, as
  * written), dtype (F32|F16|Q4_0), numel, payload_bytes, data_offset,
  * linear` (is it a linear weight of the container's model in the tensor
  * table [[graft.ner.BertTensors]] — i.e. would the encoder matmul it
  * natively in its stored representation; false for tensors the encoder's
  * load skips, such as `pooler.*` or layers at or past `n_layer`).
  *
  * This is the model-introspection surface the reference keeps implicit:
  * its loader walks exactly this directory structure and skips unnamed
  * records (`src/ner_model.cpp:162-290`); here the walk IS the table, and
  * it reports every record including ones the encoder would skip. Completes
  * the repo's Catalyst extension tour: native `Expression` → typed
  * `Aggregator` → logical plan + strategy + exec → optimizer `Rule` → and
  * now the connector API.
  *
  * Scale shape:
  *   - one [[InputPartition]] per container file — a model-zoo directory
  *     scans with per-file parallelism;
  *   - `SupportsPushDownRequiredColumns`: only requested columns are built;
  *   - `SupportsPushDownFilters`: `=`, `IN`, `LIKE 'x%'`, `IS NOT NULL` on
  *     any column are absorbed (exactly evaluated, no residual); `file`
  *     predicates additionally prune PARTITIONS at planning time, so
  *     `WHERE file = '…/a.bin'` launches one task against a directory of
  *     thousands — the same planning-time pruning a partitioned parquet
  *     scan gets from its directory keys;
  *   - the reader walks [[ModelFormat.scanMeta]], which `skip`s every
  *     payload: bytes touched ≈ header + vocab + names even for multi-GB
  *     weight files.
  *
  * Files resolve on the driver and open on executors via local paths — the
  * same every-node-visible-path contract as `ner_model_path` itself (the
  * reference `fopen`s the path on whatever node runs the scan). A file that
  * fails to parse throws with its path: an introspection scan must surface
  * corruption, not fold it into "zero tensors" (the silent-empty stance
  * belongs to `ner()`'s inference path, where "no model" is a value).
  */
class GgmlTensorSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "ggml"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.getBoolean("payload", false)) GgmlTensorSource.PayloadSchema
    else GgmlTensorSource.Schema

  /** True so the write path hands the incoming frame's schema to
    * [[getTable]] — the sink's row schema (tensor/shape/dtype/payload) is
    * narrower than the read catalog, and output resolution validates
    * against the table schema.
    */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GgmlTable(properties.get("path"), schema)
}

object GgmlTensorSource {
  val Schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("tensor", StringType, nullable = false),
    StructField("ndims", IntegerType, nullable = false),
    StructField("shape", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("dtype", StringType, nullable = false),
    StructField("numel", LongType, nullable = false),
    StructField("payload_bytes", LongType, nullable = false),
    StructField("data_offset", LongType, nullable = false),
    StructField("linear", BooleanType, nullable = false)
  ))

  /** Read schema under `.option("payload", "true")` (r12): adds the raw
    * on-disk payload bytes per tensor — the read half of a sink round trip
    * (scan a container with payloads, transform, write a new container).
    * Payload bytes are fetched by offset (RandomAccessFile) only for rows
    * that survive the pushed filters AND only when the column is required —
    * the default catalog scan still never touches them.
    */
  val PayloadSchema: StructType = StructType(
    Schema.fields :+ StructField("payload", BinaryType, nullable = false))

  /** A directory lists its `*.bin` members (sorted — deterministic partition
    * order); a file is itself. Resolution happens once at table creation on
    * the driver.
    */
  def resolveFiles(path: String): Seq[String] = {
    require(path != null && path.nonEmpty,
      "ggml source requires a path: spark.read.format(\"ggml\").load(p)")
    val f = new java.io.File(path)
    if (f.isDirectory) {
      f.listFiles((_, name) => name.endsWith(".bin")) match {
        case null => Seq.empty
        case files => files.map(_.getAbsolutePath).toSeq.sorted
      }
    } else Seq(f.getAbsolutePath)
  }

  /** The filter subset the scan absorbs completely (exact evaluation, no
    * residual): conjunction-level `=`, `IN`, prefix `LIKE`, `IS NOT NULL`
    * over any schema column. Everything else stays above the scan.
    */
  def supported(f: Filter): Boolean = {
    def scalar(c: String): Boolean = // shape is ARRAY — stays above the scan
      c != "shape" && Schema.fieldNames.contains(c)
    f match {
      case EqualTo(c, _) => scalar(c)
      case In(c, _) => scalar(c)
      case StringStartsWith(c, _) => scalar(c)
      case IsNotNull(c) => Schema.fieldNames.contains(c)
      case _ => false
    }
  }

  /** Evaluate an absorbed filter against one row's column values. */
  def eval(f: Filter, col: String => Any): Boolean = f match {
    case EqualTo(c, v) => col(c) == v
    case In(c, vs) => vs.contains(col(c))
    case StringStartsWith(c, p) =>
      col(c).asInstanceOf[String].startsWith(p)
    case IsNotNull(_) => true // no column in this schema is ever null
    case _ => true
  }
}

private[sources] class GgmlTable(path: String, tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"ggml($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GgmlScanBuilder(GgmlTensorSource.resolveFiles(path), tableSchema)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GgmlWriteBuilder(path, info)
}

private[sources] class GgmlScanBuilder(files: Seq[String],
    tableSchema: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, residual) = filters.partition(GgmlTensorSource.supported)
    pushed = sup
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new GgmlScan(files, required, pushed)
}

private[sources] class GgmlScan(files: Seq[String], required: StructType,
    filters: Array[Filter]) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GgmlScan pushed=[${filters.mkString(", ")}] " +
      s"columns=[${required.fieldNames.mkString(",")}]"

  /** Planning-time partition pruning: a `file`-column predicate eliminates
    * whole files before any task launches.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val fileFilters = filters.filter {
      case EqualTo("file", _) | In("file", _) |
          StringStartsWith("file", _) => true
      case _ => false
    }
    files
      .filter(f => fileFilters.forall(GgmlTensorSource.eval(_, _ => f)))
      .map(f => GgmlPartition(f): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GgmlReaderFactory(required, filters)
}

private[sources] final case class GgmlPartition(file: String)
    extends InputPartition

private[sources] class GgmlReaderFactory(required: StructType,
    filters: Array[Filter]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GgmlReader(p.asInstanceOf[GgmlPartition].file, required, filters)
}

private[sources] class GgmlReader(file: String, required: StructType,
    filters: Array[Filter]) extends PartitionReader[InternalRow] {

  // opened only if a surviving row actually needs the payload column —
  // the catalog scan keeps its payloads-never-read property
  private var raf: java.io.RandomAccessFile = _
  private def payloadOf(offset: Long, len: Long): Array[Byte] = {
    if (raf == null) raf = new java.io.RandomAccessFile(file, "r")
    val b = new Array[Byte](len.toInt)
    raf.seek(offset)
    raf.readFully(b)
    b
  }

  private val rows: Iterator[InternalRow] = {
    val meta = ModelFormat.scanFile(file).getOrElse(
      throw new IllegalArgumentException(
        s"not a readable ggml model container: $file"))
    // one Scala value per column: absorbed filters read it, rows convert it
    def value(t: ModelFormat.TensorMeta, c: String): Any = c match {
      case "file" => file
      case "tensor" => t.name
      case "ndims" => t.dims.length
      case "shape" => new GenericArrayData(t.dims)
      case "dtype" => t.dtype
      case "numel" => t.numel
      case "payload_bytes" => t.payloadBytes
      case "data_offset" => t.dataOffset
      case "linear" => BertTensors.find(t.name, meta.hparams).exists(_.linear)
      case "payload" => payloadOf(t.dataOffset, t.payloadBytes)
    }
    meta.tensors.iterator
      .filter(t => filters.forall(GgmlTensorSource.eval(_, value(t, _))))
      .map { t =>
        new GenericInternalRow(required.fieldNames.map(value(t, _) match {
          case s: String => UTF8String.fromString(s)
          case v => v
        })): InternalRow
      }
  }

  private var cur: InternalRow = _
  override def next(): Boolean = {
    if (rows.hasNext) { cur = rows.next(); true } else false
  }
  override def get(): InternalRow = cur
  override def close(): Unit = if (raf != null) raf.close()
}
