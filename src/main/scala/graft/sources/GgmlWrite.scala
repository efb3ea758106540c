package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataOutputStream, File, FileInputStream, FileOutputStream}
import java.util.UUID

import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import graft.ner.ModelFormat

/** Write half of the `ggml` DataSource V2 connector (r12) — tensor rows →
  * model container, the symmetric twin of [[GgmlTensorSource]]'s
  * tensor-catalog scan:
  *
  * {{{
  * df.select($"tensor", $"shape", $"dtype", $"payload")
  *   .write.format("ggml")
  *   .option("template", "/models/base.bin")   // header + vocab source
  *   .mode("overwrite")                        // or append: add records
  *   .save("/models/patched.bin")
  * }}}
  *
  * Input schema (by name; extra columns rejected loudly):
  * `tensor STRING, shape ARRAY<INT> (innermost-first, as stored),
  * dtype STRING (F32|F16|Q4_0), payload BINARY (raw on-disk bytes)`.
  * Every row is validated against [[ModelFormat.payloadSize]] — a payload
  * whose length disagrees with its dtype/shape fails the task, never
  * producing a container the loader would misparse.
  *
  * The container prologue (magic, hparams, vocab) comes verbatim from the
  * `template` option — the model-surgery workflow (quantize, prune, patch
  * tensors; keep the tokenizer), matching the reference pipeline where the
  * converter owns the vocab and tensors travel as named records
  * (`scripts/convert_ner_to_ggml.py:37-89`). `mode("append")` on an
  * existing container appends tensor records to it (records are
  * self-describing and name-keyed, so the format is concatenable — the
  * template is then not required); `mode("overwrite")` builds afresh.
  *
  * Scale/commit shape: each task serializes its rows to a staged
  * record-section file beside the target; commit assembles
  * prologue + staged sections (partition order — deterministic for a
  * sorted single partition) into `<target>.building-<uuid>` and renames
  * into place, so a crashed write never leaves a half-container at the
  * target path; abort deletes the stage. Paths follow the connector's
  * every-node-visible contract (same as the read side and
  * `ner_model_path` itself).
  */
private[sources] class GgmlWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var truncateRequested = false

  override def truncate(): WriteBuilder = { truncateRequested = true; this }

  override def build(): Write = {
    val schema = info.schema()
    val required = Map(
      "tensor" -> StringType, "shape" -> ArrayType(IntegerType, false),
      "dtype" -> StringType, "payload" -> BinaryType)
    val extra = schema.fieldNames.filterNot(required.contains)
    require(extra.isEmpty,
      s"ggml sink: unexpected column(s) ${extra.mkString(", ")} — schema " +
        "is (tensor STRING, shape ARRAY<INT>, dtype STRING, payload BINARY)")
    required.foreach { case (name, _) =>
      require(schema.fieldNames.contains(name),
        s"ggml sink: missing required column '$name'")
    }
    Seq("tensor" -> StringType, "dtype" -> StringType,
      "payload" -> BinaryType).foreach { case (name, t) =>
      require(schema(name).dataType == t,
        s"ggml sink: column '$name' must be $t, got ${schema(name).dataType}")
    }
    schema("shape").dataType match {
      case ArrayType(IntegerType, _) =>
      case other => throw new IllegalArgumentException(
        s"ggml sink: column 'shape' must be ARRAY<INT>, got $other")
    }
    val template = Option(info.options.get("template"))
    new GgmlWriteImpl(path, schema, template, truncateRequested)
  }
}

private[sources] class GgmlWriteImpl(path: String, schema: StructType,
    template: Option[String], truncate: Boolean) extends Write {
  override def toBatch: BatchWrite = new GgmlBatchWrite(path, schema,
    template, truncate)
  override def description(): String = s"GgmlWrite($path)"
}

private[sources] final case class GgmlStagedFile(path: String,
    partitionId: Int, records: Long) extends WriterCommitMessage

private[sources] class GgmlBatchWrite(path: String, schema: StructType,
    template: Option[String], truncate: Boolean) extends BatchWrite {

  private val stageTag = UUID.randomUUID().toString

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GgmlWriterFactory(path, schema, stageTag)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val target = new File(path)
    val appendTo = !truncate && target.isFile
    require(appendTo || template.isDefined,
      "ggml sink: creating a container requires .option(\"template\", " +
        "<existing container>) for the header + vocab prologue " +
        "(append mode onto an existing container needs none)")
    val staged = messages.collect { case m: GgmlStagedFile => m }
      .sortBy(_.partitionId)
    val building = new File(target.getParentFile,
      s".${target.getName}.building-$stageTag")
    val out = new BufferedOutputStream(new FileOutputStream(building))
    try {
      if (appendTo) copyAll(target, out)
      else ModelFormat.copyHeader(template.get, out)
      staged.foreach(m => copyAll(new File(m.path), out))
    } finally out.close()
    staged.foreach(m => new File(m.path).delete())
    if (target.exists()) target.delete()
    require(building.renameTo(target),
      s"ggml sink: could not move ${building.getPath} into place")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GgmlStagedFile(p, _, _) => new File(p).delete()
      case _ =>
    }

  private def copyAll(src: File, out: java.io.OutputStream): Unit = {
    val in = new BufferedInputStream(new FileInputStream(src))
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) {
        if (n > 0) out.write(buf, 0, n)
        n = in.read(buf)
      }
    } finally in.close()
  }
}

private[sources] class GgmlWriterFactory(path: String, schema: StructType,
    stageTag: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GgmlDataWriter(path, schema, stageTag, partitionId, taskId)
}

private[sources] class GgmlDataWriter(path: String, schema: StructType,
    stageTag: String, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val iTensor = schema.fieldIndex("tensor")
  private val iShape = schema.fieldIndex("shape")
  private val iDtype = schema.fieldIndex("dtype")
  private val iPayload = schema.fieldIndex("payload")

  private val target = new File(path)
  private val staged = new File(target.getParentFile,
    s".${target.getName}.stage-$stageTag-p$partitionId-t$taskId")
  private var out: DataOutputStream = _
  private var records = 0L

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(iTensor) && !row.isNullAt(iShape) &&
      !row.isNullAt(iDtype) && !row.isNullAt(iPayload),
      "ggml sink: tensor/shape/dtype/payload must be non-null")
    val name = row.getUTF8String(iTensor).toString
    val dims = row.getArray(iShape).toIntArray()
    val dtype = row.getUTF8String(iDtype).toString
    val ftype = ModelFormat.ftypeOf(dtype).getOrElse(
      throw new IllegalArgumentException(
        s"ggml sink: tensor '$name': unknown dtype '$dtype' " +
          "(F32 | F16 | Q4_0)"))
    val payload = row.getBinary(iPayload)
    if (out == null) out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(staged)))
    ModelFormat.writeTensorRecord(out, name, dims, ftype, payload)
    records += 1
  }

  override def commit(): WriterCommitMessage = {
    if (out == null) // zero-row partition: stage an empty section anyway
      out = new DataOutputStream(new FileOutputStream(staged))
    out.close()
    GgmlStagedFile(staged.getAbsolutePath, partitionId, records)
  }

  override def abort(): Unit = {
    if (out != null) out.close()
    staged.delete()
  }

  override def close(): Unit = ()
}
