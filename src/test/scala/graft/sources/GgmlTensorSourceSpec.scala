package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ner.{ModelFormat, NerTensor, SyntheticModel}

/** Pins the `ggml` DataSource V2 relation ([[GgmlTensorSource]]) and the
  * format-module halves it stands on ([[ModelFormat.write]] /
  * [[ModelFormat.scanMeta]]):
  *   - write→load round trip (the serializer emits exactly what the loader
  *     reads, for all three stored representations);
  *   - directory scan parity vs `scanFile`, including recorded offsets
  *     verified against the physical bytes;
  *   - introspection sees tensors the encoder's load skips;
  *   - column pruning and filter pushdown reach the scan (no residual
  *     Filter node; `file` predicates prune partitions at planning);
  *   - a malformed container fails the scan loudly, naming the file.
  */
class GgmlTensorSourceSpec extends SparkTestBase {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("ggml-src").toFile
    d.deleteOnExit()
    ModelFormat.write(SyntheticModel.loaded.model, s"$d/f32.bin")
    ModelFormat.write(SyntheticModel.loadedF16.model, s"$d/f16.bin")
    ModelFormat.write(SyntheticModel.loadedQ4.model, s"$d/q4.bin")
    d.getAbsolutePath
  }

  private def ggml = spark.read.format("ggml").load(dir)

  test("write/load round trip preserves hparams, vocab and tensor data") {
    val m = SyntheticModel.loadedQ4.model // carries F32 + Q4 representations
    val d = Files.createTempDirectory("ggml-rt").toFile
    d.deleteOnExit()
    val p = s"$d/rt.bin"
    ModelFormat.write(m, p)
    val back = ModelFormat.loadFile(p).get
    assert(back.hparams === m.hparams)
    assert(back.vocab.idToToken === m.vocab.idToToken)
    assert(back.tensors.keySet === m.tensors.keySet)
    m.tensors.foreach { case (name, t) =>
      val b = back.tensors(name)
      assert(b.dims.toSeq === t.dims.toSeq, name)
      assert(b.isQ4 === t.isQ4, name)
      assert(b.data.toSeq === t.data.toSeq, name)
    }
  }

  test("directory scan matches scanFile per container, offsets physical") {
    val rows = ggml.collect().map { r =>
      (r.getString(0), r.getString(1), r.getInt(2),
        r.getSeq[Int](3), r.getString(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getBoolean(8))
    }
    val expected = for {
      f <- Seq("f32.bin", "f16.bin", "q4.bin")
      path = s"$dir/$f"
      t <- ModelFormat.scanFile(path).get.tensors
    } yield (path, t.name, t.dims.length, t.dims.toSeq, t.dtype, t.numel,
      t.payloadBytes, t.dataOffset, ModelFormat.isLinearWeight(t.name))
    assert(rows.toSet === expected.toSet)
    assert(rows.length === expected.length) // no dup rows either

    // the recorded offset addresses the actual payload: the first F32 of
    // classifier.bias read at data_offset equals the model's value
    val meta = ModelFormat.scanFile(s"$dir/f32.bin").get
      .tensors.find(_.name == "classifier.bias").get
    val raf = new java.io.RandomAccessFile(s"$dir/f32.bin", "r")
    try {
      raf.seek(meta.dataOffset)
      val b = new Array[Byte](4)
      raf.readFully(b)
      val v = java.lang.Float.intBitsToFloat(
        ((b(3) & 0xff) << 24) | ((b(2) & 0xff) << 16) |
          ((b(1) & 0xff) << 8) | (b(0) & 0xff))
      assert(v === SyntheticModel.loaded.model
        .tensors("classifier.bias").data(0))
    } finally raf.close()
  }

  test("the stored dtypes surface: Q4_0/F16 linears, F32 everything else") {
    val byFile = ggml.groupBy(regexp_extract(col("file"), "([^/]+)$", 1)
        .as("f"), col("dtype"))
      .count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byFile.keySet.filter(_._1 == "f32.bin").map(_._2) === Set("F32"))
    assert(byFile(("q4.bin", "Q4_0")) > 0)
    assert(byFile(("f16.bin", "F16")) > 0)
    // twins only requantize linear weights; the rest stays F32
    assert(byFile(("q4.bin", "F32")) > 0)
  }

  test("introspection reports tensors the encoder's load skips") {
    val m = SyntheticModel.loaded.model
    val extra = m.copy(tensors = m.tensors +
      ("not.a.model.tensor" -> NerTensor(Array(8), Array.fill(8)(1.5f))))
    val d = Files.createTempDirectory("ggml-extra").toFile
    d.deleteOnExit()
    val p = s"$d/extra.bin"
    ModelFormat.write(extra, p)
    assert(!ModelFormat.loadFile(p).get.tensors.contains("not.a.model.tensor"))
    val seen = spark.read.format("ggml").load(p)
      .where(col("tensor") === "not.a.model.tensor")
      .select("dtype", "numel").collect()
    assert(seen.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("F32", 8L)))
  }

  test("linear follows the tensor table: pooler.* and layers past n_layer are not linear") {
    val d = Files.createTempDirectory("ggml-linear").toFile
    d.deleteOnExit()
    val golden = new java.io.File(d, "golden.bin").toPath
    val in = getClass.getResourceAsStream("/graft/ner/golden_converter_model.bin")
    try Files.copy(in, golden) finally in.close()
    def linearOf(p: String): Map[String, Boolean] =
      spark.read.format("ggml").load(p).select("tensor", "linear").collect()
        .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val linear = linearOf(golden.toString)
    assert(!linear("pooler.dense.weight") && !linear("pooler.dense.bias"))
    assert(linear.filter(_._2).keySet === Set("classifier.weight") ++
      Seq("attention.self.query", "attention.self.key", "attention.self.value",
        "attention.output.dense", "intermediate.dense", "output.dense")
        .map(s => s"encoder.layer.0.$s.weight"))
    // a 2-layer model carrying a stray layer-2 linear weight
    val m = SyntheticModel.loaded.model
    val stray = "encoder.layer.2.output.dense.weight"
    val p = s"$d/stray.bin"
    ModelFormat.write(m.copy(tensors = m.tensors +
      (stray -> m.tensors("encoder.layer.1.output.dense.weight"))), p)
    val linear2 = linearOf(p)
    assert(!linear2(stray) && linear2("encoder.layer.1.output.dense.weight"))
  }

  private def theScan(df: org.apache.spark.sql.DataFrame): GgmlScan =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[GgmlScan]
    }.get

  test("column pruning reaches the scan") {
    val df = ggml.select("tensor", "numel")
    assert(theScan(df).readSchema().fieldNames.toSeq ===
      Seq("tensor", "numel"))
  }

  test("filters absorb into the scan (no residual Filter node)") {
    val df = ggml.where(col("dtype") === "Q4_0" && col("linear"))
      .select("tensor")
    val plan = df.queryExecution.executedPlan
    assert(plan.collectFirst {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }.isEmpty, plan.toString)
    assert(theScan(df).description().contains("dtype"))
    val got = df.collect().map(_.getString(0)).toSet
    val want = ModelFormat.scanFile(s"$dir/q4.bin").get.tensors
      .filter(t => t.dtype == "Q4_0" && ModelFormat.isLinearWeight(t.name))
      .map(_.name).toSet
    assert(got === want)
  }

  test("file predicates prune partitions at planning time") {
    val all = theScan(ggml.select("tensor")).toBatch.planInputPartitions()
    assert(all.length === 3) // one per container
    val one = theScan(ggml.where(col("file") === s"$dir/q4.bin")
      .select("tensor")).toBatch.planInputPartitions()
    assert(one.length === 1)
    val pre = theScan(ggml.where(col("file").startsWith(s"$dir/f"))
      .select("tensor")).toBatch.planInputPartitions()
    assert(pre.length === 2) // f32.bin, f16.bin
  }

  test("V2 sink (r12): payload scan -> write(ggml) rebuilds the container " +
      "byte-identically; catalog round-trips through q277's scan shape") {
    val src = s"$dir/q4.bin"
    val d = Files.createTempDirectory("ggml-sink").toFile
    d.deleteOnExit()
    val target = s"$d/rebuilt.bin"
    spark.read.format("ggml").option("payload", "true").load(src)
      .select("tensor", "shape", "dtype", "payload")
      .repartition(1).sortWithinPartitions("tensor")
      .write.format("ggml").option("template", src)
      .mode("overwrite").save(target)
    // ModelFormat.write emits records name-sorted and the template donates
    // the prologue verbatim, so a name-sorted single-partition rewrite is
    // byte-for-byte the source container
    assert(java.util.Arrays.equals(
      Files.readAllBytes(new java.io.File(src).toPath),
      Files.readAllBytes(new java.io.File(target).toPath)),
      "rebuilt container differs from its source bytes")
    // and the loader half agrees end-to-end
    val back = ModelFormat.loadFile(target).get
    val orig = SyntheticModel.loadedQ4.model
    assert(back.hparams === orig.hparams)
    assert(back.tensors.keySet === orig.tensors.keySet)
  }

  test("V2 sink: append mode adds tensor records to an existing container") {
    import spark.implicits._
    val d = Files.createTempDirectory("ggml-append").toFile
    d.deleteOnExit()
    val target = s"$d/grow.bin"
    ModelFormat.write(SyntheticModel.loaded.model, target)
    val before = spark.read.format("ggml").load(target).count()
    val payload = Array.tabulate(32)(i =>
      java.lang.Float.floatToIntBits(i.toFloat))
      .flatMap(v => Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte,
        (v >> 24).toByte))
    Seq(("patch.extra_tensor", Seq(32), "F32", payload))
      .toDF("tensor", "shape", "dtype", "payload")
      .write.format("ggml").mode("append").save(target) // no template needed
    val after = spark.read.format("ggml").load(target)
    assert(after.count() === before + 1)
    val row = after.where(col("tensor") === "patch.extra_tensor")
      .select("dtype", "numel", "payload_bytes").collect().head
    assert((row.getString(0), row.getLong(1), row.getLong(2)) ===
      ("F32", 32L, 128L))
    // the loader still reads the container (unknown record name-skipped)
    assert(ModelFormat.loadFile(target).isDefined)
  }

  test("V2 sink: invalid payloads and a missing template fail loudly") {
    import spark.implicits._
    val d = Files.createTempDirectory("ggml-sink-err").toFile
    d.deleteOnExit()
    def messages(e: Throwable): String =
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .take(8).flatMap(t => Option(t.getMessage)).mkString(" | ")
    // payload length disagreeing with dtype/shape
    val e1 = intercept[Throwable] {
      Seq(("t", Seq(32), "F32", Array[Byte](1, 2, 3)))
        .toDF("tensor", "shape", "dtype", "payload")
        .write.format("ggml").option("template", s"$dir/f32.bin")
        .mode("overwrite").save(s"$d/bad1.bin")
    }
    assert(messages(e1).contains("payload is 3 bytes"), messages(e1))
    // fresh container without a template
    val e2 = intercept[Throwable] {
      Seq(("t", Seq(1), "F32", Array[Byte](0, 0, 0, 0)))
        .toDF("tensor", "shape", "dtype", "payload")
        .write.format("ggml").mode("append").save(s"$d/bad2.bin")
    }
    assert(messages(e2).contains("template"), messages(e2))
    // a failed write must not leave a half-written target
    assert(!new java.io.File(s"$d/bad1.bin").exists())
    assert(!new java.io.File(s"$d/bad2.bin").exists())
  }

  test("a malformed container fails the scan loudly, naming the file") {
    val d = Files.createTempDirectory("ggml-bad").toFile
    d.deleteOnExit()
    val p = s"$d/bad.bin"
    Files.write(new java.io.File(p).toPath,
      Array[Byte](0x12, 0x34, 0x56, 0x78, 0, 0, 0, 0))
    val e = intercept[Throwable] {
      spark.read.format("ggml").load(p).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).take(8)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(messages.contains("bad.bin"), messages)
  }
}
