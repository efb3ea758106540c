package graft.ner

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import scala.util.Random

/** In-test writer for the reference's model file format (FIXTURES.md §3;
  * format: writer `scripts/convert_ner_to_ggml.py:37-89`). Little-endian.
  */
object TestModels {

  final class Writer(path: String) {
    private val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    def i32(v: Int): Writer = { out.writeInt(Integer.reverseBytes(v)); this }
    def bytes(b: Array[Byte]): Writer = { out.write(b); this }
    def f32(v: Float): Writer = { i32(java.lang.Float.floatToIntBits(v)); this }
    def str(s: String): Writer = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      i32(b.length); bytes(b)
    }
    def tensor(name: String, dimsInnermostFirst: Array[Int], data: Array[Float]): Writer = {
      val nameBytes = name.getBytes(StandardCharsets.UTF_8)
      i32(dimsInnermostFirst.length); i32(nameBytes.length); i32(0) // ftype F32
      dimsInnermostFirst.foreach(i32)
      bytes(nameBytes)
      data.foreach(f32)
      this
    }
    def tensorQ4(name: String, dimsInnermostFirst: Array[Int], raw: Array[Byte]): Writer = {
      val nameBytes = name.getBytes(StandardCharsets.UTF_8)
      i32(dimsInnermostFirst.length); i32(nameBytes.length); i32(2) // ftype Q4_0
      dimsInnermostFirst.foreach(i32)
      bytes(nameBytes)
      bytes(raw)
      this
    }
    def tensorF16(name: String, dimsInnermostFirst: Array[Int], data: Array[Float]): Writer = {
      val nameBytes = name.getBytes(StandardCharsets.UTF_8)
      i32(dimsInnermostFirst.length); i32(nameBytes.length); i32(1) // ftype F16
      dimsInnermostFirst.foreach(i32)
      bytes(nameBytes)
      data.foreach { v =>
        val h = ModelFormat.floatToF16(v)
        out.write(h & 0xff); out.write((h >>> 8) & 0xff)
      }
      this
    }
    def close(): Unit = out.close()
  }

  /** ggml Q4_0 quantizer — delegated to the main-scope implementation
    * ([[ModelFormat.quantizeQ4]]), kept as an alias so fixtures read
    * naturally. */
  def quantizeQ4(data: Array[Float]): Array[Byte] =
    ModelFormat.quantizeQ4(data)

  /** The effective weights a Q4_0-written tensor represents after the
    * stored f16 scale round-trip — quantize then dequantize through the
    * loader's own block decoder, so a comparison F32 model can carry
    * BIT-IDENTICAL effective values. */
  def q4Effective(data: Array[Float]): Array[Float] =
    ModelFormat.dequantQ4(quantizeQ4(data), data.length)

  /** The effective weights an F16-written tensor represents after the
    * half-precision round-trip, so a comparison F32 model can carry
    * BIT-IDENTICAL effective values. */
  def f16Effective(data: Array[Float]): Array[Float] =
    data.map(v => ModelFormat.f16ToFloat(ModelFormat.floatToF16(v)))

  val DefaultVocab: Seq[String] = Seq(
    "[PAD]", "[CLS]", "[SEP]", "duck", "##db", "is", "great", "new", "york",
    "bob", "the", "a", "##s", "spark", "data")

  /** Documents of 2-5 token ids (all inside [[DefaultVocab]]) whose running
    * offsets in one batch straddle the linear kernels' 4-row register
    * tiles: 2, 3, 5, 4, 5, 3, 5, 2 tokens. */
  val TileStraddlingDocs: Array[Array[Int]] = Array(
    Array(1, 2), Array(1, 3, 2), Array(1, 3, 4, 5, 2), Array(1, 7, 8, 2),
    Array(1, 10, 11, 12, 2), Array(1, 13, 2), Array(1, 9, 14, 6, 2),
    Array(1, 2))

  /** A seeded model in `form` ("f32", "f16" or "q4") whose layers split
    * unevenly over 2-4 [[EncoderPool]] workers: the FFN-in linear has 5
    * SIMD panels on AVX-512 (10 on AVX2, 20 scalar), the FFN-out 2, the
    * classifier is one 9-wide panel, and a 256-token document puts both
    * FFN products and each layer's attention above the hand-off floor. */
  def splitShaped(form: String): Ner.Loaded = {
    val p = java.nio.file.Files.createTempFile("graft-split", ".bin").toString
    writeValid(p, nMaxTokens = 256, nEmbd = 128, nIntermediate = 320, nHead = 2,
      nLayer = 2, weightGen = seeded(7), f16Linears = form == "f16",
      q4Linears = form == "q4")
    val m = ModelFormat.loadFile(p).get
    Ner.Loaded(m, new BertEncoder(m))
  }

  /** Every (split, doc) whose logits from batches of `split` consecutive
    * documents differ in any bit from per-document [[BertEncoder.eval]],
    * for each split from 1 to all documents in one batch (doc -1: the
    * split lost or added documents). */
  def batchedVsSingleMismatches(enc: BertEncoder,
      docs: Array[Array[Int]]): Seq[(Int, Int)] = {
    val singles = docs.map(enc.eval)
    (1 to docs.length).flatMap { split =>
      val batched = docs.grouped(split).flatMap(enc.evalBatch).toSeq
      if (batched.length != docs.length) Seq(split -> -1)
      else docs.indices
        .filterNot(i => java.util.Arrays.equals(batched(i), singles(i)))
        .map(split -> _)
    }
  }

  /** Write a structurally-valid model: every [[BertTensors]] entry of its
    * hparams, in table order. `weightGen` supplies every tensor value except
    * `classifier.bias`, which is given explicitly so tests can force
    * deterministic argmax outcomes (an all-zero model with a biased
    * classifier labels every token with `argmax(classifierBias)`).
    * `storedDims` overrides the dims written for the named tensors (a
    * hostile container the loader must reject).
    */
  def writeValid(
      path: String,
      vocab: Seq[String] = DefaultVocab,
      nMaxTokens: Int = 16,
      nEmbd: Int = 8,
      nIntermediate: Int = 16,
      nHead: Int = 2,
      nLayer: Int = 1,
      nLabels: Int = 9,
      classifierBias: Array[Float] = null,
      weightGen: (String, Int) => Array[Float] = zeros,
      extraTensor: Boolean = false,
      q4Linears: Boolean = false,
      f16Linears: Boolean = false,
      storedDims: Map[String, Array[Int]] = Map.empty
  ): Unit = {
    require(!(q4Linears && f16Linears), "pick one linear storage type")
    val hp = NerHparams(vocab.length, nMaxTokens, nEmbd, nIntermediate, nHead,
      nLayer, if (q4Linears) 2 else if (f16Linears) 1 else 0 /* f16 flag */,
      nLabels)
    val w = new Writer(path)
    w.i32(ModelFormat.Magic)
    w.i32(hp.nVocab).i32(hp.nMaxTokens).i32(hp.nEmbd).i32(hp.nIntermediate)
    w.i32(hp.nHead).i32(hp.nLayer).i32(hp.f16).i32(hp.nLabels)
    vocab.foreach(w.str)

    BertTensors.all(hp).foreach { t =>
      val dims = storedDims.getOrElse(t.name, t.dims)
      val n = dims.product
      val data =
        if (t.name == "classifier.bias" && classifierBias != null) {
          require(classifierBias.length == n)
          classifierBias
        } else weightGen(t.name, n)
      // q4Linears/f16Linears: the matmul weights ship compact; everything
      // else stays F32. NOTE this mixed per-tensor layout diverges from the
      // reference's header-driven format: ner_model.cpp sizes known-tensor
      // reads from the HEADER f16 flag (embeddings and classifier included)
      // and ignores per-tensor ftype, so a reference loader would misread
      // this fixture. The repo loader reads per-tensor ftype (and also
      // handles fully-non-F32 reference files via the same lazy-decode
      // tensors), so the fixture exercises exactly the paths under test.
      if (q4Linears && t.linear && n % 32 == 0)
        w.tensorQ4(t.name, dims, quantizeQ4(data))
      else if (f16Linears && t.linear)
        w.tensorF16(t.name, dims, data)
      else w.tensor(t.name, dims, data)
    }
    if (extraTensor)
      w.tensor("some.unknown.tensor", Array(4), Array(1f, 2f, 3f, 4f))
    w.close()
  }

  /** The tensor names [[BertEncoder]] evaluates as linear matmuls (and so
    * may consume Q4_0-natively). */
  def isLinearWeight(name: String): Boolean =
    ModelFormat.isLinearWeight(name)

  def zeros(name: String, n: Int): Array[Float] = new Array[Float](n)

  def seeded(seed: Long): (String, Int) => Array[Float] = { (name, n) =>
    val r = new Random(seed ^ name.hashCode.toLong)
    Array.fill(n)((r.nextFloat() - 0.5f) * 0.2f)
  }

  /** Bias vector that makes every token argmax to `label`. */
  def biasFor(label: Int, nLabels: Int = 9): Array[Float] = {
    val b = new Array[Float](nLabels)
    b(label) = 5f
    b
  }

  /** The shipped placeholder's failure mode: "ggml" as a byte string, which
    * read little-endian is NOT the magic (`default_model.hpp:7-16`).
    */
  def writeBadMagic(path: String): Unit = {
    val w = new Writer(path)
    w.bytes("ggml".getBytes(StandardCharsets.US_ASCII))
    w.i32(0)
    w.close()
  }

  def writeTruncated(path: String): Unit = {
    val w = new Writer(path)
    w.i32(ModelFormat.Magic)
    w.i32(10).i32(16) // header cut short mid-hparams
    w.close()
  }
}
