package graft.ner

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class ModelFormatSpec extends AnyFunSuite {

  private def tmp(name: String): String =
    Files.createTempDirectory("graft-mf").resolve(name).toString

  test("valid tiny model loads: hparams, vocab split, tensors") {
    val p = tmp("valid.bin")
    TestModels.writeValid(p, weightGen = TestModels.seeded(42))
    val m = ModelFormat.loadFile(p).get
    assert(m.hparams == NerHparams(TestModels.DefaultVocab.length, 16, 8, 16, 2, 1, 0, 9))
    // "##db" and "##s" land in the subword map keyed WITHOUT the prefix
    assert(m.vocab.sub("db") == 4)
    assert(m.vocab.sub("s") == 12)
    assert(!m.vocab.main.contains("##db"))
    assert(m.vocab.main("duck") == 3)
    // id->token returns the original spelling
    assert(m.vocab.tokenOf(4) == "##db")
    assert(m.vocab.tokenOf(3) == "duck")
    assert(m.vocab.tokenOf(9999) == "[UNK]")
    assert(m.tensors.contains("classifier.bias"))
    assert(m.tensors("embeddings.word_embeddings.weight").numel ==
      8L * TestModels.DefaultVocab.length)
  }

  test("bad magic (the shipped placeholder semantics) yields None") {
    val p = tmp("badmagic.bin")
    TestModels.writeBadMagic(p)
    assert(ModelFormat.loadFile(p).isEmpty)
  }

  test("truncated file yields None") {
    val p = tmp("trunc.bin")
    TestModels.writeTruncated(p)
    assert(ModelFormat.loadFile(p).isEmpty)
  }

  test("a header whose n_embd does not split into n_head heads yields None") {
    val p = tmp("heads.bin")
    TestModels.writeValid(p, nEmbd = 8, nHead = 3, weightGen = TestModels.seeded(9))
    assert(ModelFormat.loadFile(p).isEmpty)
    assert(ModelFormat.scanFile(p).isEmpty)
  }

  test("missing file yields None") {
    assert(ModelFormat.loadFile("/tmp/does/not/exist/model.bin").isEmpty)
  }

  test("unknown extra tensors are skipped, not stored (ner_model.cpp:275-282)") {
    val p = tmp("extra.bin")
    TestModels.writeValid(p, extraTensor = true, weightGen = TestModels.seeded(1))
    val m = ModelFormat.loadFile(p).get
    assert(m.tensors.contains("classifier.bias"))
    assert(!m.tensors.contains("some.unknown.tensor"))
    val enc = new BertEncoder(m)
    val logits = enc.eval(Array(1, 3, 2))
    assert(logits.length == 3 * 9)
    assert(logits.forall(f => !f.isNaN && !f.isInfinite))
  }

  test("Q4_0 tensors decode per the ggml block layout") {
    val p = tmp("q40.bin")
    val w = new TestModels.Writer(p)
    w.i32(ModelFormat.Magic)
    // nVocab=3, nMaxTokens=4, nEmbd=32, nInter=4, nHead=2, nLayer=0, f16=2, nLabels=9
    w.i32(3).i32(4).i32(32).i32(4).i32(2).i32(0).i32(2).i32(9)
    Seq("[PAD]", "[CLS]", "[SEP]").foreach(w.str)
    // one known 32-element tensor as a single Q4_0 block: d=2.0 (f16 0x4000),
    // 16 nibble-pairs: byte j = (j | (15-j)<<4) => low nibble j, high 15-j
    val payload = new Array[Byte](18)
    payload(0) = 0x00; payload(1) = 0x40 // f16 little-endian 2.0
    for (j <- 0 until 16) payload(2 + j) = ((j & 0xf) | ((15 - j) << 4)).toByte
    w.i32(1).i32("embeddings.LayerNorm.weight".length).i32(2)
    w.i32(32)
    w.bytes("embeddings.LayerNorm.weight".getBytes("UTF-8"))
    w.bytes(payload)
    w.close()
    val m = ModelFormat.loadFile(p).get
    val data = m.tensors("embeddings.LayerNorm.weight").data
    assert(data.length == 32)
    // first 16 from low nibbles: (j - 8) * 2.0
    for (j <- 0 until 16) assert(data(j) == (j - 8) * 2.0f)
    // next 16 from high nibbles: ((15-j) - 8) * 2.0
    for (j <- 0 until 16) assert(data(16 + j) == ((15 - j) - 8) * 2.0f)
  }

  test("a record with an unknown ftype or a ragged Q4_0 block fails load, scan and payloadSize alike") {
    // (ftype, dims, payload bytes) of each bad record: ftype 3 is not in
    // the container's table; 40 Q4_0 elements do not fill whole 32-blocks
    val bad = Seq((3, Array(4), 16), (ModelFormat.Q4_0, Array(40), 18))
    bad.foreach { case (ftype, dims, nBytes) =>
      val p = tmp(s"bad-ftype$ftype.bin")
      TestModels.writeValid(p, weightGen = TestModels.seeded(5))
      assert(ModelFormat.loadFile(p).isDefined && ModelFormat.scanFile(p).isDefined)
      val out = new java.io.DataOutputStream(new java.io.FileOutputStream(p, true))
      try {
        val name = "encoder.layer.0.output.dense.bias".getBytes("UTF-8")
        Seq(dims.length, name.length, ftype).foreach(v => out.writeInt(Integer.reverseBytes(v)))
        dims.foreach(v => out.writeInt(Integer.reverseBytes(v)))
        out.write(name)
        out.write(new Array[Byte](nBytes))
      } finally out.close()
      assert(ModelFormat.loadFile(p).isEmpty, s"ftype $ftype")
      assert(ModelFormat.scanFile(p).isEmpty, s"ftype $ftype")
      assert(ModelFormat.payloadSize(ftype, dims) == -1L, s"ftype $ftype")
    }
  }

  test("f16 round-trip helper") {
    assert(ModelFormat.f16ToFloat(0x3c00) == 1.0f)
    assert(ModelFormat.f16ToFloat(0xc000) == -2.0f)
    assert(ModelFormat.f16ToFloat(0x0000) == 0.0f)
    assert(math.abs(ModelFormat.f16ToFloat(0x3555) - 0.333252f) < 1e-6)
    assert(ModelFormat.f16ToFloat(0x7c00).isPosInfinity)
    assert(ModelFormat.f16ToFloat(0x0001) == 5.9604645e-8f) // smallest subnormal
  }

  test("golden converter-layout fixture loads end-to-end") {
    // committed binary produced by tools/make_golden_model.py, which
    // reproduces the reference converter's writer logic byte-for-byte
    // (convert_ner_to_ggml.py:37-89): ftype=1 header, 2-D .weight tensors
    // narrowed to f16, dims written innermost-first, pooler tensors written
    // (converter does not skip them) and position_ids dropped, plus a
    // hand-quantized Q4_0 appendix for the ner_model.cpp:278 read path.
    // Pins ModelFormat against the on-disk format, not in-test mirrors.
    val in = getClass.getResourceAsStream("/graft/ner/golden_converter_model.bin")
    assert(in != null, "fixture missing from test resources")
    val bytes = in.readAllBytes(); in.close()
    val m = ModelFormat.loadBytes(bytes).get
    assert(m.hparams == NerHparams(16, 16, 32, 64, 2, 1, 1, 9))
    // vocab split on the converter's id-ordered packing
    assert(m.vocab.main("duck") == 4)
    assert(m.vocab.sub("db") == 5)
    assert(m.vocab.sub("s") == 7)
    assert(m.vocab.tokenOf(5) == "##db")
    // pooler.* written by the converter but unknown to the reader -> seeked
    // past (ner_model.cpp:275-282), incl. the f16 2-D payload-size branch
    assert(!m.tensors.keys.exists(_.startsWith("pooler.")))
    assert(!m.tensors.contains("embeddings.position_ids"))
    // dims land innermost-first: HF (n_inter=64, n_embd=32) -> file [32, 64]
    assert(m.tensors("encoder.layer.0.intermediate.dense.weight").dims.toSeq
      == Seq(32, 64))
    assert(m.tensors("classifier.weight").dims.toSeq == Seq(32, 9))
    // f16 narrowing of the generator's 1/16-grid pattern is exact: tensor 0
    // (word embeddings) has data[k] = ((k % 17) - 8) / 16
    val we = m.tensors("embeddings.word_embeddings.weight").data
    assert(we.length == 16 * 32)
    for (k <- Seq(0, 1, 16, 17, 100, 511))
      assert(we(k) == ((k % 17) - 8) / 16.0f, s"word_embeddings($k)")
    // classifier.bias stays f32 (1-D): tensor index 24 in generation order
    val cb = m.tensors("classifier.bias").data
    for (k <- 0 until 9) assert(cb(k) == (((k + 24) % 17) - 8) / 16.0f)
    // Q4_0 appendix decodes per the ggml block layout: ((k%16) - 8) / 64
    val lnb = m.tensors("embeddings.LayerNorm.bias").data
    assert(lnb.length == 32)
    for (k <- 0 until 32) assert(lnb(k) == ((k % 16) - 8) / 64.0f, s"lnb($k)")
    // and the encoder runs the mixed f16/f32/Q4_0 weights end-to-end
    val logits = new BertEncoder(m).eval(Array(2, 4, 3)) // [CLS] duck [SEP]
    assert(logits.length == 3 * 9)
    assert(logits.forall(f => !f.isNaN && !f.isInfinite))
    assert(logits.exists(_ != 0f))
  }

  test("encoder is deterministic and shape-correct on a seeded model") {
    val p = tmp("seeded.bin")
    TestModels.writeValid(p, weightGen = TestModels.seeded(123))
    val m = ModelFormat.loadFile(p).get
    val enc = new BertEncoder(m)
    val t = Array(1, 3, 4, 2) // [CLS] duck ##db [SEP]
    val a = enc.eval(t)
    val b = enc.eval(t)
    assert(a.toSeq == b.toSeq)
    assert(a.length == 4 * 9)
    assert(a.exists(_ != 0f))
  }
}
