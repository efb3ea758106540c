package graft.ner

import org.scalatest.funsuite.AnyFunSuite

/** Pins the Q4_0-native inference path (round-7 VERDICT #3): a model whose
  * linear weights ship as ggml Q4_0 blocks must evaluate WITHOUT
  * materializing F32 weight matrices ([[LinearWeight.Q4]] decodes one
  * weight panel at a time from the raw blocks), and its logits must equal,
  * bit for bit, those of the F32 reference path running the SAME effective
  * weights (quantize→dequantize round-trip).
  */
class Q4NativeSpec extends AnyFunSuite {

  // dims chosen so every linear has in % 32 == 0 (the native-path gate):
  // attention/classifier in = nEmbd = 32, FFN-out in = nIntermediate = 64
  private val NEmbd = 32
  private val NInter = 64

  private def writePair(): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_q4").toString
    val q4Path = s"$dir/q4.bin"
    val f32Path = s"$dir/f32.bin"
    val gen = TestModels.seeded(0xCAFE)
    TestModels.writeValid(q4Path, nEmbd = NEmbd, nIntermediate = NInter,
      nHead = 4, nLayer = 2, weightGen = gen, q4Linears = true)
    // F32 twin carrying the EFFECTIVE post-quantization weights, so the two
    // models compute over bit-identical weight values and any logit delta
    // is accumulation order alone
    val effGen: (String, Int) => Array[Float] = { (name, n) =>
      val data = gen(name, n)
      if (TestModels.isLinearWeight(name) && n % 32 == 0)
        TestModels.q4Effective(data)
      else data
    }
    TestModels.writeValid(f32Path, nEmbd = NEmbd, nIntermediate = NInter,
      nHead = 4, nLayer = 2, weightGen = effGen)
    (q4Path, f32Path)
  }

  test("Q4_0 linears load as raw blocks, not dequantized arrays") {
    val (q4Path, _) = writePair()
    val m = ModelFormat.loadFile(q4Path).get
    val linears = m.tensors.filter { case (n, _) => TestModels.isLinearWeight(n) }
    assert(linears.nonEmpty)
    linears.foreach { case (n, t) =>
      assert(t.isQ4, s"$n should carry raw Q4_0 blocks")
      assert(t.q4.length == t.numel / 32 * 18, s"$n block payload size")
    }
    // non-matmul tensors stay F32
    assert(!m.tensors("embeddings.word_embeddings.weight").isQ4)
    assert(!m.tensors("classifier.bias").isQ4)
  }

  test("quantize/dequantize round-trip is exact per the block decoder") {
    val r = new scala.util.Random(7)
    val data = Array.fill(128)((r.nextFloat() - 0.5f) * 0.3f)
    val raw = TestModels.quantizeQ4(data)
    val eff = ModelFormat.dequantQ4(raw, data.length)
    // every effective value must be representable as (q - 8) * d for its
    // block's stored f16 scale, and within ONE quantization step of the
    // original (Q4_0's grid is asymmetric — q clamps to 15, i.e. [-8d, 7d] —
    // so the positive extreme can sit a full step off; interior values land
    // within half a step)
    var b = 0
    while (b < 4) {
      val off = b * 18
      val d = ModelFormat.f16ToFloat(
        ((raw(off + 1) & 0xff) << 8) | (raw(off) & 0xff))
      val step = math.abs(d)
      var j = 0
      while (j < 32) {
        val i = b * 32 + j
        assert(math.abs(eff(i) - data(i)) <= step * 1.01f + 1e-6f,
          s"value $i quantization error beyond one step")
        j += 1
      }
      b += 1
    }
  }

  test("Q4-native logits match the F32 path on effective weights") {
    val (q4Path, f32Path) = writePair()
    val mq = ModelFormat.loadFile(q4Path).get
    val mf = ModelFormat.loadFile(f32Path).get
    val eq = new BertEncoder(mq)
    val ef = new BertEncoder(mf)
    val docs = Array(
      Array(1, 3, 4, 5, 6, 2), // [CLS] duck ##db is great [SEP]
      Array(1, 7, 8, 9, 2), // [CLS] new york bob [SEP]
      Array(1, 13, 14, 2))
    val lq = eq.evalBatch(docs)
    val lf = ef.evalBatch(docs)
    docs.indices.foreach { d =>
      // identical effective weights and every linear the same fma chain
      // over them: the logits carry the same bits
      assert(lq(d).map(java.lang.Float.floatToRawIntBits).sameElements(
        lf(d).map(java.lang.Float.floatToRawIntBits)),
        s"doc $d: q4=${lq(d).mkString(",")} f32=${lf(d).mkString(",")}")
    }
  }

  test("batched and single-doc Q4 evaluation agree bit-identically") {
    val (q4Path, _) = writePair()
    val m = ModelFormat.loadFile(q4Path).get
    val enc = new BertEncoder(m)
    val bad = TestModels.batchedVsSingleMismatches(enc,
      TestModels.TileStraddlingDocs)
    assert(bad.isEmpty, s"Q4: (split, doc) pairs that diverge: $bad")
  }
}
