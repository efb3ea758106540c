package graft.ner

import org.scalatest.funsuite.AnyFunSuite

/** Pins the F16-native inference path (round-8 VERDICT #4 — the symmetric
  * completion of the Q4_0 path): a model whose linear weights ship as raw
  * IEEE 754 halves must evaluate WITHOUT the load-time F32 widening
  * ([[DotKernel.matmulF16]] consumes the raw shorts), and its logits must
  * match the F32 reference path running the SAME effective weights
  * (float→half→float round-trip) within an accumulation-order tolerance.
  */
class F16NativeSpec extends AnyFunSuite {

  private val NEmbd = 32
  private val NInter = 64

  private def writePair(): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_f16").toString
    val f16Path = s"$dir/f16.bin"
    val f32Path = s"$dir/f32.bin"
    val gen = TestModels.seeded(0xF00D)
    TestModels.writeValid(f16Path, nEmbd = NEmbd, nIntermediate = NInter,
      nHead = 4, nLayer = 2, weightGen = gen, f16Linears = true)
    // F32 twin carrying the EFFECTIVE post-rounding weights, so the two
    // models compute over bit-identical weight values and any logit delta
    // is accumulation order alone
    val effGen: (String, Int) => Array[Float] = { (name, n) =>
      val data = gen(name, n)
      if (TestModels.isLinearWeight(name)) TestModels.f16Effective(data)
      else data
    }
    TestModels.writeValid(f32Path, nEmbd = NEmbd, nIntermediate = NInter,
      nHead = 4, nLayer = 2, weightGen = effGen)
    (f16Path, f32Path)
  }

  test("F16 linears load as raw halves, not widened arrays") {
    val (f16Path, _) = writePair()
    val m = ModelFormat.loadFile(f16Path).get
    val linears = m.tensors.filter { case (n, _) => TestModels.isLinearWeight(n) }
    assert(linears.nonEmpty)
    linears.foreach { case (n, t) =>
      assert(t.isF16, s"$n should carry raw F16 shorts")
      assert(t.f16raw.length.toLong == t.numel, s"$n raw payload size")
    }
    // non-matmul tensors stay F32
    assert(!m.tensors("embeddings.word_embeddings.weight").isF16)
    assert(!m.tensors("classifier.bias").isF16)
  }

  test("SIMD in-register widening agrees with f16ToFloat on every half") {
    // the bit-shift + 2^112 rescale must reproduce the scalar decode for
    // every finite half INCLUDING subnormals; exercise it through the
    // kernel with a full 16-half row (in = 16 — anything shorter falls to
    // the scalar tail and would test only the lookup table) and a unit
    // activation selecting the half under test. A -0 weight necessarily
    // surfaces as +0 after the lane reduce (-0 + +0 = +0 in IEEE), which is
    // value-identical in any sum — compared with == there, bitwise
    // everywhere else.
    Kernels.all.foreach { kern =>
      val x = new Array[Float](16); x(0) = 1f
      val row = new Array[Short](16)
      val y = new Array[Float](1)
      var h = 0
      while (h < 0x10000) {
        val exp = (h >>> 10) & 0x1f
        if (exp != 0x1f) { // finite halves only (Inf/NaN scaladoc'd apart)
          row(0) = h.toShort
          kern.matmulF16(x, 0, 1, 16, row, 1, null, y, 0)
          val want = ModelFormat.f16ToFloat(h)
          assert((want == 0f && y(0) == 0f) ||
            java.lang.Float.floatToIntBits(y(0)) ==
              java.lang.Float.floatToIntBits(want),
            f"half 0x$h%04x: kernel ${y(0)} vs f16ToFloat $want")
        }
        h += 1
      }
    }
  }

  test("F16-native logits match the F32 path on effective weights") {
    val (f16Path, f32Path) = writePair()
    val mh = ModelFormat.loadFile(f16Path).get
    val mf = ModelFormat.loadFile(f32Path).get
    val eh = new BertEncoder(mh)
    val ef = new BertEncoder(mf)
    val docs = Array(
      Array(1, 3, 4, 5, 6, 2), // [CLS] duck ##db is great [SEP]
      Array(1, 7, 8, 9, 2), // [CLS] new york bob [SEP]
      Array(1, 13, 14, 2))
    val lh = eh.evalBatch(docs)
    val lf = ef.evalBatch(docs)
    var maxDelta = 0f
    docs.indices.foreach { d =>
      assert(lh(d).length == lf(d).length)
      lh(d).indices.foreach { i =>
        val delta = math.abs(lh(d)(i) - lf(d)(i))
        maxDelta = math.max(maxDelta, delta)
        // identical effective weights, different accumulation association
        // (row-major lane accumulate + reduce vs transposed FMA chain):
        // deltas are float-rounding scale
        assert(delta <= 2e-3f,
          s"doc $d logit $i: f16=${lh(d)(i)} f32=${lf(d)(i)}")
      }
      val nLab = 9
      (0 until lh(d).length / nLab).foreach { t =>
        def argmax(a: Array[Float]): Int =
          (0 until nLab).maxBy(l => a(t * nLab + l))
        assert(argmax(lh(d)) == argmax(lf(d)), s"doc $d token $t argmax")
      }
    }
    info(f"max logit delta F16-native vs F32-effective: $maxDelta%.2e")
  }

  test("batched and single-doc F16 evaluation agree bit-identically") {
    val (f16Path, _) = writePair()
    val m = ModelFormat.loadFile(f16Path).get
    val enc = new BertEncoder(m)
    val bad = TestModels.batchedVsSingleMismatches(enc,
      TestModels.TileStraddlingDocs)
    assert(bad.isEmpty, s"F16: (split, doc) pairs that diverge: $bad")
  }

  test("F16 tensor survives Java serialization and lazily re-widens") {
    // round-8 ADVICE companion: the transient F32 cache must rebuild from
    // whichever raw form is present after deserialization — f16raw here,
    // plain f32 for dense tensors (the case that used to NPE)
    val gen = TestModels.seeded(0xBEEF)
    val dense = NerTensor(Array(8), gen("x", 8))
    val half = NerTensor(Array(8), null,
      f16raw = gen("y", 8).map(v => ModelFormat.floatToF16(v).toShort))
    def roundTrip[T](t: T): T = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(t); oos.close()
      new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bos.toByteArray))
        .readObject().asInstanceOf[T]
    }
    assert(roundTrip(dense).data.sameElements(dense.data))
    assert(roundTrip(half).data.sameElements(half.data))
  }
}
