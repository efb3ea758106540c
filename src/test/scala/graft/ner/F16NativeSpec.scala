package graft.ner

import org.scalatest.funsuite.AnyFunSuite

/** Pins the F16-native inference path (round-8 VERDICT #4 — the symmetric
  * completion of the Q4_0 path): a model whose linear weights ship as raw
  * IEEE 754 halves must evaluate WITHOUT a load-time F32 widening
  * ([[LinearWeight.F16]] decodes one weight panel at a time from the raw
  * shorts), and its logits must equal, bit for bit, those of the F32
  * reference path running the SAME effective weights (float→half→float
  * round-trip).
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

  test("pack decode agrees with f16ToFloat on every half") {
    // every one of the 65536 halves (subnormals, signed zeros, Inf and NaN
    // included) in a weight whose rows fill whole panels of every kernel
    // plus a narrow tail panel: each packed float must carry f16ToFloat's
    // exact bits at its transposed position
    val in = 16
    val out = 65536 / in + 9
    val raw = Array.tabulate(out * in)(k => (k & 0xffff).toShort)
    val w = new LinearWeight.F16(raw, in, out)
    Kernels.all.map(_.panel).distinct.foreach { p =>
      val buf = new Array[Float](in * p)
      val bad = scala.collection.mutable.ArrayBuffer.empty[Int]
      for (o0 <- 0 until out by p) {
        val pw = math.min(p, out - o0)
        w.pack(o0, pw, buf, p)
        for (c <- 0 until pw; i <- 0 until in) {
          val h = raw((o0 + c) * in + i) & 0xffff
          if (java.lang.Float.floatToRawIntBits(buf(i * p + c)) !=
              java.lang.Float.floatToRawIntBits(ModelFormat.f16ToFloat(h))) bad += h
        }
      }
      assert(bad.isEmpty, s"panel $p: ${bad.size} halves decode differently, first " +
        bad.take(5).map(h => f"0x$h%04x").mkString(", "))
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
    docs.indices.foreach { d =>
      // identical effective weights and every linear the same fma chain
      // over them: the logits carry the same bits
      assert(lh(d).map(java.lang.Float.floatToRawIntBits).sameElements(
        lf(d).map(java.lang.Float.floatToRawIntBits)),
        s"doc $d: f16=${lh(d).mkString(",")} f32=${lf(d).mkString(",")}")
    }
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
