package graft.ner

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties over the pure NER kernels — the invariants the
  * reference relies on implicitly but never tests (SURVEY §5 test plan).
  * Raw ScalaCheck runner (the scalatest-plus bridge isn't on the offline
  * classpath).
  */
class KernelPropertiesSpec extends AnyFunSuite {

  private def holds(name: String)(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val vocab: NerVocab = {
    val tokens = TestModels.DefaultVocab
    val main = scala.collection.mutable.Map[String, Int]()
    val sub = scala.collection.mutable.Map[String, Int]()
    val id2 = scala.collection.mutable.Map[Int, String]()
    tokens.zipWithIndex.foreach { case (t, i) =>
      id2 += i -> t
      if (t.length > 2 && t.startsWith("##")) sub += t.substring(2) -> i
      else main += t -> i
    }
    NerVocab(main.toMap, sub.toMap, id2.toMap)
  }

  private val genWord: Gen[String] = Gen.oneOf(
    Gen.oneOf(TestModels.DefaultVocab.filterNot(_.startsWith("["))),
    Gen.alphaNumStr.map(_.take(8)),
    Gen.oneOf("##", "早stream", "éclair", "duck##db", ""))

  private val genText: Gen[String] =
    Gen.listOf(genWord).map(_.mkString(" "))

  test("tokenizer: output fits nMaxTokens, brackets with CLS/SEP, no [UNK]") {
    holds("tokenize") {
      Prop.forAll(genText, Gen.choose(3, 32)) { (text, maxTok) =>
        val ids = WordPiece.tokenize(vocab, text, maxTok)
        ids.length <= maxTok &&
          ids.head == vocab.main("[CLS]") &&
          ids.last == vocab.main("[SEP]") &&
          ids.forall(vocab.idToToken.contains)
      }
    }
  }

  test("tokenizer is deterministic") {
    holds("determinism") {
      Prop.forAll(genText) { text =>
        WordPiece.tokenize(vocab, text, 16).toSeq ==
          WordPiece.tokenize(vocab, text, 16).toSeq
      }
    }
  }

  test("merge never emits empty or O-labeled entities, bounded by non-O count") {
    holds("merge") {
      Prop.forAll(Gen.listOf(Gen.choose(0, 8))) { labels =>
        val tokens = labels.indices.map(i =>
          vocab.tokenOf(3 + (i % (TestModels.DefaultVocab.length - 3))))
        val ents = BioMerge.merge(tokens.toIndexedSeq, labels.toIndexedSeq)
        ents.forall(e => e.entity.nonEmpty && e.label != "O" &&
          e.label.nonEmpty) && ents.size <= labels.count(_ != 0)
      }
    }
  }

  test("argmax matches the specification (ties to lowest index)") {
    holds("argmax") {
      Prop.forAll(Gen.nonEmptyListOf(Gen.choose(-100f, 100f))) { xs =>
        val arr = xs.toArray
        val got = BioMerge.argmax(arr, 0, arr.length)
        arr(got) == arr.max && got == arr.indexOf(arr.max)
      }
    }
  }

  test("deterministic expf tracks Math.exp within 2 ulp-ish relative error") {
    // ExpF is the encoder's softmax/gelu basis: accuracy must stay in the
    // expf class across the whole clamped domain, and the scalar kernel
    // must agree with itself bitwise on repeated evaluation (determinism
    // is the reason it exists — VectorOperators.EXP changed with JIT state)
    holds("expf") {
      Prop.forAll(Gen.choose(-87f, 88f)) { x =>
        val got = ExpF.expf(x).toDouble
        val want = math.exp(x.toDouble)
        math.abs(got - want) / want <= 2e-7 &&
          ExpF.expf(x) == ExpF.expf(x)
      }
    }
  }

  test("expf clamps instead of overflowing/underflowing") {
    assert(ExpF.expf(1000f).isPosInfinity == false)
    assert(ExpF.expf(1000f) == ExpF.expf(ExpF.MaxX))
    assert(ExpF.expf(-1000f) == ExpF.expf(ExpF.MinX))
    assert(ExpF.expf(-1000f) > 0f)
    assert(ExpF.expf(0f) == 1f)
  }

  // float lanes of the SIMD kernel (8 stands in when only scalar runs)
  private val lanes =
    if (Kernels.all.size > 1) jdk.incubator.vector.FloatVector.SPECIES_PREFERRED.length
    else 8
  private def bits(a: Array[Float]): Seq[Int] =
    a.toSeq.map(java.lang.Float.floatToRawIntBits)

  /** A seeded random `[out][in]` weight stored as `form` (F32, F16 or
    * Q4_0), with the F32 values it decodes to. */
  private def weightIn(form: String, in: Int, out: Int,
      r: scala.util.Random): (LinearWeight, Array[Float]) = {
    val w = Array.fill(out * in)(r.nextGaussian().toFloat * 0.1f)
    form match {
      case "F32" => (new LinearWeight.F32(w, in, out), w)
      case "F16" =>
        val h = w.map(v => ModelFormat.floatToF16(v).toShort)
        (new LinearWeight.F16(h, in, out), ModelFormat.widenF16(h))
      case _ =>
        val q = ModelFormat.quantizeQ4(w)
        (new LinearWeight.Q4(q, in, out), ModelFormat.dequantQ4(q, w.length))
    }
  }

  /** The product's definition: y(r*out + o) is ONE fma chain over
    * ascending i of x(r*in + i) * eff(o*in + i), started at b(o) (or 0). */
  private def fmaChains(x: Array[Float], rows: Int, in: Int,
      eff: Array[Float], out: Int, b: Array[Float]): Array[Float] =
    Array.tabulate(rows * out) { k =>
      val (r, o) = (k / out, k % out)
      var acc = if (b != null) b(o) else 0f
      var i = 0
      while (i < in) { acc = Math.fma(x(r * in + i), eff(o * in + i), acc); i += 1 }
      acc
    }

  /** `w` over `rows` rows of `x` through [[LinearWeight.apply]] on `k`. */
  private def product(k: DotKernel, w: LinearWeight, x: Array[Float],
      rows: Int, b: Array[Float]): Array[Float] = {
    val y = new Array[Float](rows * w.out)
    w(k, x, rows, b, y)
    y
  }

  test("Q4_0 pack: every kernel equals the fma chain over dequantQ4") {
    // for random Q4_0 weights and activations, each kernel's product over
    // the packed blocks is bit for bit the fma chain over the DEQUANTIZED
    // weights: the nibble/scale decode is exact, so any deviation is a
    // decode or tile bug
    val genCase = for {
      blocks <- Gen.choose(1, 4)
      out <- Gen.choose(1, 7)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (blocks, out, seed)
    holds("Q4_0 pack vs dequantized chain")(Prop.forAll(genCase) {
      case (blocks, out, seed) =>
        val in = blocks * 32
        val r = new scala.util.Random(seed)
        val (w, eff) = weightIn("Q4_0", in, out, r)
        val x = Array.fill(in)((r.nextFloat() - 0.5f) * 2f)
        val b = Array.fill(out)((r.nextFloat() - 0.5f))
        val want = bits(fmaChains(x, 1, in, eff, out, b))
        Kernels.all.forall(k => bits(product(k, w, x, 1, b)) == want)
    })
  }

  test("F32 path: every kernel is bit-identical on matmulT, gelu, softmaxRows") {
    // the F32 encoder runs only these three kernels, so this is what makes
    // its logits independent of which kernel the JVM picked. Shapes hit
    // every SIMD code path: rows cover one row (aliased tile rows), full
    // 4-row tiles and 1-/2-/3-row remainders; out covers the 4-vector
    // tiles, the single-vector tiles and the partial last vector (a
    // full-vector tile when ldw leaves room, one-row chains when it does
    // not); ldw > out, ldy >= out, nonzero offsets, with and
    // without bias; gelu/softmax lengths leave a scalar tail (the block
    // softmax's row shapes and special values have their own property).
    def ragged(n: Int): Int = if (n % lanes == 0) n + 1 else n
    def sameAcrossKernels(run: DotKernel => Array[Float]): Boolean =
      Kernels.all.map(k => bits(run(k))).distinct.size == 1

    val genMatmul = for {
      rows <- Gen.choose(1, 9)
      in <- Gen.choose(1, 70)
      out <- Gen.choose(4 * lanes + 1, 6 * lanes).map(ragged)
      pad <- Gen.choose(1, 9)
      xo <- Gen.choose(1, 7)
      wo <- Gen.choose(1, 7)
      bo <- Gen.choose(1, 7)
      yo <- Gen.choose(1, 7)
      ypad <- Gen.choose(0, 5)
      withBias <- Gen.oneOf(true, false)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (rows, in, out, out + pad, xo, wo, bo, yo, out + ypad, withBias, seed)
    holds("matmulT bit-identity")(Prop.forAll(genMatmul) {
      case (rows, in, out, ldw, xo, wo, bo, yo, ldy, withBias, seed) =>
        val r = new scala.util.Random(seed)
        val x = Array.fill(xo + rows * in)(r.nextGaussian().toFloat)
        val wt = Array.fill(wo + in * ldw)(r.nextGaussian().toFloat * 0.1f)
        val b = if (withBias) Array.fill(bo + out)(r.nextGaussian().toFloat) else null
        sameAcrossKernels { k =>
          val y = new Array[Float](yo + rows * ldy)
          k.matmulT(x, xo, rows, in, wt, wo, ldw, out, b, bo, y, yo, ldy)
          y
        }
    })

    val genVec = for {
      len <- Gen.choose(1, 5 * lanes).map(ragged)
      scale <- Gen.choose(0.01f, 4f)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (len, scale, seed)
    holds("gelu/softmaxRows bit-identity")(Prop.forAll(genVec) {
      case (len, scale, seed) =>
        val r = new scala.util.Random(seed)
        val x = Array.fill(len)(r.nextGaussian().toFloat * 4f)
        sameAcrossKernels { k =>
          val y = x.clone(); k.gelu(y, len); y
        } && sameAcrossKernels { k =>
          val y = x.clone(); k.softmaxRows(y, 0, 1, len, len, scale); y
        }
    })
  }

  /** The one-row softmax definition: x*scale, its max, exp(x - max)
    * through [[ExpF]], the f32 sum in ascending i, times 1/sum. */
  private def softmaxRow(x: Array[Float], o: Int, len: Int, scale: Float): Unit = {
    val v = Array.tabulate(len)(i => x(o + i) * scale)
    var m = Float.NegativeInfinity
    v.foreach(a => if (a > m) m = a)
    val e = v.map(a => ExpF.expf(a - m))
    var sum = 0f
    e.foreach(sum += _)
    val inv = 1f / sum
    for (i <- 0 until len) x(o + i) = e(i) * inv
  }

  test("softmaxRows: every kernel equals the one-row definition, specials included") {
    // rows 1-9 hit full 4-row sum blocks and every remainder; len covers
    // whole vectors and a scalar tail; rows sit ld > len apart with a
    // sentinel gap a stray store would overwrite; a row may hold -Inf,
    // +/-large values (x*scale may overflow) and NaN, and a NaN row must
    // come out all NaN. NaNs compare as NaN, not by payload.
    val specials = Array(Float.NegativeInfinity, 1e30f, -1e30f, 3e38f,
      -3e38f, Float.NaN, 0f, -0f)
    val genRows = for {
      rows <- Gen.choose(1, 9)
      len <- Gen.choose(1, 3 * lanes + 5)
      pad <- Gen.choose(1, 5)
      xo <- Gen.choose(0, 5)
      scale <- Gen.oneOf(Gen.choose(0.01f, 4f), Gen.const(0.17677669f))
      special <- Gen.oneOf(0, 2, 10)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (rows, len, len + pad, xo, scale, special, seed)
    def canon(a: Array[Float]): Seq[Int] = a.toSeq.map(java.lang.Float.floatToIntBits)
    holds("softmaxRows vs one-row definition")(Prop.forAll(genRows) {
      case (rows, len, ld, xo, scale, special, seed) =>
        val r = new scala.util.Random(seed)
        val x = Array.tabulate(xo + rows * ld) { _ =>
          if (r.nextInt(100) < special) specials(r.nextInt(specials.length))
          else r.nextGaussian().toFloat * 8f
        }
        val want = x.clone()
        for (row <- 0 until rows) softmaxRow(want, xo + row * ld, len, scale)
        val nanRows = (0 until rows).filter(row =>
          (0 until len).exists(i => x(xo + row * ld + i).isNaN))
        Kernels.all.forall { k =>
          val y = x.clone()
          k.softmaxRows(y, xo, rows, len, ld, scale)
          canon(y) == canon(want) && nanRows.forall(row =>
            (0 until len).forall(i => y(xo + row * ld + i).isNaN))
        }
    })
  }

  // `out` for a linear layer's product: k full panels of the SIMD kernel
  // (4 vectors) plus a narrow tail panel, narrower than one vector or
  // between one and four vectors wide; k = 0 is the classifier's shape
  private val genOut: Gen[Int] = for {
    k <- Gen.choose(0, 3)
    tail <- Gen.oneOf(Gen.choose(1, lanes - 1), Gen.choose(lanes, 4 * lanes - 1))
  } yield 4 * lanes * k + tail

  private val genLinear = for {
    rows <- Gen.choose(1, 9)
    form <- Gen.oneOf("F32", "F16", "Q4_0")
    blocks <- Gen.choose(1, 4)
    anyIn <- Gen.choose(1, 70)
    out <- genOut
    withBias <- Gen.oneOf(true, false)
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield (rows, form, if (form == "Q4_0") 32 * blocks else anyIn, out,
    withBias, seed)

  test("row blocks: one rows-row call equals rows one-row calls bit for bit") {
    // the encoder runs each linear once per weight matrix with every token
    // as the row block; batching may not change a bit, so each kernel's
    // register tiles must keep every output's one-row accumulation order.
    // rows 1-9 hit one row, full 4-row tiles and every remainder;
    // every weight form goes through its pack decode; bias or none. y
    // carries a sentinel tail so a store past the block's rows (e.g. an
    // aliased tile row) shows.
    holds("row-block bit-identity")(Prop.forAll(genLinear) {
      case (rows, form, in, out, withBias, seed) =>
        val r = new scala.util.Random(seed)
        val (w, _) = weightIn(form, in, out, r)
        val x = Array.fill(rows * in)(r.nextGaussian().toFloat)
        val b = if (withBias) Array.fill(out)(r.nextGaussian().toFloat) else null
        Kernels.all.forall { k =>
          val block = Array.fill(rows * out + 3)(-7f)
          w(k, x, rows, b, block)
          val single = Array.fill(rows * out + 3)(-7f)
          (0 until rows).foreach { i =>
            val y = new Array[Float](out)
            w(k, x.slice(i * in, (i + 1) * in), 1, b, y)
            System.arraycopy(y, 0, single, i * out, out)
          }
          bits(block) == bits(single)
        }
    })
  }

  test("every form through pack + matmulT: SIMD = scalar bit for bit") {
    // F16 and Q4_0 weights decode exactly into the F32 panel, so for every
    // form and kernel each output is the fma chain over the decoded
    // weights: SIMD and scalar agree bit for bit, and an F16/Q4_0 layer
    // equals the F32 layer on its decoded weights
    holds("pack + matmulT vs fma chains")(Prop.forAll(genLinear) {
      case (rows, form, in, out, withBias, seed) =>
        val r = new scala.util.Random(seed)
        val (w, eff) = weightIn(form, in, out, r)
        val x = Array.fill(rows * in)(r.nextGaussian().toFloat)
        val b = if (withBias) Array.fill(out)(r.nextGaussian().toFloat) else null
        val want = bits(fmaChains(x, rows, in, eff, out, b))
        Kernels.all.forall(k => bits(product(k, w, x, rows, b)) == want)
    })
  }

  test("f16 widening is strictly monotone on finite positive halves") {
    holds("f16") {
      Prop.forAll(Gen.choose(0x0000, 0x7bfe)) { bits =>
        ModelFormat.f16ToFloat(bits) < ModelFormat.f16ToFloat(bits + 1)
      }
    }
  }

  test("single-FloatVector-species rule holds structurally in graft.ner") {
    // Round-8 trap, now a build-breaking assertion instead of a comment
    // convention: two different FloatVector species hot in one JVM (e.g. a
    // fixed SPECIES_256 next to SPECIES_PREFERRED=512) pollute the shared
    // FloatVector template call-site profiles until C2 recompiles every
    // SIMD kernel WITHOUT vector intrinsics — a silent 5-10x slowdown for
    // the JVM's lifetime (BASELINE.md r8). Every FloatVector species
    // mention in main sources must be SPECIES_PREFERRED. Other element
    // types' species are exempt: only the FloatVector templates carry the
    // hot float kernels.
    val srcRoot = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(srcRoot),
      s"expected to run from the repo root, cwd=${System.getProperty("user.dir")}")
    val speciesRef = """FloatVector\.SPECIES_(\w+)""".r
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    java.nio.file.Files.walk(srcRoot).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        for (m <- speciesRef.findAllMatchIn(text)) {
          if (m.group(1) != "PREFERRED") offenders += s"$p: FloatVector.SPECIES_${m.group(1)}"
        }
      }
    }
    assert(offenders.isEmpty,
      "fixed FloatVector species in main sources " +
        s"(de-intrinsification trap, BASELINE.md r8):\n${offenders.mkString("\n")}")
  }
}
