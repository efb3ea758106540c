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

  test("matmulQ4: every kernel matches the dequantized-F32 definition") {
    // property: for random Q4_0 weights and activations, each kernel's
    // quantized-native output equals the plain dot of the DEQUANTIZED
    // weights within accumulation-order tolerance — scalar and SIMD decode
    // the same blocks, so a nibble/scale/lane bug shows up as a gross
    // mismatch, not a rounding one
    val genCase = for {
      blocks <- Gen.choose(1, 4)
      out <- Gen.choose(1, 7)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (blocks, out, seed)
    holds("matmulQ4 vs dequantized reference")(Prop.forAll(genCase) {
      case (blocks, out, seed) =>
        val in = blocks * 32
        val r = new scala.util.Random(seed)
        val w = Array.fill(out * in)((r.nextFloat() - 0.5f) * 0.4f)
        val wq = ModelFormat.quantizeQ4(w)
        val eff = ModelFormat.dequantQ4(wq, w.length)
        val x = Array.fill(in)((r.nextFloat() - 0.5f) * 2f)
        val b = Array.fill(out)((r.nextFloat() - 0.5f))
        val expect = Array.tabulate(out) { o =>
          var acc = b(o).toDouble
          var i = 0
          while (i < in) { acc += eff(o * in + i).toDouble * x(i); i += 1 }
          acc
        }
        Kernels.all.forall { k =>
          val y = new Array[Float](out)
          k.matmulQ4(x, 0, 1, in, wq, out, b, y, 0)
          (0 until out).forall { o =>
            val tol = 1e-4 * math.max(1.0, math.abs(expect(o)))
            math.abs(y(o) - expect(o)) <= tol
          }
        }
    })
  }

  // float lanes of the SIMD kernel (8 stands in when only scalar runs)
  private val lanes =
    if (Kernels.all.size > 1) jdk.incubator.vector.FloatVector.SPECIES_PREFERRED.length
    else 8
  private def bits(a: Array[Float]): Seq[Int] =
    a.toSeq.map(java.lang.Float.floatToRawIntBits)

  test("F32 path: every kernel is bit-identical on matmulT, gelu, softmaxScale") {
    // the F32 encoder runs only these three kernels, so this is what makes
    // its logits independent of which kernel the JVM picked. Shapes hit
    // every SIMD code path: rows cover the one-row path, full 4-row tiles
    // and 2-/3-row remainders; out covers the 4-vector (one row) and
    // 2-vector (row tile) loops, the single-vector loop and the scalar
    // tail; ldw > out, nonzero offsets, with and without bias; gelu/softmax
    // lengths leave a scalar tail.
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
      yo <- Gen.choose(1, 7)
      withBias <- Gen.oneOf(true, false)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (rows, in, out, out + pad, xo, wo, yo, withBias, seed)
    holds("matmulT bit-identity")(Prop.forAll(genMatmul) {
      case (rows, in, out, ldw, xo, wo, yo, withBias, seed) =>
        val r = new scala.util.Random(seed)
        val x = Array.fill(xo + rows * in)(r.nextGaussian().toFloat)
        val wt = Array.fill(wo + in * ldw)(r.nextGaussian().toFloat * 0.1f)
        val b = if (withBias) Array.fill(out)(r.nextGaussian().toFloat) else null
        sameAcrossKernels { k =>
          val y = new Array[Float](yo + rows * out)
          k.matmulT(x, xo, rows, in, wt, wo, ldw, out, b, y, yo)
          y
        }
    })

    val genVec = for {
      len <- Gen.choose(1, 5 * lanes).map(ragged)
      scale <- Gen.choose(0.01f, 4f)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (len, scale, seed)
    holds("gelu/softmaxScale bit-identity")(Prop.forAll(genVec) {
      case (len, scale, seed) =>
        val r = new scala.util.Random(seed)
        val x = Array.fill(len)(r.nextGaussian().toFloat * 4f)
        sameAcrossKernels { k =>
          val y = x.clone(); k.gelu(y, len); y
        } && sameAcrossKernels { k =>
          val y = x.clone(); k.softmaxScale(y, len, scale); y
        }
    })
  }

  test("row blocks: one rows-row call equals rows one-row calls bit for bit") {
    // the encoder calls each linear once per weight matrix with every token
    // as the row block; batching may not change a bit, so each kernel's
    // register tiles must keep every output's one-row accumulation order.
    // rows 1-9 hit the one-row path, full 4-row tiles and every remainder;
    // F16 `in` is never a multiple of 16 (scalar tail after the reduce);
    // odd `out`; nonzero offsets; bias or none. y starts as a sentinel so
    // a store outside the block's rows (e.g. an aliased tile row) shows.
    val genCase = for {
      rows <- Gen.choose(1, 9)
      form <- Gen.oneOf("F32", "F16", "Q4_0")
      k16 <- Gen.choose(0, 5)
      tail <- Gen.choose(1, 15)
      blocks <- Gen.choose(1, 4)
      inF32 <- Gen.choose(1, 70)
      out <- Gen.choose(0, 3 * lanes).map(2 * _ + 1)
      pad <- Gen.choose(0, 9)
      xo <- Gen.choose(1, 7)
      wo <- Gen.choose(1, 7)
      yo <- Gen.choose(1, 7)
      withBias <- Gen.oneOf(true, false)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield {
      val in = form match {
        case "F32" => inF32
        case "F16" => 16 * k16 + tail
        case _ => 32 * blocks
      }
      (rows, form, in, out, out + pad, xo, wo, yo, withBias, seed)
    }
    holds("row-block bit-identity")(Prop.forAll(genCase) {
      case (rows, form, in, out, ldw, xo, wo, yo, withBias, seed) =>
        val r = new scala.util.Random(seed)
        val x = Array.fill(xo + rows * in)(r.nextGaussian().toFloat)
        val b = if (withBias) Array.fill(out)(r.nextGaussian().toFloat) else null
        val w = Array.fill(out * in)(r.nextGaussian().toFloat * 0.1f)
        // (k, x offset, rows, y, y offset) => one product call
        val call: (DotKernel, Int, Int, Array[Float], Int) => Unit = form match {
          case "F32" =>
            val wt = Array.fill(wo + in * ldw)(r.nextGaussian().toFloat * 0.1f)
            (k, xr, n, y, yr) => k.matmulT(x, xr, n, in, wt, wo, ldw, out, b, y, yr)
          case "F16" =>
            val wh = w.map(v => ModelFormat.floatToF16(v).toShort)
            (k, xr, n, y, yr) => k.matmulF16(x, xr, n, in, wh, out, b, y, yr)
          case _ =>
            val wq = ModelFormat.quantizeQ4(w)
            (k, xr, n, y, yr) => k.matmulQ4(x, xr, n, in, wq, out, b, y, yr)
        }
        Kernels.all.forall { k =>
          val block = Array.fill(yo + rows * out + 3)(-7f)
          call(k, xo, rows, block, yo)
          val single = Array.fill(yo + rows * out + 3)(-7f)
          (0 until rows).foreach { i =>
            call(k, xo + i * in, 1, single, yo + i * out)
          }
          bits(block) == bits(single)
        }
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
    // mention in main sources must be SPECIES_PREFERRED, except the single
    // documented qsp cap in Kernels.scala (SPECIES_512, reachable only when
    // SPECIES_PREFERRED *is* 512-bit, so no second species ever runs).
    // Byte/Short/Int-side species are exempt: only the FloatVector
    // templates carry the hot float kernels.
    val srcRoot = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(srcRoot),
      s"expected to run from the repo root, cwd=${System.getProperty("user.dir")}")
    val speciesRef = """FloatVector\.SPECIES_(\w+)""".r
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    java.nio.file.Files.walk(srcRoot).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        for (m <- speciesRef.findAllMatchIn(text)) {
          val ok = m.group(1) == "PREFERRED" ||
            (m.group(1) == "512" && p.getFileName.toString == "Kernels.scala")
          if (!ok) offenders += s"$p: FloatVector.SPECIES_${m.group(1)}"
        }
      }
    }
    assert(offenders.isEmpty,
      "fixed FloatVector species outside the documented Kernels.scala cap " +
        s"(de-intrinsification trap, BASELINE.md r8):\n${offenders.mkString("\n")}")
    // and the cap itself must still be the guarded equals-preferred form
    val kernels = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/ner/Kernels.scala")), "UTF-8")
    assert(kernels.contains("if (sp.length >= 16) FloatVector.SPECIES_512 else sp"),
      "Kernels.scala qsp cap changed shape — re-review the single-species rule")
  }
}
