package graft.ner

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream}
import java.lang.management.ManagementFactory
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Hostile model containers: a damaged copy of the golden fixture loads as
  * `None` or as a model the encoder evaluates, never as an exception, and
  * a payload longer than the input is refused before anything is allocated
  * for it.
  */
class ModelFormatFuzzSpec extends AnyFunSuite {

  private val golden: Array[Byte] = {
    val in = getClass.getResourceAsStream("/graft/ner/golden_converter_model.bin")
    try in.readAllBytes() finally in.close()
  }

  /** Byte offset of each record's header (`n_dims, name_len, ftype,
    * dims...`) and its dim count. */
  private val records: Seq[(Int, Int)] =
    ModelFormat.scanMeta(new ByteArrayInputStream(golden)).get.tensors.map { t =>
      val nameLen = t.name.getBytes(StandardCharsets.UTF_8).length
      ((t.dataOffset - nameLen - 4 * t.dims.length - 12).toInt, t.dims.length)
    }

  private def withInt(what: String, off: Int, v: Int): (String, Array[Byte]) = {
    val b = golden.clone()
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).putInt(off, v)
    (s"$what := $v", b)
  }

  private val genInt: Gen[Int] = Gen.oneOf(Gen.choose(-2, 80),
    Gen.oneOf(16, 32, 64, 1 << 16, 1 << 26, 1 << 30, Int.MaxValue, Int.MinValue),
    Gen.choose(Int.MinValue, Int.MaxValue))

  /** A damaged copy of the fixture and what was done to it. */
  private val genMutant: Gen[(String, Array[Byte])] = Gen.oneOf(
    // 1-4 bit flips anywhere
    Gen.choose(1, 4).flatMap(k => Gen.listOfN(k, Gen.choose(0, golden.length * 8 - 1)))
      .map { bits =>
        val b = golden.clone()
        bits.foreach(i => b(i / 8) = (b(i / 8) ^ (1 << (i % 8))).toByte)
        (s"bits ${bits.mkString(",")} flipped", b)
      },
    // truncation
    Gen.choose(0, golden.length - 1).map(n => (s"truncated to $n bytes", golden.take(n))),
    // one of the eight hparams rewritten
    for (k <- Gen.choose(1, 8); v <- genInt) yield withInt(s"hparam $k", 4 * k, v),
    // one record's n_dims, name_len, ftype or a dim rewritten
    for {
      (start, nDims) <- Gen.oneOf(records)
      field <- Gen.choose(0, 2 + nDims)
      v <- genInt
    } yield withInt(s"record at $start, field $field", start + 4 * field, v))

  test("fuzz: a damaged golden fixture loads as None or as a model that evaluates") {
    var loaded = 0
    val prop = Prop.forAllNoShrink(genMutant) { case (what, bytes) =>
      try ModelFormat.loadBytes(bytes) match {
        case None => true
        case Some(m) =>
          loaded += 1
          val logits = new BertEncoder(m).eval(Array(2, 4, 5, 3))
          logits.length == 4 * m.hparams.nLabels
      } catch { case e: Exception => throw new AssertionError(s"$what: $e", e) }
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(600).withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, res.status match {
      case SCTest.PropException(_, e, _) => e.getMessage
      case other => other.getClass.getSimpleName
    })
    info(s"$loaded of ${res.succeeded} mutants loaded and evaluated")
  }

  test("a payload longer than the input is refused before it is allocated") {
    // n_embd = n_max_tokens = 4096: the table's position embeddings are
    // 4096 x 4096 F32 (64 MiB), and the container holds only the record's
    // header
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    ModelFormat.writeHeader(out, NerHparams(1, 4096, 4096, 32, 1, 0, 0, 9),
      Iterator.single("a".getBytes(StandardCharsets.UTF_8)))
    val name = "embeddings.position_embeddings.weight".getBytes(StandardCharsets.UTF_8)
    Seq(2, name.length, ModelFormat.F32, 4096, 4096)
      .foreach(v => out.writeInt(Integer.reverseBytes(v)))
    out.write(name)
    out.close()
    val bytes = bos.toByteArray
    assert(bytes.length < 200)
    val mx = ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    assert(ModelFormat.loadBytes(bytes).isEmpty) // warm up class loading
    val before = mx.getThreadAllocatedBytes(tid)
    val got = ModelFormat.loadBytes(bytes)
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    assert(got.isEmpty)
    assert(allocated < (1L << 20),
      s"loading a ${bytes.length}-byte container allocated $allocated bytes")
  }

  test("a header whose absent tensors would be zero-filled past the input's length is no model") {
    // 41 bytes: hparams naming 2 layers of n_embd 1024 and n_intermediate
    // 4096, one vocab entry, no tensors; building an encoder for it would
    // zero-fill ~97 MiB of weights and transpose the linears
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    ModelFormat.writeHeader(out, NerHparams(1, 512, 1024, 4096, 16, 2, 0, 9),
      Iterator.single("a".getBytes(StandardCharsets.UTF_8)))
    out.close()
    val bytes = bos.toByteArray
    assert(bytes.length == 41)
    val mx = ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    assert(ModelFormat.loadBytes(bytes).isEmpty) // warm up class loading
    val before = mx.getThreadAllocatedBytes(tid)
    // what the model cache does with a loaded container
    val loaded = ModelFormat.loadBytes(bytes).map(new BertEncoder(_))
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    assert(loaded.isEmpty)
    assert(allocated < (1L << 20),
      s"loading a ${bytes.length}-byte header allocated $allocated bytes")
  }
}
