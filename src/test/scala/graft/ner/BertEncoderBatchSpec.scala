package graft.ner

import org.scalatest.funsuite.AnyFunSuite

/** Pins the batched forward pass ([[BertEncoder.evalBatch]]) to the
  * per-document path: identical logits for every document regardless of how
  * documents are packed into batches (the attention is block-diagonal and
  * the linears are row-independent, so batching may not change a single
  * bit), and the partition-level wrapper preserves order, null semantics,
  * and the truncate guard.
  */
class BertEncoderBatchSpec extends AnyFunSuite {

  private val loaded = SyntheticModel.loaded
  private val m = loaded.model
  private val enc = loaded.encoder

  private val texts = Seq(
    "hello world 42",
    "a",
    "",
    "the quick brown fox jumps over the lazy dog 0123456789",
    ("entity extraction over a considerably longer document body " * 8),
    "z9",
    // 2-5 tokens each: batch offsets straddle the 4-row kernel tiles
    "ab", "", "abc", "q", "r s", "")

  private def toks(t: String): Array[Int] =
    WordPiece.tokenize(m.vocab, t, m.hparams.nMaxTokens)

  test("evalBatch logits are bit-identical to per-document eval") {
    val docs = texts.map(toks).toArray
    assert(docs.map(_.length).count(l => l >= 2 && l <= 5) >= 6)
    val bad = TestModels.batchedVsSingleMismatches(enc, docs)
    assert(bad.isEmpty, s"(split, doc) pairs that diverge: $bad")
  }

  /** SHA-256 over every logit's raw bits, document by document. */
  private def sha256(logits: Array[Array[Float]]): String = {
    val buf = java.nio.ByteBuffer.allocate(4 * logits.map(_.length).sum)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    logits.foreach(_.foreach(v => buf.putInt(java.lang.Float.floatToRawIntBits(v))))
    java.security.MessageDigest.getInstance("SHA-256").digest(buf.array())
      .map(b => f"${b & 0xff}%02x").mkString
  }

  test("F32 logits keep their pinned bits (SHA-256 over TileStraddlingDocs)") {
    // The F32 path is one ascending-i fma chain per output on every kernel,
    // so one constant holds with and without jdk.incubator.vector; a kernel
    // or encoder change that moves an F32 logit bit fails here.
    val sha = sha256(enc.evalBatch(TestModels.TileStraddlingDocs))
    assert(sha == "b7f27d76d28c82a8059ee40b633bd1181d48d3a7eaebe6ef7266a88170902957",
      s"F32 logits hash $sha on ${Kernels.best.getClass.getSimpleName}")
  }

  test("logits are bit-identical at pool widths 1-4 for F32, F16 and Q4_0") {
    // a batch of 256 + 100 + 7 tokens: the FFN panels and the layer's
    // (document, head) attention units deal unevenly over 2-4 workers; the
    // 9-wide classifier is one panel and Q/K/V/out fall under the hand-off
    // floor, so they run inline
    val r = new scala.util.Random(11)
    val docs = Array(256, 100, 7).map(n =>
      Array.fill(n)(r.nextInt(TestModels.DefaultVocab.length)))
    for (form <- Seq("f32", "f16", "q4")) {
      val enc = TestModels.splitShaped(form).encoder
      val clock = EncoderPool.workspace.clock
      val at = (1 to 4).map { w =>
        val before = clock(EncoderPool.Clock.Helper)
        val logits = EncoderPool.withWidth(w)(enc.evalBatch(docs))
        val borrowed = clock(EncoderPool.Clock.Helper) - before
        assert((borrowed > 0) == (w > 1), s"$form width $w: $borrowed helper ns")
        logits
      }
      for (w <- 2 to 4; d <- docs.indices)
        assert(java.util.Arrays.equals(at(w - 1)(d), at(0)(d)),
          s"$form width $w doc $d on ${Kernels.best.getClass.getSimpleName}")
    }
  }

  test("attention block and tile edges: batched = per-document, pool widths 1-4 agree") {
    // segments of 1, 3, 4 and 5 tokens straddle the 4-row tiles and the
    // softmax's 4-row sums; QBlock - 1, QBlock and QBlock + 1 end a
    // document's query rows in a 63-, 64- and 1-row block; 128 is two
    // whole blocks. The tiny model's 32-wide heads take the P.V product's
    // one-vector tiles, the split-shaped model's 64-wide heads its 4-vector
    // tiles (on AVX-512). Three copies of the segments put each layer's
    // attention above the hand-off floor, so widths 2-4 split its heads.
    val q = BertEncoder.QBlock
    val lens = Seq(1, 3, 4, 5, q - 1, q, q + 1, 128)
    def docsFor(m: NerModel): Array[Array[Int]] = {
      val r = new scala.util.Random(5)
      lens.map(n => Array.fill(n)(r.nextInt(m.hparams.nVocab))).toArray
    }
    // an oracle for the block offsets, which batching cannot see: the
    // constant is the tiny model's logits from an attention loop that ran
    // one query row at a time
    val sha = sha256(enc.evalBatch(docsFor(m)))
    assert(sha == "f6660147829a158a87a6e3056ce6b14e2bc4a6a11d9ad7b332af322b2d231073",
      s"F32 block-edge logits hash $sha on ${Kernels.best.getClass.getSimpleName}")
    val models = ("tiny f32" -> loaded) +:
      Seq("f32", "f16", "q4").map(f => s"split-shaped $f" -> TestModels.splitShaped(f))
    for ((name, l) <- models) {
      val enc = l.encoder
      val docs = docsFor(l.model)
      val bad = TestModels.batchedVsSingleMismatches(enc, docs)
      assert(bad.isEmpty, s"$name: (split, doc) pairs that diverge: $bad")
      val batch = docs ++ docs ++ docs
      val at = (1 to 4).map(w => EncoderPool.withWidth(w)(enc.evalBatch(batch)))
      for (w <- 2 to 4; d <- batch.indices)
        assert(java.util.Arrays.equals(at(w - 1)(d), at(0)(d)),
          s"$name width $w doc $d on ${Kernels.best.getClass.getSimpleName}")
    }
  }

  test("evalPartition preserves order, null rows, and row results") {
    val rows = Seq[(Long, String)](
      (1L, texts(0)), (2L, null), (3L, texts(3)), (4L, texts(2)),
      (5L, texts(4)))
    val got = Ner.evalPartition(Some(loaded),
      rows.iterator.map { case (id, t) => (id, t, true) }).toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(got(1)._2 == null) // with a model, NULL maps to NULL
    val viaSingle = rows.map { case (id, t) =>
      id -> Ner.evalWith(Some(loaded), t, truncate = true)
    }
    for (((id, ents), (_, want)) <- got.zip(viaSingle)) {
      if (want == null) assert(ents == null, s"row $id")
      else assert(ents.toSeq == want.toSeq, s"row $id")
    }
  }

  test("evalPartition with no model yields [] for every row, nulls included") {
    val rows = Seq[(Long, String)]((1L, "abc"), (2L, null))
    val tally = new Ner.Tally
    val got = Ner.evalPartition(None,
      rows.iterator.map { case (id, t) => (id, t, true) }, tally).toSeq
    assert(got.forall(_._2.isEmpty))
    assert((tally.rows, tally.nullRows, tally.noModelRows, tally.encoderCalls) ==
      (2L, 1L, 2L, 0L))
  }

  test("evalPartition enforces the truncate=false guard with the exact message") {
    val long = "a b c " * 200
    val rows = Seq[(Long, String)]((1L, long))
    val e = intercept[IllegalArgumentException] {
      Ner.evalPartition(Some(loaded),
        rows.iterator.map { case (id, t) => (id, t, false) }).toSeq
    }
    assert(e.getMessage ==
      "Input string exceeds model token limit and truncate=false")
  }

  test("batches split at the token budget, never mid-document") {
    // batches hold at most one context window (nMaxTokens) of tokens; a
    // long stream of long docs still evaluates (one doc per batch minimum)
    val many = (1 to 100).map(i => (i.toLong, texts(4)))
    val tally = new Ner.Tally
    val got = Ner.evalPartition(Some(loaded),
      many.iterator.map { case (id, t) => (id, t, true) }, tally).toSeq
    assert(got.size == 100 && got.forall(_._2 != null))
    val perDoc = toks(texts(4)).length
    assert(tally.rows == 100 && tally.tokens == 100L * perDoc)
    val perBatch = m.hparams.nMaxTokens / perDoc
    assert(tally.encoderCalls == (100 + perBatch - 1) / perBatch)
  }

  test("the truncate flag is read per row") {
    // over-limit documents allowed to truncate around a short one that is
    // not: every row evaluates, and only the long ones count as truncated
    val long = "a b c " * 200
    val tally = new Ner.Tally
    val got = Ner.evalPartition(Some(loaded),
      Iterator((1L, long, true), (2L, texts(0), false), (3L, long, true)),
      tally).toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L) && got.forall(_._2 != null))
    assert(tally.rows == 3 && tally.truncated == 2)
  }
}
