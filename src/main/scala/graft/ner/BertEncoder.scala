package graft.ner

/** Plain-Scala BERT token-classification forward pass over float arrays,
  * computing the same network as the reference's ggml graph
  * (reference: `src/ner_model.cpp:315-425`):
  *
  * embeddings (word + token_type[0] + position) -> LayerNorm -> N x
  * { self-attention (Q,K,V; scores / sqrt(d_head); softmax; out-proj) +
  *   residual + LayerNorm; FFN (GELU intermediate, output) + residual +
  *   LayerNorm } -> linear classifier -> logits [nTokens x nLabels].
  *
  * Bitwise equality with ggml's F16 kernels is explicitly out of scope
  * (SURVEY.md §7 risk 5); the computation graph, constants (LayerNorm eps
  * 1e-5, tanh-approximated GELU as in `ggml_gelu`) and weight orientation
  * (HF `[out,in]` row-major linears: y = Wx + b) match.
  *
  * Weights are bound in their stored form at construction; one encoder
  * instance is built per loaded model per executor and reused across rows
  * (mirrors the reference's per-chunk buffer reuse, `ner_extension.cpp:92-95`).
  */
final class BertEncoder(model: NerModel) {
  import model.{hparams => hp}

  private val nEmbd = hp.nEmbd
  private val nHead = hp.nHead
  private val dHead = nEmbd / nHead
  private val nInter = hp.nIntermediate
  private val nLabels = hp.nLabels

  /** F32 values of table entry `t`. A present tensor must have the table's
    * shape ([[ModelFormat.load]] rejects a container where it does not; a
    * model built in memory fails here). An absent one keeps ggml's
    * zero-init-arena semantics (an optional tensor simply contributes
    * nothing), but says so once per build so a truncated model can't pass
    * unnoticed.
    */
  private def req(t: BertTensor): Array[Float] =
    model.tensors.get(t.name) match {
      case Some(w) =>
        require(t.fits(w.dims), s"tensor ${t.name}: dims " +
          w.dims.mkString("[", ",", "]") + ", table " + t.dims.mkString("[", ",", "]"))
        w.data
      case None =>
        System.err.println(
          s"[graft.ner] warning: tensor ${t.name} absent — zero-filled (${t.numel} floats)")
        new Array[Float](t.numel)
    }

  /** A linear table entry in its stored form ([[LinearWeight]]): raw F16
    * halves, raw Q4_0 blocks when each row is whole blocks, else the F32
    * data — never a widened or transposed copy (the reference's own
    * treatment of non-F32 weights, `src/ner_model.cpp:194`).
    */
  private def reqLin(t: BertTensor): LinearWeight = {
    val Array(in, out) = t.dims
    model.tensors.get(t.name) match {
      case Some(w) if w.isQ4 && in % 32 == 0 && t.fits(w.dims) =>
        new LinearWeight.Q4(w.q4, in, out)
      case Some(w) if w.isF16 && t.fits(w.dims) =>
        new LinearWeight.F16(w.f16raw, in, out)
      case _ => new LinearWeight.F32(req(t), in, out)
    }
  }

  /** A LayerNorm weight or bias widened once to the f64 [[addNorm]]
    * applies it in (exact): widening it per element made the normalize
    * loop 4x slower. */
  private def reqD(t: BertTensor): Array[Double] = req(t).map(_.toDouble)

  import BertTensors._
  private val wordEmb = req(WordEmb.at(hp))
  private val typeEmb = req(TypeEmb.at(hp))
  private val posEmb = req(PosEmb.at(hp))
  private val lnEw = reqD(EmbLnW.at(hp))
  private val lnEb = reqD(EmbLnB.at(hp))
  private val clsW = reqLin(ClsW.at(hp))
  private val clsB = req(ClsB.at(hp))

  // plain class, not case class: it's a weight holder — the synthesized
  // case-class equals on a nested class also trips the unchecked
  // outer-reference warning
  private final class Layer(i: Int) {
    private def lin(s: Spec) = reqLin(s.at(hp, i))
    private def vec(s: Spec) = req(s.at(hp, i))
    private def ln(s: Spec) = reqD(s.at(hp, i))
    val qw = lin(QueryW); val qb = vec(QueryB)
    val kw = lin(KeyW); val kb = vec(KeyB)
    val vw = lin(ValueW); val vb = vec(ValueB)
    val ow = lin(AttOutW); val ob = vec(AttOutB)
    val lnAw = ln(AttLnW); val lnAb = ln(AttLnB)
    val fiW = lin(InterW); val fiB = vec(InterB)
    val foW = lin(OutW); val foB = vec(OutB)
    val lnOw = ln(OutLnW); val lnOb = ln(OutLnB)
  }

  private val layers: Array[Layer] = Array.tabulate(hp.nLayer)(new Layer(_))

  /** x += r (no add when `r` is null), then LayerNorm per row in place,
    * ggml_norm semantics (eps 1e-5) then scale+shift; timed as a norm stage
    * on `ws`'s clock. */
  private def addNorm(x: Array[Float], r: Array[Float], n: Int,
      w: Array[Double], b: Array[Double], ws: EncoderPool.Workspace): Unit = {
    val t0 = System.nanoTime()
    val d = nEmbd
    var i = 0
    if (r != null) while (i < n * d) { x(i) += r(i); i += 1 }
    val eps = 1e-5
    var row = 0
    while (row < n) {
      val off = row * d
      var mean = 0.0
      i = 0
      while (i < d) { mean += x(off + i); i += 1 }
      mean /= d
      var variance = 0.0
      i = 0
      while (i < d) { val v = x(off + i) - mean; variance += v * v; i += 1 }
      variance /= d
      val inv = 1.0 / math.sqrt(variance + eps)
      i = 0
      while (i < d) {
        x(off + i) = (((x(off + i) - mean) * inv) * w(i) + b(i)).toFloat
        i += 1
      }
      row += 1
    }
    ws.time(EncoderPool.Clock.Norm, t0)
  }

  /** Per-thread scratch, sized for a token-count capacity and grown on
    * demand (power-of-two) — the reference's per-chunk buffer reuse
    * (`ner_extension.cpp:92-95`) adapted to shared-encoder / many-task
    * execution (ThreadLocal because one Loaded encoder is shared by every
    * task in the executor JVM). Starts at one document (nMaxTokens) and
    * grows to the batch budget the first time [[evalBatch]] sees one.
    *
    * Retention note: each thread that calls the encoder holds one Scratch
    * per live encoder, and a replaced encoder's scratch lingers until the
    * encoder itself is GC'd (the ThreadLocal is a field of this encoder, so
    * it is unreachable as soon as the encoder is). The pack panel and the
    * attention scores block are not here: every thread that runs a split
    * unit, caller or [[EncoderPool]] helper, takes them from its own
    * [[EncoderPool.Workspace]], shared by every encoder.
    */
  private final class Scratch {
    var cap = 0
    var h, q, k, v, kt, att, t1, inter: Array[Float] = null
    def ensure(nTokens: Int): Unit = if (nTokens > cap) {
      cap = Integer.highestOneBit(math.max(nTokens, hp.nMaxTokens) * 2 - 1)
      h = new Array[Float](cap * nEmbd)
      q = new Array[Float](cap * nEmbd)
      k = new Array[Float](cap * nEmbd)
      v = new Array[Float](cap * nEmbd)
      kt = new Array[Float](cap * nEmbd)
      att = new Array[Float](cap * nEmbd)
      t1 = new Array[Float](cap * nEmbd)
      inter = new Array[Float](cap * nInter)
    }
  }

  // one block of query rows' scores: a document never exceeds the token cap
  private val scoresLen = BertEncoder.QBlock * hp.nMaxTokens

  private val scratch: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)

  /** Run the encoder on one document; returns logits flattened token-major:
    * logit(t, l) = result(t * nLabels + l), same layout the reference
    * memcpy's out (`src/ner_model.cpp:423`).
    */
  def eval(tokens: Array[Int]): Array[Float] = evalBatch(Array(tokens))(0)

  /** Batched forward pass over a partition's worth of documents: all rows
    * are packed into ONE [sumTokens x nEmbd] activation matrix, so every
    * linear (QKV, attention out, both FFN matmuls, classifier) streams each
    * weight panel through cache once per BATCH instead of once per document
    * — the reference's per-chunk buffer reuse (`ner_extension.cpp:92-95`)
    * taken to its batched conclusion. Self-attention is block-diagonal: the
    * score/softmax/AV loops run per document segment, so results are
    * bit-identical to per-document [[eval]] (no cross-document attention,
    * no padding — ragged rows are simply concatenated).
    */
  def evalBatch(docs: Array[Array[Int]]): Array[Array[Float]] =
    if (docs.isEmpty) Array.empty else EncoderPool.withSlot(forward(docs))

  /** [[evalBatch]] of a non-empty batch. Each linear splits its weight
    * panels, and each layer's attention its (document, head) units, over
    * the task slots no other task is using ([[EncoderPool.split]]); every
    * unit computes the same bits on any thread, so no split width changes
    * a logit. */
  private def forward(docs: Array[Array[Int]]): Array[Array[Float]] = {
    val nDocs = docs.length
    val offs = new Array[Int](nDocs + 1)
    var di = 0
    while (di < nDocs) { offs(di + 1) = offs(di) + docs(di).length; di += 1 }
    val n = offs(nDocs)
    val ws = EncoderPool.workspace
    val kern = Kernels.best
    val s = scratch.get()
    s.ensure(n)
    val h = s.h
    var t0 = System.nanoTime()
    di = 0
    while (di < nDocs) {
      val tokens = docs(di)
      val base = offs(di)
      var t = 0
      while (t < tokens.length) {
        val tok = if (tokens(t) >= 0 && tokens(t) < hp.nVocab) tokens(t) else 0
        val wOff = tok * nEmbd
        // position embedding indexes within the DOCUMENT, not the batch
        val pOff = math.min(t, hp.nMaxTokens - 1) * nEmbd
        val hOff = (base + t) * nEmbd
        var i = 0
        while (i < nEmbd) {
          h(hOff + i) = wordEmb(wOff + i) + typeEmb(i) + posEmb(pOff + i)
          i += 1
        }
        t += 1
      }
      di += 1
    }
    ws.time(EncoderPool.Clock.Norm, t0)
    addNorm(h, null, n, lnEw, lnEb, ws)

    val scale = (1.0 / math.sqrt(dHead.toDouble)).toFloat
    // a layer's attention multiply-adds: scores and softmax.V, all heads
    val attMacs = docs.map(d => 2L * d.length * d.length * nEmbd).sum
    val (q, k, v, att, attOut, inter) = (s.q, s.k, s.v, s.att, s.t1, s.inter)
    var li = 0
    while (li < layers.length) {
      val L = layers(li)
      L.qw(kern, h, n, L.qb, q)
      L.kw(kern, h, n, L.kb, k)
      L.vw(kern, h, n, L.vb, v)

      t0 = System.nanoTime()
      // repack K token-major -> embd-major ([embd][token]): the score pass
      // then reads one head's K block as a [dHead x n] unit-stride panel (a
      // matmulT with ldw = n — broadcast-FMA, no reductions). V needs no
      // repack: token-major V already IS the [n x dHead] panel (ldw = nEmbd)
      // the softmax.V matmulT reads. Q goes head-major ([head][token][dHead],
      // into t1, free until the out-projection): a block of one head's query
      // rows is then one contiguous [rows x dHead] operand. The repacks are
      // O(n*embd) — noise against the O(n^2*dHead) attention math.
      val kt = s.kt
      val qh = s.t1
      var tt = 0
      while (tt < n) {
        val ko = tt * nEmbd
        var e = 0
        while (e < nEmbd) { kt(e * n + tt) = k(ko + e); e += 1 }
        var hd = 0
        while (hd < nEmbd) {
          System.arraycopy(q, ko + hd, qh, hd * n + tt * dHead, dHead); hd += dHead
        }
        tt += 1
      }
      // one unit per (document, head), document-major; each writes only
      // its head's columns of its document's rows of att
      EncoderPool.split(nDocs * nHead, attMacs) { (lo, hi) =>
        val scores = EncoderPool.workspace.scores(scoresLen)
        var u = lo
        while (u < hi) {
          val base = offs(u / nHead)
          val segN = offs(u / nHead + 1) - base
          val hOff = (u % nHead) * dHead
          var q0 = 0
          while (q0 < segN) {
            val rows = math.min(BertEncoder.QBlock, segN - q0)
            // scores [rows x segN] = Q . K^T as ONE matmulT over the head's
            // transposed K panel, one block softmax (ggml_soft_max
            // semantics), then att rows = P . V as ONE matmulT over the
            // head's token-major V block, straight into att's head columns
            kern.matmulT(qh, hOff * n + (base + q0) * dHead, rows, dHead, kt,
              hOff * n + base, n, segN, null, 0, scores, 0, segN)
            kern.softmaxRows(scores, 0, rows, segN, segN, scale)
            kern.matmulT(scores, 0, rows, segN, v, base * nEmbd + hOff, nEmbd,
              dHead, null, 0, att, (base + q0) * nEmbd + hOff, nEmbd)
            q0 += rows
          }
          u += 1
        }
      }
      ws.time(EncoderPool.Clock.Attention, t0)

      L.ow(kern, att, n, L.ob, attOut)
      addNorm(attOut, h, n, L.lnAw, L.lnAb, ws)

      L.fiW(kern, attOut, n, L.fiB, inter)
      t0 = System.nanoTime()
      kern.gelu(inter, n * nInter)
      ws.time(EncoderPool.Clock.Norm, t0)
      // FFN output overwrites h (not read again this layer), then residual
      L.foW(kern, inter, n, L.foB, h)
      addNorm(h, attOut, n, L.lnOw, L.lnOb, ws)

      li += 1
    }

    val logits = new Array[Float](n * nLabels)
    clsW(kern, h, n, clsB, logits)
    t0 = System.nanoTime()
    val out = Array.tabulate(nDocs) { d =>
      java.util.Arrays.copyOfRange(logits, offs(d) * nLabels,
        offs(d + 1) * nLabels)
    }
    ws.time(EncoderPool.Clock.Norm, t0)
    out
  }
}

object BertEncoder {
  /** Query rows per attention block: a block's scores (`QBlock` rows of at
    * most the token cap, 32 KB on a 128-token model) stay in L2 between
    * the scores product, the softmax and the P.V product. */
  private[ner] val QBlock = 64
}

/** One tensor of a model's directory ([[BertTensors]]): its full name, its
  * stored dims (innermost first, as ggml stores them) and whether
  * [[BertEncoder]] evaluates it as a linear `y = W x + b`, whose dims are
  * `(in, out)` over a row-major `[out][in]` weight.
  */
final case class BertTensor(name: String, dims: Array[Int], linear: Boolean) {
  /** Element count. [[ModelFormat]]'s hparams bounds keep every table
    * shape within Int range. */
  def numel: Int = dims.product

  /** Whether stored `dims` have this shape, compared as ggml compares
    * shapes: a missing trailing dim counts as 1. */
  def fits(stored: Array[Int]): Boolean =
    (0 until math.max(dims.length, stored.length))
      .forall(k => dims.lift(k).getOrElse(1) == stored.lift(k).getOrElse(1))
}

/** The tensor directory of the BERT token classifier [[BertEncoder]]
  * evaluates — the one list of tensor names, stored dims and linear roles,
  * the analogue of the name map the reference builds before it reads a
  * model (`src/ner_model.cpp:200-273`). [[ModelFormat.load]] keeps exactly
  * these tensors and rejects a container whose copy of one has other dims;
  * the encoder binds its weights through them; [[SyntheticModel]] generates
  * them; the `ggml` source's `linear` column reads them.
  */
object BertTensors {

  /** One table row: `name` (for a per-layer tensor, the part after
    * `encoder.layer.<i>.`), whether it is a linear, and its dims, innermost
    * first, as functions of the hparams. */
  final class Spec private (val name: String, val linear: Boolean,
      dims: Seq[NerHparams => Int]) {
    /** This row in a model with hparams `hp`: a per-layer row in layer
      * `layer`, a top-level row with the default -1. */
    def at(hp: NerHparams, layer: Int = -1): BertTensor =
      BertTensor(if (layer < 0) name else s"$LayerPrefix$layer.$name",
        dims.map(_(hp)).toArray, linear)
  }
  private object Spec {
    def apply(name: String)(dims: (NerHparams => Int)*): Spec = new Spec(name, false, dims)
    def lin(name: String)(in: NerHparams => Int, out: NerHparams => Int): Spec =
      new Spec(name, true, Seq(in, out))
  }
  import Spec.lin

  val WordEmb = Spec("embeddings.word_embeddings.weight")(_.nEmbd, _.nVocab)
  val TypeEmb = Spec("embeddings.token_type_embeddings.weight")(_.nEmbd, _ => 2)
  val PosEmb = Spec("embeddings.position_embeddings.weight")(_.nEmbd, _.nMaxTokens)
  val EmbLnW = Spec("embeddings.LayerNorm.weight")(_.nEmbd)
  val EmbLnB = Spec("embeddings.LayerNorm.bias")(_.nEmbd)
  val ClsW = lin("classifier.weight")(_.nEmbd, _.nLabels)
  val ClsB = Spec("classifier.bias")(_.nLabels)

  val QueryW = lin("attention.self.query.weight")(_.nEmbd, _.nEmbd)
  val QueryB = Spec("attention.self.query.bias")(_.nEmbd)
  val KeyW = lin("attention.self.key.weight")(_.nEmbd, _.nEmbd)
  val KeyB = Spec("attention.self.key.bias")(_.nEmbd)
  val ValueW = lin("attention.self.value.weight")(_.nEmbd, _.nEmbd)
  val ValueB = Spec("attention.self.value.bias")(_.nEmbd)
  val AttOutW = lin("attention.output.dense.weight")(_.nEmbd, _.nEmbd)
  val AttOutB = Spec("attention.output.dense.bias")(_.nEmbd)
  val AttLnW = Spec("attention.output.LayerNorm.weight")(_.nEmbd)
  val AttLnB = Spec("attention.output.LayerNorm.bias")(_.nEmbd)
  val InterW = lin("intermediate.dense.weight")(_.nEmbd, _.nIntermediate)
  val InterB = Spec("intermediate.dense.bias")(_.nIntermediate)
  val OutW = lin("output.dense.weight")(_.nIntermediate, _.nEmbd)
  val OutB = Spec("output.dense.bias")(_.nEmbd)
  val OutLnW = Spec("output.LayerNorm.weight")(_.nEmbd)
  val OutLnB = Spec("output.LayerNorm.bias")(_.nEmbd)

  private val Top = Seq(WordEmb, TypeEmb, PosEmb, EmbLnW, EmbLnB, ClsW, ClsB)
  private val PerLayer = Seq(QueryW, QueryB, KeyW, KeyB, ValueW, ValueB,
    AttOutW, AttOutB, AttLnW, AttLnB, InterW, InterB, OutW, OutB, OutLnW, OutLnB)
  private val LayerPrefix = "encoder.layer."

  /** Every tensor of a model with hparams `hp`. */
  def all(hp: NerHparams): Seq[BertTensor] =
    Top.map(_.at(hp)) ++
      (0 until hp.nLayer).flatMap(i => PerLayer.map(_.at(hp, i)))

  /** The row and layer `name` denotes in a model of `nLayer` layers; the
    * layer index must be written canonically (`encoder.layer.1.`, not
    * `encoder.layer.01.`). */
  private def rowOf(name: String, nLayer: Int): Option[(Spec, Int)] =
    if (!name.startsWith(LayerPrefix)) Top.find(_.name == name).map(_ -> -1)
    else {
      val rest = name.substring(LayerPrefix.length)
      val dot = rest.indexOf('.')
      val digits = rest.take(dot)
      digits.toIntOption.filter(i => i >= 0 && i < nLayer && i.toString == digits)
        .flatMap(i => PerLayer.find(_.name == rest.substring(dot + 1)).map(_ -> i))
    }

  /** The table entry named `name` in a model with hparams `hp`, if any. */
  def find(name: String, hp: NerHparams): Option[BertTensor] =
    rowOf(name, hp.nLayer).map { case (s, i) => s.at(hp, i) }

  /** Whether `name` is a linear weight of a model with enough layers to
    * hold it — the answer for any tensor a loaded model kept. */
  def isLinear(name: String): Boolean =
    rowOf(name, Int.MaxValue).exists(_._1.linear)
}
