package graft.ner

/** Matmul and activation kernels behind a monomorphic dispatch: the SIMD
  * variant uses the Java 17 Vector API (`jdk.incubator.vector`, public JDK
  * API — the JVM analogue of ggml's hand-vectorized F32 kernels) when the
  * module is on the runtime (`--add-modules jdk.incubator.vector`, set in
  * build.sbt for all forked runs); otherwise the scalar versions. Chosen
  * once at class-init so the JIT devirtualizes the call sites.
  *
  * The kernels have one product, [[matmulT]], and it agrees bit for bit
  * between the scalar and SIMD kernels, as do [[gelu]] and [[softmaxRows]];
  * so logits do not depend on which kernel the JVM picked. Every linear
  * layer reaches [[matmulT]] through [[LinearWeight]], which first decodes
  * a panel of weight rows from its stored form (F32, F16 or Q4_0) exactly
  * into F32: an F16 or Q4_0 model's logits are those of the F32 encoder on
  * its decoded weights.
  */
private[graft] trait DotKernel {
  /** Outputs per weight panel of a linear layer ([[LinearWeight.apply]]):
    * the width of the SIMD kernel's register tile, so a full panel is one
    * tile wide. */
  def panel: Int

  /** A block of `rows` activation rows through a TRANSPOSED-weight linear:
    * y(yo + r*ldy + o) = b(bo + o) + sum_i x(xo + r*in + i) * wt(wo + i*ldw + o)
    * for r in [0, rows), o in [0, out) — activation rows are `in` apart,
    * output rows `ldy` apart; `ldw` is the leading dimension of the
    * [in x ldw] transposed panel, `wo` the panel offset (so attention can
    * read one head's K or V block inside a full activation matrix, and
    * write one head's columns of its output with `ldy` = the embedding
    * width). A null `b` means no bias. Every `rows`, one included, runs
    * through the same register tiles.
    *
    * The transposed layout turns the row-major dot (one horizontal
    * `reduceLanes` per OUTPUT — the dominant overhead at 64-wide layers)
    * into broadcast-FMA accumulation with no reduction at all; the row
    * block lets one weight-vector load feed every row of a register tile.
    *
    * A call may load a full vector of `wt` lanes past `out` when
    * they lie inside `wt`, and computes but never stores those lanes.
    *
    * Accumulation contract (every tile shape, every `rows`): each output
    * element is ONE fused multiply-add chain over ascending i, started at
    * its bias (or 0). So a `rows`-row call equals `rows` one-row calls bit
    * for bit, and the scalar and SIMD kernels agree bit for bit.
    */
  def matmulT(x: Array[Float], xo: Int, rows: Int, in: Int,
      wt: Array[Float], wo: Int, ldw: Int, out: Int, b: Array[Float], bo: Int,
      y: Array[Float], yo: Int, ldy: Int): Unit
  /** In-place ggml_gelu (tanh approximation in sigmoid form) over
    * x[0, len), computed in f32 like ggml's `ggml_gelu_f32`. Both kernels
    * evaluate exp through [[ExpF]] in the same per-element op order, so
    * scalar and SIMD outputs are bit-identical.
    */
  def gelu(x: Array[Float], len: Int): Unit
  /** In-place softmax of (x * scale) over each of `rows` rows of `len`
    * floats, `ld` apart from x(xo), in f32 (max-subtracted, like
    * `ggml_soft_max`): per row, x := x*scale, m := max, x := exp(x - m) /
    * sum. Both kernels sum each row in ascending-i order, so scalar and
    * SIMD outputs are bit-identical; a row holding a NaN comes out all NaN.
    */
  final def softmaxRows(x: Array[Float], xo: Int, rows: Int, len: Int,
      ld: Int, scale: Float): Unit = {
    // the sums of four rows run interleaved: four independent add chains
    // where one row's ascending sum is one latency chain
    var r = 0
    while (r < rows) {
      val rb = math.min(4, rows - r)
      var k = 0
      while (k < rb) { scaleExp(x, xo + (r + k) * ld, len, scale); k += 1 }
      // a short last block aliases its missing rows to its last row
      val o0 = xo + r * ld
      val o1 = o0 + math.min(1, rb - 1) * ld
      val o2 = o0 + math.min(2, rb - 1) * ld
      val o3 = o0 + math.min(3, rb - 1) * ld
      var s0, s1, s2, s3 = 0f
      var i = 0
      while (i < len) {
        s0 += x(o0 + i); s1 += x(o1 + i); s2 += x(o2 + i); s3 += x(o3 + i)
        i += 1
      }
      mulRow(x, o0, len, 1f / s0)
      if (rb > 1) mulRow(x, o1, len, 1f / s1)
      if (rb > 2) mulRow(x, o2, len, 1f / s2)
      if (rb > 3) mulRow(x, o3, len, 1f / s3)
      r += rb
    }
  }

  /** x[o, o + len) := x*scale, then exp(x - m) through [[ExpF]], m the
    * max of the scaled row (order-free: a NaN anywhere makes the row all
    * NaN whichever max it finds). */
  protected def scaleExp(x: Array[Float], o: Int, len: Int, scale: Float): Unit
  /** x[o, o + len) *= c. */
  protected def mulRow(x: Array[Float], o: Int, len: Int, c: Float): Unit

  /** Outputs [o0, out) of ONE activation row through [[matmulT]], each
    * one ascending-i fma chain from its bias: the scalar kernel's per-row
    * body, and the SIMD kernel's for the last columns when a full vector
    * of them would run past `wt`. */
  protected final def matmulTChains(x: Array[Float], xo: Int, in: Int,
      wt: Array[Float], wo: Int, ldw: Int, o0: Int, out: Int,
      b: Array[Float], bo: Int, y: Array[Float], yo: Int): Unit = {
    var o = o0
    while (o < out) {
      var acc = if (b != null) b(bo + o) else 0f
      var i = 0
      while (i < in) {
        acc = Math.fma(x(xo + i), wt(wo + i * ldw + o), acc); i += 1
      }
      y(yo + o) = acc
      o += 1
    }
  }
}

/** A linear layer's weight W `[out][in]`, row-major as stored (F32, raw
  * F16 halves or raw ggml Q4_0 blocks), and the product y = x W^T + b over
  * it. [[apply]] runs one panel of [[DotKernel.panel]] outputs at a time:
  * [[pack]] decodes the panel's weight rows into an `[in][panel]` F32
  * buffer, then ONE [[DotKernel.matmulT]] runs every activation row over
  * it. Each weight is thus decoded once per call, and the panel stays in
  * cache while the register tiles stream every row block over it (Goto &
  * van de Geijn's packing). The decode is exact for every form — a half
  * widens exactly, a Q4_0 weight d·(q−8) needs at most 15 significant
  * bits — so every output is the F32 ascending-i fma chain from its bias
  * over the decoded weights, whatever the form, kernel, row count or
  * thread that ran its panel. Weights stay in their stored form; nothing
  * is re-laid-out at load.
  */
private[graft] abstract class LinearWeight(val in: Int, val out: Int) {
  /** Rows [o0, o0 + pw) of W decoded to F32 into `dst` as an `[in][ldp]`
    * panel, dst(i*ldp + c) = W(o0 + c, i), written i-outer so each panel
    * row is one contiguous run. */
  def pack(o0: Int, pw: Int, dst: Array[Float], ldp: Int): Unit

  /** y(r*out + o) = b(o) + sum_i x(r*in + i) * W(o, i) for r in [0, n), a
    * null `b` meaning no bias. A narrow last panel is packed only as wide
    * as it is; the SIMD tile computes the lanes past it but never stores
    * them. The panels are the units of an [[EncoderPool.split]]: each
    * range packs into the running thread's workspace and writes only its
    * own columns of `y`. The call's wall time goes to the calling thread's
    * [[EncoderPool.Clock.Linear]]. */
  final def apply(kern: DotKernel, x: Array[Float], n: Int, b: Array[Float],
      y: Array[Float]): Unit = {
    val p = kern.panel
    val ws = EncoderPool.workspace
    val t0 = System.nanoTime()
    EncoderPool.split((out + p - 1) / p, n.toLong * in * out) { (lo, hi) =>
      val dst = EncoderPool.workspace.pack(in * p)
      val end = math.min(out, hi * p)
      var o0 = lo * p
      while (o0 < end) {
        val pw = math.min(p, out - o0)
        pack(o0, pw, dst, p)
        kern.matmulT(x, 0, n, in, dst, 0, p, pw, b, o0, y, o0, out)
        o0 += p
      }
    }
    ws.time(EncoderPool.Clock.Linear, t0)
  }
}

private[graft] object LinearWeight {
  /** Row-major F32: the pack is a transposing copy. */
  final class F32(w: Array[Float], in: Int, out: Int) extends LinearWeight(in, out) {
    def pack(o0: Int, pw: Int, dst: Array[Float], ldp: Int): Unit = {
      var i = 0
      while (i < in) {
        val d = i * ldp
        var c = 0
        while (c < pw) { dst(d + c) = w((o0 + c) * in + i); c += 1 }
        i += 1
      }
    }
  }

  /** Raw IEEE 754 binary16 bit patterns, widened through [[F16Lut]]
    * (exact, Inf and NaN included). */
  final class F16(raw: Array[Short], in: Int, out: Int) extends LinearWeight(in, out) {
    def pack(o0: Int, pw: Int, dst: Array[Float], ldp: Int): Unit = {
      val lut = F16Lut.table
      var i = 0
      while (i < in) {
        val d = i * ldp
        var c = 0
        while (c < pw) { dst(d + c) = lut(raw((o0 + c) * in + i) & 0xffff); c += 1 }
        i += 1
      }
    }
  }

  /** Raw ggml Q4_0 blocks with `in` a multiple of 32, so each row is whole
    * blocks: 18 bytes per 32 weights, an f16 scale d, then 16 bytes whose
    * low nibbles are weights 0-15 and high nibbles weights 16-31. A weight
    * decodes as (q - 8) * d, exactly as [[ModelFormat.dequantQ4]]. */
  final class Q4(raw: Array[Byte], in: Int, out: Int) extends LinearWeight(in, out) {
    def pack(o0: Int, pw: Int, dst: Array[Float], ldp: Int): Unit = {
      val lut = F16Lut.table
      val rowBytes = in / 32 * 18
      var i = 0
      while (i < in) {
        val d = i * ldp
        val blk = (i >>> 5) * 18
        val q = 2 + (i & 15)
        val shift = if ((i & 16) == 0) 0 else 4
        var c = 0
        while (c < pw) {
          val off = (o0 + c) * rowBytes + blk
          val scale = lut(((raw(off + 1) & 0xff) << 8) | (raw(off) & 0xff))
          dst(d + c) = (((raw(off + q) >>> shift) & 0xf) - 8) * scale
          c += 1
        }
        i += 1
      }
    }
  }
}

/** All 65536 half-precision values widened once (256 KB), shared by the
  * F16 and Q4_0 pack decodes: the per-weight decode becomes one indexed
  * load instead of the branchy [[ModelFormat.f16ToFloat]] bit walk. */
private[graft] object F16Lut {
  val table: Array[Float] = Array.tabulate(65536)(ModelFormat.f16ToFloat)
}

/** Deterministic f32 exp, Cephes-style (range reduction by log2(e),
  * degree-5 polynomial, exponent reassembly from integer bits). Exists
  * because `VectorOperators.EXP` is NOT reproducible: its interpreted Java
  * fallback (Math.exp per lane) and its jsvml-intrinsified compiled form
  * differ in last ulps, so results changed depending on when C2 compiled
  * the loop (caught by BertEncoderBatchSpec's bit-identity check). This
  * polynomial uses only IEEE-exact ops (fma/mul/add/floor/int bit moves),
  * evaluated in the same per-element order by the scalar and SIMD kernels
  * — bit-identical across kernels, JIT states, and machines. Accuracy is
  * ~1 ulp over the clamped domain, the expf class ggml itself uses.
  */
private[graft] object ExpF {
  val MinX = -87.33654f // exp underflows float below this
  // exp(88) = 1.65e38 stays finite AND its exponent (127) stays
  // representable through the integer bit reassembly — the float-max bound
  // 88.72283 would reassemble exponent 128 = Inf bits
  val MaxX = 88.0f
  val Log2e = 1.44269504088896341f
  // ln(2) split high/low so r = x - n*ln2 stays exact at f32
  val C1 = 0.693359375f
  val C2 = -2.12194440e-4f
  val P0 = 1.9875691500e-4f
  val P1 = 1.3981999507e-3f
  val P2 = 8.3334519073e-3f
  val P3 = 4.1665795894e-2f
  val P4 = 1.6666665459e-1f
  val P5 = 5.0000001201e-1f

  /** 1.5 * 2^23: adding then subtracting it rounds a float in (-2^22, 2^22)
    * to nearest-even, and the integer lands in the low mantissa bits of the
    * intermediate — so the exponent reassembly needs NO float<->int value
    * conversion, only bit views (the Vector API's convert() lowered to slow
    * per-lane fallbacks; reinterpretation is free).
    */
  val Magic = 12582912f
  val MagicBits = java.lang.Float.floatToRawIntBits(Magic)

  def expf(x0: Float): Float = {
    val x = math.max(MinX, math.min(MaxX, x0))
    val u = x * Log2e + Magic
    val nf = u - Magic
    val ni = java.lang.Float.floatToRawIntBits(u) - MagicBits
    var r = Math.fma(nf, -C1, x)
    r = Math.fma(nf, -C2, r)
    var y = P0
    y = Math.fma(y, r, P1)
    y = Math.fma(y, r, P2)
    y = Math.fma(y, r, P3)
    y = Math.fma(y, r, P4)
    y = Math.fma(y, r, P5)
    val z = Math.fma(y, r * r, r) + 1f
    z * java.lang.Float.intBitsToFloat((ni + 127) << 23)
  }
}

private[graft] object ScalarKernel extends DotKernel {
  // any width gives the same bits; 16 floats is one cache line per panel row
  override val panel: Int = 16

  // Math.fma matches the SIMD path's fused rounding (round-2 ADVICE: mixed
  // fused/unfused kernels gave environment-dependent last-ulp logits), and
  // every loop here runs in the order the SIMD kernel reproduces lane-wise,
  // so the two kernels agree bit for bit.
  override def matmulT(x: Array[Float], xo: Int, rows: Int, in: Int,
      wt: Array[Float], wo: Int, ldw: Int, out: Int, b: Array[Float], bo: Int,
      y: Array[Float], yo: Int, ldy: Int): Unit = {
    var r = 0
    while (r < rows) {
      matmulTChains(x, xo + r * in, in, wt, wo, ldw, 0, out, b, bo, y,
        yo + r * ldy)
      r += 1
    }
  }

  override def gelu(x: Array[Float], len: Int): Unit = {
    val c = (2.0 * 0.7978845608028654).toFloat
    var i = 0
    while (i < len) {
      val v = x(i)
      // same op sequence as the SIMD lanes: v3 = (v*v)*v, fused v3*g + v
      val y2 = c * Math.fma(v * v * v, 0.044715f, v)
      x(i) = v / (1f + ExpF.expf(-y2))
      i += 1
    }
  }

  protected def scaleExp(x: Array[Float], o: Int, len: Int, scale: Float): Unit = {
    var m = Float.NegativeInfinity
    var i = 0
    while (i < len) {
      val v = x(o + i) * scale; x(o + i) = v; if (v > m) m = v; i += 1
    }
    i = 0
    while (i < len) { x(o + i) = ExpF.expf(x(o + i) - m); i += 1 }
  }

  protected def mulRow(x: Array[Float], o: Int, len: Int, c: Float): Unit = {
    var i = 0
    while (i < len) { x(o + i) *= c; i += 1 }
  }
}

private[graft] object SimdKernel extends DotKernel {
  import jdk.incubator.vector.{FloatVector, VectorOperators}
  // read at every use, not cached in a field: a species read from an object
  // field is no JIT constant, and the tile's vector stores then failed to
  // intrinsify; the static final folds to one
  private def sp = FloatVector.SPECIES_PREFERRED
  override val panel: Int = 4 * sp.length

  // bias lanes at o, or zero when the product has no bias
  private def biasVec(b: Array[Float], o: Int): FloatVector =
    if (b != null) FloatVector.fromArray(sp, b, o) else FloatVector.zero(sp)

  override def matmulT(x: Array[Float], xo: Int, rows: Int, in: Int,
      wt: Array[Float], wo: Int, ldw: Int, out: Int, b: Array[Float], bo: Int,
      y: Array[Float], yo: Int, ldy: Int): Unit = {
    val vl = sp.length
    var o = 0
    while (o + 4 * vl <= out) {
      matmulT4x4(x, xo, rows, in, wt, wo + o, ldw, b, bo + o, y, yo + o, ldy)
      o += 4 * vl
    }
    while (o < out) {
      val lanes = math.min(vl, out - o)
      // a full vector of weight lanes must lie inside wt: always true for
      // a packed panel; otherwise the last columns run as one-row chains
      if (wo + o + (in - 1) * ldw + vl <= wt.length)
        matmulT4x1(x, xo, rows, in, wt, wo + o, ldw, lanes, b, bo + o, y,
          yo + o, ldy)
      else {
        var r = 0
        while (r < rows) {
          matmulTChains(x, xo + r * in, in, wt, wo, ldw, o, o + lanes, b, bo,
            y, yo + r * ldy)
          r += 1
        }
      }
      o += vl
    }
  }

  // 4 rows x 4 vectors over output columns [0, 4*vl) of wt/b/y (the caller
  // offsets them): per i, 4 weight-vector loads and 4 broadcasts feed 16
  // independent FMAs into 16 accumulators. Row blocks walk all `rows`; a
  // short last block aliases its missing rows to its last row (computed,
  // never stored). Each y element accumulates in ascending-i order.
  private def matmulT4x4(x: Array[Float], xo: Int, rows: Int, in: Int,
      wt: Array[Float], wo: Int, ldw: Int, b: Array[Float], bo: Int,
      y: Array[Float], yo: Int, ldy: Int): Unit = {
    val vl = sp.length
    var r = 0
    while (r < rows) {
      val rb = math.min(4, rows - r)
      val x0 = xo + r * in
      val x1 = x0 + math.min(1, rb - 1) * in
      val x2 = x0 + math.min(2, rb - 1) * in
      val x3 = x0 + math.min(3, rb - 1) * in
      // bias lanes loaded per row block: an accumulator started from a
      // vector that lives across the row loop stays boxed in the i loop
      // (measured 30x slower)
      val b0 = biasVec(b, bo)
      val b1 = biasVec(b, bo + vl)
      val b2 = biasVec(b, bo + 2 * vl)
      val b3 = biasVec(b, bo + 3 * vl)
      var a00 = b0; var a01 = b1; var a02 = b2; var a03 = b3
      var a10 = b0; var a11 = b1; var a12 = b2; var a13 = b3
      var a20 = b0; var a21 = b1; var a22 = b2; var a23 = b3
      var a30 = b0; var a31 = b1; var a32 = b2; var a33 = b3
      var i = 0
      while (i < in) {
        val w = wo + i * ldw
        val w0 = FloatVector.fromArray(sp, wt, w)
        val w1 = FloatVector.fromArray(sp, wt, w + vl)
        val w2 = FloatVector.fromArray(sp, wt, w + 2 * vl)
        val w3 = FloatVector.fromArray(sp, wt, w + 3 * vl)
        val xv0 = FloatVector.broadcast(sp, x(x0 + i))
        a00 = w0.fma(xv0, a00); a01 = w1.fma(xv0, a01)
        a02 = w2.fma(xv0, a02); a03 = w3.fma(xv0, a03)
        val xv1 = FloatVector.broadcast(sp, x(x1 + i))
        a10 = w0.fma(xv1, a10); a11 = w1.fma(xv1, a11)
        a12 = w2.fma(xv1, a12); a13 = w3.fma(xv1, a13)
        val xv2 = FloatVector.broadcast(sp, x(x2 + i))
        a20 = w0.fma(xv2, a20); a21 = w1.fma(xv2, a21)
        a22 = w2.fma(xv2, a22); a23 = w3.fma(xv2, a23)
        val xv3 = FloatVector.broadcast(sp, x(x3 + i))
        a30 = w0.fma(xv3, a30); a31 = w1.fma(xv3, a31)
        a32 = w2.fma(xv3, a32); a33 = w3.fma(xv3, a33)
        i += 1
      }
      val y0 = yo + r * ldy
      a00.intoArray(y, y0); a01.intoArray(y, y0 + vl)
      a02.intoArray(y, y0 + 2 * vl); a03.intoArray(y, y0 + 3 * vl)
      if (rb > 1) {
        val y1 = y0 + ldy
        a10.intoArray(y, y1); a11.intoArray(y, y1 + vl)
        a12.intoArray(y, y1 + 2 * vl); a13.intoArray(y, y1 + 3 * vl)
      }
      if (rb > 2) {
        val y2 = y0 + 2 * ldy
        a20.intoArray(y, y2); a21.intoArray(y, y2 + vl)
        a22.intoArray(y, y2 + 2 * vl); a23.intoArray(y, y2 + 3 * vl)
      }
      if (rb > 3) {
        val y3 = y0 + 3 * ldy
        a30.intoArray(y, y3); a31.intoArray(y, y3 + vl)
        a32.intoArray(y, y3 + 2 * vl); a33.intoArray(y, y3 + 3 * vl)
      }
      r += rb
    }
  }

  // 4 rows x 1 vector over output columns [0, lanes) of wt/b/y, lanes <=
  // vl: the columns past the last 4-vector tile (a narrow panel's, e.g.
  // the classifier's). Weight lanes past `lanes` read whatever wt holds
  // there (the caller checked they lie inside it) and are computed but
  // never stored: bias lanes load from a zero-padded copy and results go
  // out through a one-vector staging array. Row blocks as in matmulT4x4.
  private def matmulT4x1(x: Array[Float], xo: Int, rows: Int, in: Int,
      wt: Array[Float], wo: Int, ldw: Int, lanes: Int, b: Array[Float],
      bo: Int, y: Array[Float], yo: Int, ldy: Int): Unit = {
    val vl = sp.length
    val bp = new Array[Float](vl)
    if (b != null) System.arraycopy(b, bo, bp, 0, lanes)
    val t = new Array[Float](vl)
    var r = 0
    while (r < rows) {
      val rb = math.min(4, rows - r)
      val x0 = xo + r * in
      val x1 = x0 + math.min(1, rb - 1) * in
      val x2 = x0 + math.min(2, rb - 1) * in
      val x3 = x0 + math.min(3, rb - 1) * in
      val bv = FloatVector.fromArray(sp, bp, 0)
      var a0 = bv; var a1 = bv; var a2 = bv; var a3 = bv
      var i = 0
      while (i < in) {
        val w0 = FloatVector.fromArray(sp, wt, wo + i * ldw)
        a0 = w0.fma(FloatVector.broadcast(sp, x(x0 + i)), a0)
        a1 = w0.fma(FloatVector.broadcast(sp, x(x1 + i)), a1)
        a2 = w0.fma(FloatVector.broadcast(sp, x(x2 + i)), a2)
        a3 = w0.fma(FloatVector.broadcast(sp, x(x3 + i)), a3)
        i += 1
      }
      val y0 = yo + r * ldy
      a0.intoArray(t, 0); System.arraycopy(t, 0, y, y0, lanes)
      if (rb > 1) { a1.intoArray(t, 0); System.arraycopy(t, 0, y, y0 + ldy, lanes) }
      if (rb > 2) { a2.intoArray(t, 0); System.arraycopy(t, 0, y, y0 + 2 * ldy, lanes) }
      if (rb > 3) { a3.intoArray(t, 0); System.arraycopy(t, 0, y, y0 + 3 * ldy, lanes) }
      r += rb
    }
  }

  // vectorized ExpF.expf: the same fma/floor/bit-reassembly sequence per
  // lane, so every element matches the scalar kernel bit-for-bit no matter
  // how it was batched into vectors (and no matter what the JIT did). The
  // constants are broadcast here, not kept in vector fields: an object's
  // field is no JIT constant, and re-loading each one made the exp 1.25x
  // slower
  private def vexp(x0: FloatVector): FloatVector = {
    def c(v: Float) = FloatVector.broadcast(sp, v)
    val x = x0.max(ExpF.MinX).min(ExpF.MaxX)
    // magic-number round-to-nearest: u's low mantissa bits ARE the integer
    // n, so the 2^n reassembly is all bit views — no per-lane converts
    val u = x.mul(ExpF.Log2e).add(ExpF.Magic)
    val nf = u.sub(ExpF.Magic)
    var r = nf.fma(c(-ExpF.C1), x)
    r = nf.fma(c(-ExpF.C2), r)
    var y = c(ExpF.P0)
    y = y.fma(r, c(ExpF.P1))
    y = y.fma(r, c(ExpF.P2))
    y = y.fma(r, c(ExpF.P3))
    y = y.fma(r, c(ExpF.P4))
    y = y.fma(r, c(ExpF.P5))
    val z = y.fma(r.mul(r), r).add(1f)
    val pow2 = u.reinterpretAsInts().sub(ExpF.MagicBits).add(127)
      .lanewise(VectorOperators.LSHL, 23)
      .viewAsFloatingLanes().asInstanceOf[FloatVector]
    z.mul(pow2)
  }

  override def gelu(x: Array[Float], len: Int): Unit = {
    val c = (2.0 * 0.7978845608028654).toFloat
    val cv = FloatVector.broadcast(sp, c)
    val gv = FloatVector.broadcast(sp, 0.044715f)
    val upper = sp.loopBound(len)
    var i = 0
    while (i < upper) {
      val v = FloatVector.fromArray(sp, x, i)
      val y2 = v.mul(v).mul(v).fma(gv, v).mul(cv)
      val e = vexp(y2.neg())
      v.div(e.add(1f)).intoArray(x, i)
      i += sp.length
    }
    while (i < len) {
      val v = x(i)
      val y2 = c * Math.fma(v * v * v, 0.044715f, v)
      x(i) = v / (1f + ExpF.expf(-y2))
      i += 1
    }
  }

  // scale, max and exp in vectors; the scalar kernel's loops on the tail
  protected def scaleExp(x: Array[Float], o: Int, len: Int, scale: Float): Unit = {
    val vl = sp.length
    val upper = sp.loopBound(len)
    val sv = FloatVector.broadcast(sp, scale)
    var mv = FloatVector.broadcast(sp, Float.NegativeInfinity)
    var i = 0
    while (i < upper) {
      val v = FloatVector.fromArray(sp, x, o + i).mul(sv)
      v.intoArray(x, o + i); mv = mv.max(v); i += vl
    }
    var m = mv.reduceLanes(VectorOperators.MAX)
    while (i < len) {
      val v = x(o + i) * scale; x(o + i) = v; if (v > m) m = v; i += 1
    }
    val mb = FloatVector.broadcast(sp, m)
    i = 0
    while (i < upper) {
      vexp(FloatVector.fromArray(sp, x, o + i).sub(mb)).intoArray(x, o + i)
      i += vl
    }
    while (i < len) { x(o + i) = ExpF.expf(x(o + i) - m); i += 1 }
  }

  protected def mulRow(x: Array[Float], o: Int, len: Int, c: Float): Unit = {
    val upper = sp.loopBound(len)
    val cv = FloatVector.broadcast(sp, c)
    var i = 0
    while (i < upper) {
      FloatVector.fromArray(sp, x, o + i).mul(cv).intoArray(x, o + i)
      i += sp.length
    }
    while (i < len) { x(o + i) *= c; i += 1 }
  }
}

private[graft] object Kernels {
  /** SIMD when the incubator module is present on this runtime. */
  val best: DotKernel =
    try {
      Class.forName("jdk.incubator.vector.FloatVector")
      SimdKernel
    } catch {
      case _: Throwable => ScalarKernel
    }

  /** Every available kernel (profiling/parity checks). */
  def all: Seq[DotKernel] =
    if (best eq ScalarKernel) Seq(ScalarKernel) else Seq(ScalarKernel, SimdKernel)
}
