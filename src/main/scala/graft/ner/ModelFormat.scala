package graft.ner

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, FileInputStream, FileOutputStream, InputStream, OutputStream}
import java.nio.charset.StandardCharsets

/** Hyperparameters of the NER BERT model, in on-disk order.
  *
  * Mirrors the reference header layout (reference: `src/ner_model.cpp:18-27`
  * for defaults, `:170-178` for read order — note `f16` is stored *before*
  * `n_labels`, matching the writer `scripts/convert_ner_to_ggml.py:38-46`).
  */
final case class NerHparams(
    nVocab: Int,
    nMaxTokens: Int,
    nEmbd: Int,
    nIntermediate: Int,
    nHead: Int,
    nLayer: Int,
    f16: Int,
    nLabels: Int
)

/** A tensor as read from the model file. `dims` are as written
  * (innermost-first, i.e. `dims(0)` is the row length for 2-D weights).
  *
  * F32 tensors carry row-major F32 `data`. F16 tensors carry their RAW
  * half-precision shorts in [[f16raw]] (round-8 VERDICT #4 — previously
  * widened at load) and Q4_0 tensors their RAW ggml blocks in [[q4]]; both
  * decode lazily. The encoder's linear layers consume the raw forms
  * directly ([[DotKernel.matmulF16]] / [[DotKernel.matmulQ4]] — the
  * reference evaluates F16 and quantized weights in ggml the same way,
  * `src/ner_model.cpp:194`), so a compact linear weight never materializes
  * its 2x/8x-larger F32 form unless some non-matmul consumer (embedding
  * lookup, LayerNorm) asks.
  */
final case class NerTensor(dims: Array[Int], private val f32: Array[Float],
    q4: Array[Byte] = null, f16raw: Array[Short] = null) {
  def numel: Long = dims.foldLeft(1L)(_ * _.toLong)
  def isQ4: Boolean = q4 != null
  def isF16: Boolean = f16raw != null
  @volatile @transient private var dq: Array[Float] = f32
  /** F32 view — eager for F32 tensors, lazily decoded (then cached) for
    * F16/Q4_0. `dq` is transient, so after Java serialization it recomputes
    * from whichever serialized form is present — including plain [[f32]]
    * (round-8 ADVICE: an F32 tensor round-tripped through a closure used to
    * NPE here by assuming the missing cache implied Q4 blocks). */
  def data: Array[Float] = {
    var a = dq
    if (a == null) {
      a = if (q4 != null) ModelFormat.dequantQ4(q4, numel.toInt)
      else if (f16raw != null) ModelFormat.widenF16(f16raw)
      else f32
      dq = a
    }
    a
  }
}

/** WordPiece vocabulary split exactly as the reference loader splits it
  * (reference: `src/ner_model.cpp:180-192`): tokens starting with `##` and
  * longer than 2 chars go into the subword map *keyed without the prefix*;
  * everything else goes into the main map. `idToToken` returns the original
  * spelling (subwords keep their `##`), used for entity assembly
  * (reference: `src/ner_model.cpp:443-453`).
  *
  * Map keys are ISO-8859-1 decodings of the raw vocab bytes so that matching
  * is byte-wise, exactly like the C++ `std::string` comparison; `idToToken`
  * values are UTF-8 decodings for display/output.
  */
final case class NerVocab(
    main: Map[String, Int],
    sub: Map[String, Int],
    idToToken: Map[Int, String]
) {
  def tokenOf(id: Int): String = idToToken.getOrElse(id, "[UNK]")
}

/** A fully loaded model: hparams + vocab + named weight tensors. */
final case class NerModel(
    hparams: NerHparams,
    vocab: NerVocab,
    tensors: Map[String, NerTensor]
)

/** Reader for the reference's little-endian GGML-style model file
  * (format defined by writer `scripts/convert_ner_to_ggml.py:37-89` and
  * reader `src/ner_model.cpp:162-290` in the reference):
  *
  * {{{
  * int32 magic = 0x67676d6c
  * int32 n_vocab n_max_tokens n_embd n_intermediate n_head n_layer f16 n_labels
  * n_vocab * { int32 len; byte[len] token }          // id = position
  * until EOF  { int32 n_dims, name_len, ftype;
  *              int32 dims[n_dims];                  // innermost first
  *              byte[name_len] name; raw data }
  * }}}
  *
  * Any malformed input (bad magic — including the reference's own bundled
  * placeholder whose magic bytes are byte-swapped, `default_model.hpp:7-16` —
  * truncation, absurd sizes) yields `None`: the "no model" state, in which the
  * engine silently returns empty entity lists.
  */
object ModelFormat {
  val Magic = 0x67676d6c

  /** The tensor names the encoder consumes — the analogue of the name map the
    * reference pre-builds and checks before reading each tensor
    * (`src/ner_model.cpp:200-273`). Anything else is skipped, not stored.
    */
  private def isKnownTensor(name: String, hp: NerHparams): Boolean =
    name match {
      case "embeddings.word_embeddings.weight" |
          "embeddings.token_type_embeddings.weight" |
          "embeddings.position_embeddings.weight" |
          "embeddings.LayerNorm.weight" | "embeddings.LayerNorm.bias" |
          "classifier.weight" | "classifier.bias" => true
      case n if n.startsWith("encoder.layer.") =>
        val rest = n.substring("encoder.layer.".length)
        val dot = rest.indexOf('.')
        dot > 0 && rest.take(dot).forall(_.isDigit) &&
          rest.take(dot).toIntOption.exists(i => i >= 0 && i < hp.nLayer) &&
          LayerSuffixes.contains(rest.substring(dot + 1))
      case _ => false
    }

  private val LayerSuffixes: Set[String] = Set(
    "attention.self.query.weight", "attention.self.query.bias",
    "attention.self.key.weight", "attention.self.key.bias",
    "attention.self.value.weight", "attention.self.value.bias",
    "attention.output.dense.weight", "attention.output.dense.bias",
    "attention.output.LayerNorm.weight", "attention.output.LayerNorm.bias",
    "intermediate.dense.weight", "intermediate.dense.bias",
    "output.dense.weight", "output.dense.bias",
    "output.LayerNorm.weight", "output.LayerNorm.bias")

  /** Little-endian wrapper over DataInputStream. `pos` counts every byte
    * consumed — [[walk]] reports each record's payload offset from it.
    */
  private final class LeReader(in: DataInputStream) {
    var pos: Long = 0L
    def readIntLE(): Int = {
      pos += 4; Integer.reverseBytes(in.readInt())
    }
    def readBytes(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      in.readFully(buf)
      pos += n
      buf
    }
    def skip(n: Long): Unit = {
      var left = n
      while (left > 0) {
        val s = in.skip(left)
        if (s <= 0) { in.readByte(); left -= 1 } // readByte throws EOF at end
        else left -= s
      }
      pos += n
    }
    /** Peek-free EOF probe used for the tensor loop: returns None at clean EOF. */
    def tryReadIntLE(): Option[Int] = {
      val b0 = in.read()
      if (b0 < 0) None
      else {
        val b1 = in.read(); val b2 = in.read(); val b3 = in.read()
        if (b3 < 0) throw new EOFException()
        pos += 4
        Some((b3 << 24) | (b2 << 16) | (b1 << 8) | b0)
      }
    }
  }

  /** Defensive bounds absent from the reference: a corrupt header would
    * otherwise drive huge allocations. The product guards also keep every
    * weight-matrix element count within Int range, so downstream Int size
    * arithmetic (BertEncoder) cannot overflow. Checked by [[walk]], so
    * "scannable" and "loadable" agree on the header.
    */
  private def validHparams(hp: NerHparams): Boolean = {
    def fits(n: Long): Boolean = n > 0 && n <= Int.MaxValue / 4
    !(hp.nVocab <= 0 || hp.nVocab > (1 << 22) || hp.nEmbd <= 0 ||
      hp.nEmbd > (1 << 16) || hp.nMaxTokens <= 0 ||
      hp.nMaxTokens > (1 << 16) || hp.nLayer < 0 ||
      hp.nLayer > 1024 || hp.nLabels <= 0 || hp.nLabels > (1 << 16) ||
      hp.nHead <= 0 || hp.nIntermediate <= 0 ||
      hp.nIntermediate > (1 << 20) ||
      !fits(hp.nVocab.toLong * hp.nEmbd) ||
      !fits(hp.nMaxTokens.toLong * hp.nEmbd) ||
      !fits(hp.nEmbd.toLong * hp.nEmbd) ||
      !fits(hp.nEmbd.toLong * hp.nIntermediate) ||
      !fits(hp.nLabels.toLong * hp.nEmbd))
  }

  /** Overflow-safe tensor element count: product of `dims`, or -1 once it
    * exceeds `Int.MaxValue / 4`. Each dim is individually bounded at 2^26,
    * but four of them multiply to up to 2^104 — a plain Long fold can wrap
    * to a small positive value that bypasses the size guard and mis-sizes
    * the payload skip, turning a corrupt container into a garbage tensor
    * directory instead of the documented None. Checking each partial
    * product against the cap keeps every intermediate below 2^56.
    */
  private def checkedNumel(dims: Array[Int]): Long = {
    var n = 1L
    var i = 0
    while (i < dims.length) {
      n *= dims(i).toLong
      if (n > Int.MaxValue / 4) return -1L
      i += 1
    }
    n
  }

  /** Tensor record types: the on-disk `ftype` code and its dtype name (the
    * `dtype` column of the `ggml` data source). [[F16]] doubles as the
    * header's ftype flag of a container with F16 linear weights.
    */
  val F32 = 0
  val F16 = 1
  val Q4_0 = 2
  private val Dtypes: Map[Int, String] =
    Map(F32 -> "F32", F16 -> "F16", Q4_0 -> "Q4_0")

  /** Dtype name of an ftype code; `UNKNOWN(n)` for a code outside the table. */
  def dtypeName(ftype: Int): String = Dtypes.getOrElse(ftype, s"UNKNOWN($ftype)")

  /** Ftype code of a dtype name, if the table has it. */
  def ftypeOf(dtype: String): Option[Int] =
    Dtypes.collectFirst { case (code, name) if name == dtype => code }

  /** Payload byte size of a tensor record with on-disk type `ftype` and
    * shape `dims` under the container's storage rules, or -1 if the
    * combination is invalid (more than 4 dims, a dim outside [0, 2^26],
    * overflowing element count, Q4_0 numel not block-aligned, unknown
    * ftype). The one size rule: [[walk]] rejects any record it refuses, and
    * [[writeTensorRecord]] (hence the `ggml` V2 sink) validates against it.
    */
  def payloadSize(ftype: Int, dims: Array[Int]): Long = {
    if (dims.length > 4 || dims.exists(d => d < 0 || d > (1 << 26))) return -1L
    val numel = checkedNumel(dims)
    if (numel < 0) return -1L
    ftype match {
      case F32 => numel * 4
      case F16 => numel * 2
      case Q4_0 => if (numel % 32 == 0) numel / 32 * 18 else -1L
      case _ => -1L
    }
  }

  /** One tensor record as it sits in the container: `ftype` is the raw
    * on-disk code (see [[dtypeName]]), `dataOffset` the byte position of
    * the payload within the file, `payloadBytes` its exact length.
    */
  final case class TensorMeta(name: String, dims: Array[Int], ftype: Int,
      dataOffset: Long, payloadBytes: Long) {
    def numel: Long = dims.foldLeft(1L)(_ * _.toLong)
    def dtype: String = dtypeName(ftype)
  }

  /** Header + tensor directory of a model container, payloads unread. */
  final case class GgmlMeta(hparams: NerHparams, tensors: Seq[TensorMeta])

  /** The one pass over a container, shared by [[load]], [[scanMeta]] and
    * [[copyHeader]]: magic, hparams, vocab, then tensor records until EOF.
    * Each vocab entry's raw bytes go to `token(id, bytes)`. Each record's
    * directory entry goes to `record(hparams, meta, reader)`, which either
    * reads the payload from the reader and returns true, or returns false
    * to have the walker skip it. Malformed input, including a record
    * [[payloadSize]] rejects, yields `None`.
    */
  private def walk(stream: InputStream)(token: (Int, Array[Byte]) => Unit)(
      record: (NerHparams, TensorMeta, LeReader) => Boolean)
      : Option[NerHparams] = {
    val r = new LeReader(new DataInputStream(stream))
    try {
      if (r.readIntLE() != Magic) return None
      val hp = NerHparams(
        nVocab = r.readIntLE(),
        nMaxTokens = r.readIntLE(),
        nEmbd = r.readIntLE(),
        nIntermediate = r.readIntLE(),
        nHead = r.readIntLE(),
        nLayer = r.readIntLE(),
        f16 = r.readIntLE(),
        nLabels = r.readIntLE()
      )
      if (!validHparams(hp)) return None
      var i = 0
      while (i < hp.nVocab) {
        val len = r.readIntLE()
        if (len < 0 || len > (1 << 20)) return None
        token(i, r.readBytes(len))
        i += 1
      }
      var next = r.tryReadIntLE()
      while (next.isDefined) {
        val nDims = next.get
        if (nDims < 0 || nDims > 4) return None
        val nameLen = r.readIntLE()
        val ftype = r.readIntLE()
        val dims = Array.fill(nDims)(r.readIntLE())
        if (nameLen < 0 || nameLen > (1 << 16)) return None
        val name = new String(r.readBytes(nameLen), StandardCharsets.UTF_8)
        val payload = payloadSize(ftype, dims)
        if (payload < 0) return None
        if (!record(hp, TensorMeta(name, dims, ftype, r.pos, payload), r))
          r.skip(payload)
        next = r.tryReadIntLE()
      }
      Some(hp)
    } catch {
      case _: EOFException => None // truncated file => silent "no model"
      case _: java.io.IOException => None
    }
  }

  def loadFile(path: String): Option[NerModel] = {
    val f = new java.io.File(path)
    if (!f.isFile) return None
    val in = new BufferedInputStream(new FileInputStream(f))
    try load(in)
    finally in.close()
  }

  def loadBytes(bytes: Array[Byte]): Option[NerModel] =
    load(new java.io.ByteArrayInputStream(bytes))

  def load(stream: InputStream): Option[NerModel] = {
    val main = Map.newBuilder[String, Int]
    val sub = Map.newBuilder[String, Int]
    val id2tok = Map.newBuilder[Int, String]
    val tensors = Map.newBuilder[String, NerTensor]
    walk(stream) { (i, bytes) =>
      val raw = new String(bytes, StandardCharsets.ISO_8859_1)
      id2tok += i -> new String(bytes, StandardCharsets.UTF_8)
      if (raw.length > 2 && raw.charAt(0) == '#' && raw.charAt(1) == '#')
        sub += raw.substring(2) -> i
      else main += raw -> i
    } { (hp, t, r) =>
      // the reference seeks past tensors its model map doesn't name
      // (`src/ner_model.cpp:275-282`); storing them would waste heap
      val known = isKnownTensor(t.name, hp)
      if (known) {
        val numel = t.numel
        t.ftype match {
          case F32 =>
            val data = new Array[Float](numel.toInt)
            val raw = r.readBytes(numel.toInt * 4)
            var k = 0
            while (k < data.length) {
              data(k) = java.lang.Float.intBitsToFloat(
                ((raw(4 * k + 3) & 0xff) << 24) | ((raw(4 * k + 2) & 0xff) << 16) |
                  ((raw(4 * k + 1) & 0xff) << 8) | (raw(4 * k) & 0xff))
              k += 1
            }
            tensors += t.name -> NerTensor(t.dims, data)
          case F16 =>
            // F16: kept as raw half-precision shorts (round-8 VERDICT
            // #4, symmetric with the Q4_0 treatment below): the
            // encoder's linears evaluate them natively via
            // [[DotKernel.matmulF16]] — in-register widening, half the
            // weight-side memory traffic of F32, like the reference's
            // ggml F16 eval (`src/ner_model.cpp:194`). Non-matmul
            // consumers widen lazily through [[NerTensor.data]].
            val data = new Array[Short](numel.toInt)
            val raw = r.readBytes(numel.toInt * 2)
            var k = 0
            while (k < data.length) {
              data(k) =
                (((raw(2 * k + 1) & 0xff) << 8) | (raw(2 * k) & 0xff)).toShort
              k += 1
            }
            tensors += t.name -> NerTensor(t.dims, null, f16raw = data)
          case Q4_0 =>
            // Q4_0 (`src/ner_model.cpp:278` maps non-F32/F16 ftypes to
            // GGML_TYPE_Q4_0). ggml block_q4_0 layout (public ggml):
            // per 32 values, an f16 scale d then 16 bytes of nibbles —
            // first 16 values from low nibbles, next 16 from high;
            // value = (q - 8) * d. The raw blocks are KEPT (round-7
            // VERDICT #3): the encoder's linears evaluate them natively
            // via [[DotKernel.matmulQ4]], like the reference's ggml eval
            // of quantized weights — dequantization happens lazily and
            // only for non-matmul consumers (see [[NerTensor.data]]).
            tensors += t.name ->
              NerTensor(t.dims, null, r.readBytes(t.payloadBytes.toInt))
        }
      }
      known
    }.map(hp => NerModel(hp,
      NerVocab(main.result(), sub.result(), id2tok.result()), tensors.result()))
  }

  /** Walk the container and return its tensor DIRECTORY without reading a
    * single payload byte — each record's data is `skip`ped, so scanning a
    * multi-GB model costs header + vocab + names, not weights. Unlike
    * [[load]] this reports ALL tensors, including ones the encoder's name
    * map would skip (`src/ner_model.cpp:275-282`): introspection describes
    * the file, not the subset one consumer reads. Rejects exactly the
    * containers [[load]] rejects (both are [[walk]]). Backs the `ggml`
    * DataSource V2 relation ([[graft.sources.GgmlTensorSource]]).
    */
  def scanMeta(stream: InputStream): Option[GgmlMeta] = {
    val out = Seq.newBuilder[TensorMeta]
    walk(stream)((_, _) => ()) { (_, t, _) => out += t; false }
      .map(GgmlMeta(_, out.result()))
  }

  /** Scan a model file's tensor directory — see [[scanMeta]]. */
  def scanFile(path: String): Option[GgmlMeta] = {
    val f = new java.io.File(path)
    if (!f.isFile) return None
    val in = new BufferedInputStream(new FileInputStream(f))
    try scanMeta(in)
    finally in.close()
  }

  private def writeIntLE(out: DataOutputStream, v: Int): Unit =
    out.writeInt(Integer.reverseBytes(v))

  /** Serialize the container prologue — magic, the eight hparams in
    * on-disk order, then each vocab entry as `int32 len; byte[len]` — per
    * the reference writer (`scripts/convert_ner_to_ggml.py:37-55`).
    * `vocab` yields the raw token bytes in id order.
    */
  def writeHeader(out: DataOutputStream, hp: NerHparams,
      vocab: Iterator[Array[Byte]]): Unit = {
    Seq(Magic, hp.nVocab, hp.nMaxTokens, hp.nEmbd, hp.nIntermediate, hp.nHead,
      hp.nLayer, hp.f16, hp.nLabels).foreach(writeIntLE(out, _))
    vocab.foreach { b => writeIntLE(out, b.length); out.write(b) }
  }

  /** Serialize one tensor record (the repeating unit after the vocab
    * section — `int32 n_dims, name_len, ftype; dims; name; payload`) to
    * `out`. Record layout per the reference writer
    * (`scripts/convert_ner_to_ggml.py:84-89`); records are self-describing
    * and order-independent (the loader is name-keyed), which is what lets
    * the V2 sink stage them per-task and concatenate at commit.
    */
  def writeTensorRecord(out: DataOutputStream, name: String,
      dims: Array[Int], ftype: Int, payload: Array[Byte]): Unit = {
    val expect = payloadSize(ftype, dims)
    require(expect >= 0, s"tensor '$name': invalid ftype=$ftype dims=" +
      dims.mkString("[", ",", "]"))
    require(payload.length == expect, s"tensor '$name': payload is " +
      s"${payload.length} bytes, dtype/shape require $expect")
    val nb = name.getBytes(StandardCharsets.UTF_8)
    require(nb.length <= (1 << 16), s"tensor name too long: $name")
    writeIntLE(out, dims.length)
    writeIntLE(out, nb.length)
    writeIntLE(out, ftype)
    dims.foreach(writeIntLE(out, _))
    out.write(nb)
    out.write(payload)
  }

  /** Copy the container prologue (magic, hparams, vocab) of `template`
    * verbatim into `out` and return the hparams. The V2 sink writes tensor
    * rows; the tokenizer half of a container comes from an existing model —
    * the model-surgery workflow (quantize/prune/patch tensors, keep vocab).
    * Throws on a `template` that [[load]]/[[scanMeta]] would reject — a sink
    * must fail loudly, not emit garbage.
    */
  def copyHeader(template: String, out: OutputStream): NerHparams = {
    val vocab = Vector.newBuilder[Array[Byte]]
    val in = new BufferedInputStream(new FileInputStream(template))
    val hp =
      try walk(in)((_, b) => vocab += b)((_, _, _) => false)
      finally in.close()
    require(hp.isDefined, s"not a valid ggml container: $template")
    writeHeader(new DataOutputStream(out), hp.get, vocab.result().iterator)
    hp.get
  }

  /** Serialize a model back into the reference's container layout (the
    * format [[load]] reads and `scripts/convert_ner_to_ggml.py:37-89`
    * writes) — the export half of the format module, pairing with the
    * HF→GGML converter (`graft.tools.ConvertHf`). Each tensor keeps its
    * stored representation (F32 / raw F16 shorts / raw Q4_0 blocks — no
    * re-quantization round-trip). Tensors are written in name order so the
    * output is byte-deterministic for a given model.
    */
  def write(model: NerModel, path: String): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(path)))
    try {
      val hp = model.hparams
      writeHeader(out, hp, Iterator.range(0, hp.nVocab)
        .map(model.vocab.tokenOf(_).getBytes(StandardCharsets.UTF_8)))
      model.tensors.toSeq.sortBy(_._1).foreach { case (name, t) =>
        if (t.isQ4) writeTensorRecord(out, name, t.dims, Q4_0, t.q4)
        else if (t.isF16)
          writeTensorRecord(out, name, t.dims, F16, f16Payload(t.f16raw))
        else writeTensorRecord(out, name, t.dims, F32, f32Payload(t.data))
      }
    } finally out.close()
  }

  /** Little-endian F32 payload bytes, the encoding [[load]] decodes. */
  private[graft] def f32Payload(data: Array[Float]): Array[Byte] = {
    val out = new Array[Byte](data.length * 4)
    var k = 0
    while (k < data.length) {
      val v = java.lang.Float.floatToIntBits(data(k))
      out(4 * k) = v.toByte
      out(4 * k + 1) = (v >> 8).toByte
      out(4 * k + 2) = (v >> 16).toByte
      out(4 * k + 3) = (v >> 24).toByte
      k += 1
    }
    out
  }

  /** Little-endian F16 payload bytes of raw half-precision shorts. */
  private[graft] def f16Payload(raw: Array[Short]): Array[Byte] = {
    val out = new Array[Byte](raw.length * 2)
    var k = 0
    while (k < raw.length) {
      out(2 * k) = raw(k).toByte
      out(2 * k + 1) = (raw(k) >> 8).toByte
      k += 1
    }
    out
  }

  /** The tensor names [[BertEncoder]] evaluates as linear matmuls — the
    * ones eligible for Q4_0-native evaluation (everything else is consumed
    * element-wise and stays F32). */
  def isLinearWeight(name: String): Boolean =
    name == "classifier.weight" || (name.endsWith(".weight") && (
      name.contains("attention.self.") || name.contains("dense")))

  /** Quantize an F32 row to ggml Q4_0 blocks — the inverse of [[dequantQ4]]
    * per ggml's public `quantize_row_q4_0_reference`: per 32-value block,
    * d = (signed max-|x| element) / -8 stored as f16, nibbles
    * q = clamp(trunc(x/d + 8.5), 0, 15), low 16 values in low nibbles.
    * Mirrors what the reference's converter pipeline produces when a user
    * quantizes a model (`src/ner_model.cpp:194` evaluates the result);
    * used by the Q4-native profile path and test fixtures.
    */
  def quantizeQ4(data: Array[Float]): Array[Byte] = {
    require(data.length % 32 == 0,
      s"Q4_0 needs numel % 32 == 0: ${data.length}")
    val blocks = data.length / 32
    val out = new Array[Byte](blocks * 18)
    var b = 0
    while (b < blocks) {
      var amax = 0f
      var maxv = 0f
      var j = 0
      while (j < 32) {
        val v = data(b * 32 + j)
        if (math.abs(v) > amax) { amax = math.abs(v); maxv = v }
        j += 1
      }
      val d = maxv / -8f
      val hd = floatToF16(d)
      val off = b * 18
      out(off) = (hd & 0xff).toByte
      out(off + 1) = ((hd >>> 8) & 0xff).toByte
      val id = if (d != 0f) 1f / d else 0f
      j = 0
      while (j < 16) {
        val q0 = math.min(15, (data(b * 32 + j) * id + 8.5f).toInt)
        val q1 = math.min(15, (data(b * 32 + 16 + j) * id + 8.5f).toInt)
        out(off + 2 + j) = ((math.max(0, q0) & 0xf) |
          ((math.max(0, q1) & 0xf) << 4)).toByte
        j += 1
      }
      b += 1
    }
    out
  }

  /** float → IEEE half, round-to-nearest-even (both branches — the
    * subnormal path used to truncate its dropped bits, putting Q4_0 block
    * scales below ~6.1e-5 up to 1 ulp off a conforming converter's output;
    * round-8 ADVICE). */
  def floatToF16(v: Float): Int = {
    val bits = java.lang.Float.floatToIntBits(v)
    val sign = (bits >>> 16) & 0x8000
    val e = ((bits >>> 23) & 0xff) - 127 + 15
    val m = bits & 0x7fffff
    if (e >= 31) sign | 0x7c00 // overflow -> inf
    else if (e <= 0) {
      // |v| < 2^-25 is below half the smallest subnormal step: rounds to 0
      // (the e == -11, m == 0 tie 2^-25 also picks the even side, 0)
      if (e < -10) sign
      else {
        // shift in [14, 24]; carry from +1 may ripple into the exponent
        // field, correctly producing the smallest normal half
        val full = m | 0x800000
        val shift = 14 - e
        val base = full >>> shift
        val rem = full & ((1 << shift) - 1)
        val half = 1 << (shift - 1)
        val rounded =
          if (rem > half || (rem == half && (base & 1) == 1)) base + 1
          else base
        sign | rounded
      }
    } else {
      // round to nearest even on the 13 dropped bits
      val base = sign | (e << 10) | (m >>> 13)
      val rem = m & 0x1fff
      if (rem > 0x1000 || (rem == 0x1000 && (base & 1) == 1)) base + 1
      else base
    }
  }

  /** Dequantize ggml Q4_0 blocks (18 bytes per 32 values: f16 scale + 16
    * nibble bytes, low nibbles first) into an F32 array — the lazy
    * [[NerTensor.data]] path for quantized tensors, and the semantics the
    * quantized-native matmul ([[DotKernel.matmulQ4]]) must agree with.
    */
  def dequantQ4(raw: Array[Byte], numel: Int): Array[Float] = {
    val data = new Array[Float](numel)
    val blocks = numel / 32
    var bIdx = 0
    while (bIdx < blocks) {
      val off = bIdx * 18
      val d = f16ToFloat(((raw(off + 1) & 0xff) << 8) | (raw(off) & 0xff))
      var j = 0
      while (j < 16) {
        val q = raw(off + 2 + j) & 0xff
        data(bIdx * 32 + j) = ((q & 0xf) - 8) * d
        data(bIdx * 32 + 16 + j) = ((q >>> 4) - 8) * d
        j += 1
      }
      bIdx += 1
    }
    data
  }

  /** Widen a raw F16 tensor payload to F32 — the lazy [[NerTensor.data]]
    * path for half-precision tensors, and the semantics the F16-native
    * matmul ([[DotKernel.matmulF16]]) must agree with. */
  def widenF16(raw: Array[Short]): Array[Float] = {
    val out = new Array[Float](raw.length)
    var i = 0
    while (i < raw.length) { out(i) = f16ToFloat(raw(i) & 0xffff); i += 1 }
    out
  }

  /** IEEE 754 half → float (JDK 17 lacks Float.float16ToFloat). */
  def f16ToFloat(bits: Int): Float = {
    val sign = (bits & 0x8000) << 16
    val exp = (bits >>> 10) & 0x1f
    val mant = bits & 0x3ff
    if (exp == 0) {
      if (mant == 0) java.lang.Float.intBitsToFloat(sign)
      else { // subnormal half: value = mant * 2^-24
        var m = mant
        var shifts = 0
        while ((m & 0x400) == 0) { m <<= 1; shifts += 1 }
        m &= 0x3ff
        java.lang.Float.intBitsToFloat(sign | ((113 - shifts) << 23) | (m << 13))
      }
    } else if (exp == 0x1f) {
      java.lang.Float.intBitsToFloat(sign | 0x7f800000 | (mant << 13))
    } else {
      java.lang.Float.intBitsToFloat(sign | ((exp + 112) << 23) | (mant << 13))
    }
  }
}
