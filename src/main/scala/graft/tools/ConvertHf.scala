package graft.tools

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream, File, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

import graft.ner.{ModelFormat, NerHparams}

/** A8: HF→GGML converter — the Scala port of the reference's
  * `scripts/convert_ner_to_ggml.py:1-92`, operating on a locally
  * materialized Hugging-Face model directory. The reference script loads
  * the model through `transformers`+`torch`; this port reads the same
  * on-disk artifacts directly, all of them public formats:
  *
  *   - `config.json` — the BERT hyperparameters the script takes from
  *     `model.config` (convert_ner_to_ggml.py:37-46);
  *   - `vocab.txt` — one WordPiece token per line, line number = id
  *     (equivalent to the script's `tokenizer.get_vocab()` sorted by id,
  *     convert_ner_to_ggml.py:49-55);
  *   - `model.safetensors` — the weights the script takes from
  *     `model.state_dict()`. safetensors is the published single-file
  *     tensor format: an 8-byte little-endian header length, a JSON
  *     header mapping tensor name → {dtype, shape, data_offsets}, then
  *     raw little-endian tensor bytes.
  *
  * Output layout is byte-identical to the script's
  * (convert_ner_to_ggml.py:37-89): "ggml" magic int, 8 header ints
  * (vocab_size, max_position_embeddings, hidden_size, intermediate_size,
  * num_attention_heads, num_hidden_layers, ftype, num_labels),
  * length-prefixed UTF-8 vocab, then per tensor: (n_dims, name_len,
  * l_type) ints, dims innermost-first, name bytes, data — F16 when
  * header ftype F16 ∧ 2-dim ∧ name ends ".weight", else F32. Name handling
  * matches the script: strip a leading "bert.", skip
  * `embeddings.position_ids`, squeeze size-1 dims. The emitted file
  * round-trips through [[graft.ner.ModelFormat.load]] (the repo's
  * loader) — `ConvertHfSpec` pins that end-to-end.
  *
  * Supported weight format: `model.safetensors` ONLY. The reference
  * script accepts anything `torch.load` can open (notably the legacy
  * `pytorch_model.bin` pickle-zip), but that format IS a Python pickle —
  * parsing it outside Python means reimplementing pickle opcode
  * semantics, and HF has shipped safetensors as the default artifact
  * since 2023. A legacy checkpoint converts by re-saving once:
  * `model.save_pretrained(dir, safe_serialization=True)`.
  *
  * Usage: `runMain graft.tools.ConvertHf <hf_model_dir> <out.bin> [ftype]`
  * (ftype 1 = F16 linears, the script's default; 0 = all F32).
  */
object ConvertHf {

  /** One tensor slot parsed from the safetensors header. */
  final case class St(name: String, dtype: String, shape: Seq[Int],
      begin: Long, end: Long)

  /** Parsed safetensors handle: tensor slots, a per-slot F32 reader, and
    * the underlying file to close when done. */
  final case class SafeTensors(slots: Seq[St], read: St => Array[Float],
      file: RandomAccessFile)

  /** Parse a safetensors file: header JSON + a reader for each tensor's
    * raw F32 values (F16/BF16/F64 inputs are widened to F32, matching
    * numpy's astype in the script). Caller closes `file`.
    */
  def readSafetensors(path: String): SafeTensors = {
    val raf = new RandomAccessFile(path, "r")
    val lenBuf = new Array[Byte](8)
    raf.readFully(lenBuf)
    val headerLen =
      ByteBuffer.wrap(lenBuf).order(ByteOrder.LITTLE_ENDIAN).getLong
    require(headerLen > 0 && headerLen < Int.MaxValue,
      s"implausible safetensors header length $headerLen")
    val headerBytes = new Array[Byte](headerLen.toInt)
    raf.readFully(headerBytes)
    val dataStart = 8L + headerLen
    val root = new ObjectMapper()
      .readTree(new String(headerBytes, StandardCharsets.UTF_8))
    val slots = scala.collection.mutable.ArrayBuffer.empty[St]
    root.fields().forEachRemaining { e =>
      if (e.getKey != "__metadata__") {
        val v = e.getValue
        val shape = (0 until v.get("shape").size())
          .map(i => v.get("shape").get(i).asInt)
        slots += St(e.getKey, v.get("dtype").asText, shape,
          v.get("data_offsets").get(0).asLong,
          v.get("data_offsets").get(1).asLong)
      }
    }
    val read: St => Array[Float] = { t =>
      val nBytes = (t.end - t.begin).toInt
      val raw = new Array[Byte](nBytes)
      raf.seek(dataStart + t.begin)
      raf.readFully(raw)
      val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
      t.dtype match {
        case "F32" => Array.fill(nBytes / 4)(bb.getFloat)
        case "F16" =>
          Array.fill(nBytes / 2)(ModelFormat.f16ToFloat(bb.getShort & 0xffff))
        case "BF16" =>
          Array.fill(nBytes / 2)(
            java.lang.Float.intBitsToFloat((bb.getShort & 0xffff) << 16))
        case "F64" => Array.fill(nBytes / 8)(bb.getDouble.toFloat)
        case "I64" => Array.fill(nBytes / 8)(bb.getLong.toFloat)
        case other => sys.error(s"unsupported safetensors dtype $other")
      }
    }
    SafeTensors(slots.toSeq.sortBy(_.begin), read, raf)
  }

  def convert(hfDir: String, outPath: String,
      ftype: Int = ModelFormat.F16): Unit = {
    val cfgNode = new ObjectMapper()
      .readTree(new String(Files.readAllBytes(
        Paths.get(hfDir, "config.json")), StandardCharsets.UTF_8))
    def cfg(k: String): Int = {
      val n = cfgNode.get(k)
      require(n != null, s"config.json missing $k")
      n.asInt
    }
    val modelType =
      Option(cfgNode.get("model_type")).map(_.asText).getOrElse("")
    // convert_ner_to_ggml.py:24-26 — BERT only
    require(modelType == "bert",
      s"Only BERT models are supported, got $modelType")
    val numLabels = Option(cfgNode.get("num_labels")).map(_.asInt)
      .orElse(Option(cfgNode.get("id2label")).map(_.size))
      .getOrElse(sys.error("config.json has neither num_labels nor id2label"))

    val vocab = Files.readAllLines(Paths.get(hfDir, "vocab.txt"))
    // the loader reads EXACTLY header-n_vocab length-prefixed entries; a
    // count drift (added_tokens.json, trailing blank line) would silently
    // shear the tensor section — fail at convert time instead
    require(vocab.size == cfg("vocab_size"),
      s"vocab.txt has ${vocab.size} entries but config.json declares " +
        s"vocab_size=${cfg("vocab_size")}")
    val st = readSafetensors(new File(hfDir, "model.safetensors").getPath)
    val (slots, read) = (st.slots, st.read)

    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(outPath)))
    try {
      val hp = NerHparams(
        nVocab = cfg("vocab_size"),
        nMaxTokens = cfg("max_position_embeddings"),
        nEmbd = cfg("hidden_size"),
        nIntermediate = cfg("intermediate_size"),
        nHead = cfg("num_attention_heads"),
        nLayer = cfg("num_hidden_layers"),
        f16 = ftype,
        nLabels = numLabels)
      ModelFormat.writeHeader(out, hp,
        vocab.iterator.asScala.map(_.getBytes(StandardCharsets.UTF_8)))
      slots.foreach { t =>
        val cleanName =
          if (t.name.startsWith("bert.")) t.name.substring(5) else t.name
        if (cleanName != "embeddings.position_ids") {
          val squeezed = t.shape.filter(_ != 1) match {
            case Nil => Seq(1) // scalar/all-1 shape squeezes to one element
            case s => s
          }
          val data = read(t)
          // dims innermost-first (convert_ner_to_ggml.py:86-87)
          val dims = squeezed.reverse.toArray
          if (ftype == ModelFormat.F16 && dims.length == 2 &&
            cleanName.endsWith(".weight"))
            ModelFormat.writeTensorRecord(out, cleanName, dims, ModelFormat.F16,
              ModelFormat.f16Payload(data.map(ModelFormat.floatToF16(_).toShort)))
          else
            ModelFormat.writeTensorRecord(out, cleanName, dims, ModelFormat.F32,
              ModelFormat.f32Payload(data))
        }
      }
    } finally {
      out.close()
      st.file.close()
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ConvertHf <hf_model_dir> <out.bin> [ftype: 1=f16 (default), 0=f32]")
    val ftype = if (args.length > 2) args(2).toInt else ModelFormat.F16
    convert(args(0), args(1), ftype)
    println(s"Done! Model saved to ${args(1)}")
  }
}
