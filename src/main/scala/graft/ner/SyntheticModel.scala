package graft.ner

import scala.util.Random

/** Deterministic in-memory demo model (no file, no download): a character-
  * level WordPiece vocab (`a-z0-9` + `##`-subwords + specials) with seeded
  * pseudo-random weights at bert-tiny-ish dimensions. Exists so the
  * with-model inference path — tokenizer, transformer forward pass, BIO
  * merge — can be exercised and benchmarked end-to-end in environments with
  * no real model artifact (the driver's, and CI). The entities it emits are
  * meaningless but fully deterministic.
  *
  * Round 10 adds the BERT-BASE-GEOMETRY twin ([[loadedBase]] and its
  * F16/Q4 variants): same vocab and build rules at the reference's
  * recommended model class (`dslim/bert-base-NER`, ~110 M params —
  * reference TEST.md:26), where a layer's weight panels (~28 MB) can NEVER
  * be cache-resident and every matmul STREAMS weights from DRAM — the
  * regime the compact F16/Q4 forms exist for. The benchmark's `ner_sql_base`
  * workload (`perfbench/README.md`) runs its F16 twin end to end.
  */
object SyntheticModel {

  val Hparams: NerHparams = NerHparams(
    nVocab = 0, // patched below after vocab construction
    nMaxTokens = 128,
    nEmbd = 64,
    nIntermediate = 256,
    nHead = 2,
    nLayer = 2,
    f16 = 0,
    nLabels = 9)

  /** bert-base geometry (hidden 768, 12 layers, 12 heads, FFN 3072,
    * 512-token context): ~85 M encoder parameters over the same synthetic
    * vocab — the weight-streaming regime (28 MB/layer vs ~1 MB L2).
    */
  val BaseHparams: NerHparams = NerHparams(
    nVocab = 0,
    nMaxTokens = 512,
    nEmbd = 768,
    nIntermediate = 3072,
    nHead = 12,
    nLayer = 12,
    f16 = 0,
    nLabels = 9)

  private val chars: Seq[String] =
    ("abcdefghijklmnopqrstuvwxyz0123456789").map(_.toString)

  val VocabTokens: Seq[String] =
    Seq("[PAD]", "[CLS]", "[SEP]") ++ chars ++ chars.map("##" + _)

  private def seeded(name: String, n: Int): Array[Float] = {
    val r = new Random(0xC0FFEE ^ name.hashCode.toLong)
    Array.fill(n)((r.nextFloat() - 0.5f) * 0.2f)
  }

  private def buildModel(hp0: NerHparams): NerModel = {
    val hp = hp0.copy(nVocab = VocabTokens.length)
    val main = Map.newBuilder[String, Int]
    val sub = Map.newBuilder[String, Int]
    val id2 = Map.newBuilder[Int, String]
    VocabTokens.zipWithIndex.foreach { case (t, i) =>
      id2 += i -> t
      if (t.length > 2 && t.startsWith("##")) sub += t.substring(2) -> i
      else main += t -> i
    }
    val tensors = BertTensors.all(hp).map(t =>
      t.name -> NerTensor(t.dims, seeded(t.name, t.numel))).toMap
    NerModel(hp, NerVocab(main.result(), sub.result(), id2.result()), tensors)
  }

  /** A twin of `base` whose linear weights are re-encoded by `narrow`, so
    * the encoder decodes that form panel by panel end-to-end. Entities
    * can differ slightly from the F32 model's (narrowing moves logits) —
    * fine: these variants exist for kernel exercise and profiling; the
    * oracle-facing output stays pinned to the F32 model.
    */
  private def twin(base: NerModel)(narrow: NerTensor => NerTensor): Ner.Loaded =
    withEncoder(base.copy(tensors = base.tensors.map { case (name, t) =>
      name -> (if (ModelFormat.isLinearWeight(name)) narrow(t) else t)
    }))

  private def withEncoder(model: NerModel): Ner.Loaded =
    Ner.Loaded(model, new BertEncoder(model))

  /** Raw IEEE 754 halves, evaluated through [[LinearWeight.F16]] (round-8
    * VERDICT #4). */
  private def toF16(t: NerTensor): NerTensor =
    NerTensor(t.dims, null, f16raw = t.data.map(v => ModelFormat.floatToF16(v).toShort))

  /** Build the model once per JVM (shared across tasks like a loaded file). */
  lazy val loaded: Ner.Loaded = withEncoder(buildModel(Hparams))

  /** Q4_0 twin of [[loaded]]: linear weights re-quantized to raw ggml
    * blocks for [[LinearWeight.Q4]] (all shapes here are
    * %32-compatible: embd 64, intermediate 256) — the profile counterpart
    * for the F32 session (numbers in BASELINE.md).
    */
  lazy val loadedQ4: Ner.Loaded = twin(loaded.model)(t =>
    if (t.numel % 32 == 0) NerTensor(t.dims, null, ModelFormat.quantizeQ4(t.data))
    else t)

  /** F16 twin of [[loaded]] — the third point of the F32/F16/Q4
    * weight-precision profile (numbers in BASELINE.md).
    */
  lazy val loadedF16: Ner.Loaded = twin(loaded.model)(toF16)

  /** bert-base-geometry weights (~340 MB as F32, a few seconds of seeded
    * generation), built once per JVM and shared by the twins below. */
  private lazy val baseModel: NerModel = buildModel(BaseHparams)

  /** bert-base-geometry F32 model. */
  lazy val loadedBase: Ner.Loaded = withEncoder(baseModel)

  /** bert-base-geometry F16 twin (builds no F32 encoder). */
  lazy val loadedBaseF16: Ner.Loaded = twin(baseModel)(toF16)
}
