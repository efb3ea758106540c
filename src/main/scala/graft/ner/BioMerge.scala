package graft.ner

import scala.collection.mutable.ArrayBuffer

/** Argmax + label collapse + BIO entity-merge state machine, replicating the
  * reference's post-processing loop exactly
  * (reference: `src/ner_extension.cpp:97,119-167`).
  *
  * Label space is the hardcoded 9-label CoNLL BIO order
  * `{O, B-MISC, I-MISC, B-PER, I-PER, B-ORG, I-ORG, B-LOC, I-LOC}` collapsed
  * to `{O, MISC, PER, ORG, LOC}`; B-X and I-X share group `(label+1)/2`. The
  * model's own id2label metadata is ignored, as in the reference.
  */
object BioMerge {

  /** `label_map` from `src/ner_extension.cpp:97`. */
  val LabelMap: Array[String] =
    Array("O", "MISC", "MISC", "PER", "PER", "ORG", "ORG", "LOC", "LOC")

  @inline def collapsedLabel(bestLabel: Int): String =
    if (bestLabel >= 0 && bestLabel < LabelMap.length) LabelMap(bestLabel) else "O"

  /** Group id shared by B-X / I-X (`src/ner_extension.cpp:141-144`). */
  @inline def labelGroup(bestLabel: Int): Int =
    if (bestLabel == 0) 0 else (bestLabel + 1) / 2

  /** Per-token argmax over a logit row (`src/ner_extension.cpp:123-131`).
    * Ties break to the lowest index; the initial max is -1e10 like the
    * reference (a row of all smaller logits would select label 0).
    */
  def argmax(logits: Array[Float], offset: Int, nLabels: Int): Int = {
    var best = 0
    var max = -1e10f
    var l = 0
    while (l < nLabels) {
      if (logits(offset + l) > max) { max = logits(offset + l); best = l }
      l += 1
    }
    best
  }

  /** Merge `(tokenString, bestLabel)` pairs into entities. Token strings are
    * the original vocab spellings (subwords keep `##`). Semantics pinned to
    * `src/ner_extension.cpp:133-167`:
    *
    *   - `[CLS]` / `[SEP]` skipped entirely (they do not reset state);
    *   - continue the current entity iff same collapsed group AND (the label
    *     index is even — an I- tag — OR the token is a `##` subword);
    *   - subwords join with no space, full words with a single space;
    *   - an entity's label comes from its *first* token;
    *   - entity flushed on O, on group change, and at end of input.
    */
  def merge(tokens: IndexedSeq[String], bestLabels: IndexedSeq[Int]): Seq[NerEntity] = {
    val entities = new ArrayBuffer[NerEntity]
    var curText = ""
    var curLabel = ""
    var lastGroup = 0
    var t = 0
    while (t < tokens.length) {
      val tok = tokens(t)
      if (tok != "[CLS]" && tok != "[SEP]") {
        val best = bestLabels(t)
        val isSubword = tok.length > 2 && tok.charAt(0) == '#' && tok.charAt(1) == '#'
        val clean = if (isSubword) tok.substring(2) else tok
        val group = labelGroup(best)
        if (group != 0) {
          if (group == lastGroup && (best % 2 == 0 || isSubword)) {
            curText += (if (isSubword) "" else " ") + clean
          } else {
            if (lastGroup != 0) entities += NerEntity(curText, curLabel)
            curText = clean
            curLabel = collapsedLabel(best)
          }
        } else {
          if (lastGroup != 0) entities += NerEntity(curText, curLabel)
        }
        lastGroup = group
      }
      t += 1
    }
    if (lastGroup != 0) entities += NerEntity(curText, curLabel)
    entities.toSeq
  }
}
