package graft.ner

import org.scalatest.funsuite.AnyFunSuite

/** `Ner.evalPartition`'s multi-document batches at the geometry where they
  * matter most: bert-base-class hparams put ~28 MB of weights in every
  * layer, so each batch streams them once for all its documents, and
  * packing several documents into ONE encoder batch must produce exactly
  * the per-document results. The benchmark's `ner_sql_base` workload
  * (`perfbench/README.md`) measures throughput at this geometry; this spec
  * pins its correctness.
  */
class BaseGeometrySpec extends AnyFunSuite {

  test("multi-doc batch at bert-base geometry matches per-doc eval exactly") {
    val loaded = SyntheticModel.loadedBase
    val docs = Seq("new york", "bob was here", "a duck swims in spark",
      "data graft", "the 42 ducks of 2024")
    val vocab = loaded.model.vocab
    val totalTokens = docs.map(d =>
      WordPiece.tokenize(vocab, d, loaded.model.hparams.nMaxTokens).length).sum
    // all five docs fit ONE encoder batch (one context window of tokens)
    // -> the multi-doc branch runs
    assert(totalTokens <= loaded.model.hparams.nMaxTokens)
    val batched = Ner.evalPartition(Some(loaded),
      docs.iterator.map(d => (d, d, true))).toSeq
    assert(batched.map(_._1) == docs)
    docs.zip(batched).foreach { case (d, (_, ents)) =>
      val single = Ner.evalWith(Some(loaded), d, truncate = true)
      assert(ents.toSeq == single.toSeq, s"batch/per-doc mismatch for '$d'")
    }
  }
}
