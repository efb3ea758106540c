package graft.ner

import org.scalatest.funsuite.AnyFunSuite
import BioMerge.{merge, argmax}

/** Table-driven pins for the reference's BIO state machine
  * (`src/ner_extension.cpp:133-167`). Label indices: O=0, B-MISC=1, I-MISC=2,
  * B-PER=3, I-PER=4, B-ORG=5, I-ORG=6, B-LOC=7, I-LOC=8.
  */
class BioMergeSpec extends AnyFunSuite {

  test("B then I merges with a space") {
    assert(merge(Vector("new", "york"), Vector(7, 8)) ==
      Seq(NerEntity("new york", "LOC")))
  }

  test("subword merges with no space") {
    assert(merge(Vector("duck", "##db"), Vector(5, 6)) ==
      Seq(NerEntity("duckdb", "ORG")))
  }

  test("B after B of the same group splits into two entities") {
    assert(merge(Vector("bob", "alice"), Vector(3, 3)) ==
      Seq(NerEntity("bob", "PER"), NerEntity("alice", "PER")))
  }

  test("a B-tagged subword still continues the current entity") {
    // continuation condition is (even label OR subword)
    assert(merge(Vector("duck", "##db"), Vector(5, 5)) ==
      Seq(NerEntity("duckdb", "ORG")))
  }

  test("I-tag continuation after an I-tag keeps going") {
    assert(merge(Vector("a", "b", "c"), Vector(3, 4, 4)) ==
      Seq(NerEntity("a b c", "PER")))
  }

  test("entity label comes from its first token only") {
    // second token is I-PER(4): same group as B-PER, entity stays labeled PER;
    // starting with I-MISC(2) labels the entity MISC even mid-stream
    assert(merge(Vector("x", "y"), Vector(2, 2)) ==
      Seq(NerEntity("x y", "MISC")))
  }

  test("group change flushes and starts a new entity") {
    assert(merge(Vector("bob", "paris"), Vector(3, 7)) ==
      Seq(NerEntity("bob", "PER"), NerEntity("paris", "LOC")))
  }

  test("O flushes the current entity") {
    assert(merge(Vector("bob", "went", "home"), Vector(3, 0, 0)) ==
      Seq(NerEntity("bob", "PER")))
  }

  test("trailing entity is flushed at end of input") {
    assert(merge(Vector("went", "to", "paris"), Vector(0, 0, 7)) ==
      Seq(NerEntity("paris", "LOC")))
  }

  test("[CLS] and [SEP] are skipped and do not reset state") {
    // [SEP] between two I-continuations: reference `continue`s without
    // touching last_label_type, so the entity keeps merging
    assert(merge(Vector("[CLS]", "new", "[SEP]", "york", "[SEP]"), Vector(9, 7, 0, 8, 0)) ==
      Seq(NerEntity("new york", "LOC")))
  }

  test("I-tag after O starts a fresh entity (no dangling merge)") {
    assert(merge(Vector("x", "y"), Vector(0, 4)) == Seq(NerEntity("y", "PER")))
  }

  test("empty input produces no entities") {
    assert(merge(Vector.empty, Vector.empty).isEmpty)
  }

  test("never emits empty entities (property)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 500) {
      val n = rnd.nextInt(12)
      val toks = Vector.tabulate(n)(i => if (rnd.nextBoolean()) s"t$i" else s"##s$i")
      val labels = Vector.fill(n)(rnd.nextInt(9))
      merge(toks, labels).foreach { e =>
        assert(e.entity.nonEmpty)
        assert(Set("PER", "ORG", "LOC", "MISC").contains(e.label))
      }
    }
  }

  test("argmax picks the max logit, first index on ties") {
    assert(argmax(Array(0.1f, 0.5f, 0.5f, -1f), 0, 4) == 1)
    assert(argmax(Array(9f, 0.1f, 0.2f, 0.3f, 0.4f), 1, 4) == 3)
    // all below the reference's -1e10 sentinel -> label 0 wins
    assert(argmax(Array(-2e10f, -3e10f), 0, 2) == 0)
  }
}
