package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import GroupedTopK.{Entry, TopK}
import NativeTopK.Buf

/** Pins [[NativeTopK]] (the native TypedImperativeAggregate buffer) BIT-FOR-BIT
  * to [[GroupedTopK]] (the typed Aggregator it replaces at every query call
  * site, r14 VERDICT "next round" #3): same kept entries, same order, same
  * -0.0/NaN handling, under arbitrary partition splits and merge shapes —
  * plus the topk_score_avg identity (descending-order mean of the kept
  * scores == avg over the rows a (score DESC, key ASC) rank window keeps).
  */
class NativeTopKSpec extends AnyFunSuite {

  private def stream(n: Int): IndexedSeq[Entry] =
    (0 until n).map { i =>
      val h = (i * 2654435761L) % 97L
      Entry((h % 13L).toDouble, i.toLong) // 13 distinct scores => many ties
    }

  /** Adversarial scores: NaN, ±Infinity, signed zeros, ties. */
  private val nasty: IndexedSeq[Entry] = IndexedSeq(
    Entry(Double.NaN, 7L), Entry(Double.PositiveInfinity, 3L),
    Entry(-0.0d, 10L), Entry(0.0d, 2L), Entry(Double.NegativeInfinity, 1L),
    Entry(1.5d, 4L), Entry(1.5d, 0L), Entry(Double.NaN, 5L), Entry(-3.25d, 6L))

  private def nativeOf(xs: Seq[Entry], k: Int): Buf = {
    val b = new Buf(k)
    xs.foreach(e => b.insert(e.score, e.key))
    b
  }

  private def entriesOf(b: Buf): Seq[Entry] =
    (0 until b.n).map(i => Entry(b.scores(i), b.keys(i)))

  /** raw-bits projection so NaN == NaN and -0.0 != 0.0 compare honestly
    * (case-class == on Double is primitive and makes NaN unequal to itself) */
  private def bits(es: Seq[Entry]): Seq[(Long, Long)] =
    es.map(e => (java.lang.Double.doubleToRawLongBits(e.score), e.key))

  test("insert stream matches GroupedTopK.reduce exactly (ties, k sweep)") {
    for (k <- Seq(1, 3, 8, 50); xs <- Seq(stream(300), nasty)) {
      val typed = new TopK(k)
      val want = typed.finish(xs.foldLeft(typed.zero)(typed.reduce))
      val got = entriesOf(nativeOf(xs, k))
      assert(bits(got) == bits(want), s"k=$k xs=${xs.take(4)}...")
    }
  }

  test("merge is split-point independent and matches the typed merge") {
    val k = 5
    val typed = new TopK(k)
    for (xs <- Seq(stream(200), nasty)) {
      val want = typed.finish(xs.foldLeft(typed.zero)(typed.reduce))
      for (cut <- Seq(0, 1, 3, xs.size / 2, xs.size)) {
        val (a, b) = xs.splitAt(cut)
        val input = nativeOf(b, k)
        val m = NativeTopK.mergeBufs(nativeOf(a, k), input)
        assert(bits(entriesOf(m)) == bits(want), s"cut=$cut")
        assert(!(m eq input), s"cut=$cut: the result aliases the merge input")
      }
    }
  }

  test("serialize round-trips the buffer") {
    for (k <- Seq(1, 4, 16); xs <- Seq(stream(40), nasty)) {
      val b = nativeOf(xs, k)
      val r = NativeTopK.deserializeBuf(NativeTopK.serializeBuf(b))
      assert(r.k == b.k && r.n == b.n)
      assert(bits(entriesOf(r)) == bits(entriesOf(b)))
    }
  }

  test("score-avg == avg over the window-kept rows, summed in rank order") {
    for (k <- Seq(1, 3, 8, 50)) {
      val xs = stream(137)
      // the replaced plan: rank by (score DESC, key ASC), keep k, then a
      // partial avg that accumulates the kept rows in exactly that order
      val kept = xs.sortBy(e => (-e.score, e.key)).take(k)
      val want = kept.map(_.score).foldLeft(0.0)(_ + _) / kept.size
      val b = nativeOf(xs, k)
      var s = 0.0
      var i = 0
      while (i < b.n) { s += b.scores(i); i += 1 }
      val got = s / b.n
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(want), s"k=$k")
    }
  }

  test("dedup buffer keeps set semantics under inserts and merges") {
    // reference: distinct entries, sorted by (score DESC, key ASC), take k
    def reference(xs: Seq[Entry], k: Int): Seq[Entry] =
      xs.distinct.sortBy(e => (-e.score, e.key)).take(k)
    val xs = (0 until 120).map { i =>
      val h = (i * 7L) % 23L // many exact duplicates
      // pre-normalized score (h=0 would be -0.0; the buffer normalizes it)
      Entry(if (h == 0L) 0.0 else -h.toDouble, h)
    }
    for (k <- Seq(1, 5, 23, 40)) {
      val b = new Buf(k, dedup = true)
      xs.foreach(e => b.insert(e.score, e.key))
      assert(bits(entriesOf(b)) == bits(reference(xs, k)), s"insert k=$k")
      for (cut <- Seq(1, 37, 80)) {
        val (p, q) = xs.splitAt(cut)
        val bp = new Buf(k, dedup = true)
        p.foreach(e => bp.insert(e.score, e.key))
        val bq = new Buf(k, dedup = true)
        q.foreach(e => bq.insert(e.score, e.key))
        val m = NativeTopK.mergeBufs(bp, bq)
        assert(bits(entriesOf(m)) == bits(reference(xs, k)), s"merge k=$k cut=$cut")
      }
      // dedup survives a serialize round trip
      val r = NativeTopK.deserializeBuf(NativeTopK.serializeBuf(b))
      assert(r.dedup && bits(entriesOf(r)) == bits(entriesOf(b)))
    }
  }

  test("buffer bounded by k, sorted, -0.0 normalized on entry") {
    val b = new Buf(3)
    Seq(Entry(-0.0d, 9L), Entry(0.0d, 1L), Entry(2.0d, 5L), Entry(2.0d, 4L))
      .foreach(e => b.insert(e.score, e.key))
    assert(b.n == 3)
    // 2.0 ties break key-ascending; the zero kept is normalized to +0.0
    assert(entriesOf(b) == Seq(Entry(2.0, 4L), Entry(2.0, 5L), Entry(0.0, 1L)))
    assert(java.lang.Double.doubleToRawLongBits(b.scores(2)) == 0L)
  }
}
