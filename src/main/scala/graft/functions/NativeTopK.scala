package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Per-group top-k as a NATIVE [[TypedImperativeAggregate]] — the non-typed
  * successor of [[GroupedTopK]] (r14 VERDICT "next round" #3): same
  * k-bounded mergeable buffer, same total (score DESC, key ASC) order under
  * [[graft.queries.Keys.scoreCompare]] (NaN above +Infinity, signed zeros
  * collapsed), but it runs directly over InternalRows inside
  * ObjectHashAggregate with NO Dataset-encoder round trip per input row and
  * no groupByKey key-projection — the typed path's measured overhead (the
  * r14 break-even that kept q217/q245's neighbor means on rank windows).
  * Map-side partials still shrink every partition to <= k entries per group
  * before the exchange, so at 100 TB the shuffle carries O(k * groups) rows
  * instead of the corpus.
  *
  * Two eval shapes over one buffer:
  *   - [[TopKEntriesAggregate]]: the sorted entry array
  *     ARRAY<STRUCT<score DOUBLE, key BIGINT>> (position == the rank the
  *     replaced row_number window would have assigned);
  *   - [[TopKScoreAvgAggregate]]: mean of the top-k scores, summed in
  *     descending buffer order — bit-identical to `avg(cs)` over the rows a
  *     (score DESC, key ASC) rank window keeps, because Spark's partial avg
  *     accumulates those rows in exactly that sorted order starting from
  *     0.0, and equal scores commute exactly. The key column participates
  *     ONLY in tie-breaking, which never changes the kept score MULTISET,
  *     so the average is tie-break-invariant.
  *
  * Bit-identity with GroupedTopK is pinned by NativeTopKSpec.
  */
object NativeTopK {

  /** Mutable k-bounded buffer: parallel (scores, keys) arrays sorted by
    * (score DESC, key ASC); scores are [[graft.queries.Keys.normalizeScore]]
    * normalized on entry (the GroupedTopK -0.0 rule). With `dedup` set,
    * an (score, key)-identical entry is dropped instead of kept twice —
    * SET semantics for sketch-style top-k (q323's KMV rounds), replacing
    * an upstream `.distinct()` exchange. */
  final class Buf(val k: Int, val dedup: Boolean = false) {
    var n: Int = 0
    val scores = new Array[Double](k)
    val keys = new Array[Long](k)

    def insert(score0: Double, key: Long): Unit = {
      val score = graft.queries.Keys.normalizeScore(score0)
      // fast reject: buffer full and e does not beat the current k-th entry
      // (equal-to-last rejects, exactly GroupedTopK.reduce's guard)
      if (n >= k && !beats(score, key, scores(n - 1), keys(n - 1))) return
      // binary search for the first index this entry beats (the sorted
      // array makes the predicate monotone) == GroupedTopK's indexWhere
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (beats(score, key, scores(mid), keys(mid))) hi = mid
        else lo = mid + 1
      }
      // equal entries sit immediately BEFORE the insertion point (they do
      // not beat each other), so a set-semantics duplicate check is O(1)
      if (dedup && lo > 0 && keys(lo - 1) == key &&
        java.lang.Double.doubleToRawLongBits(scores(lo - 1)) ==
          java.lang.Double.doubleToRawLongBits(score)) return
      val shift = math.min(n, k - 1) - lo // entries past k-1 fall off
      if (shift > 0) {
        System.arraycopy(scores, lo, scores, lo + 1, shift)
        System.arraycopy(keys, lo, keys, lo + 1, shift)
      }
      scores(lo) = score
      keys(lo) = key
      if (n < k) n += 1
    }
  }

  private def beats(s1: Double, k1: Long, s2: Double, k2: Long): Boolean = {
    val c = graft.queries.Keys.scoreCompare(s1, s2)
    c > 0 || (c == 0 && k1 < k2)
  }

  /** Merge two sorted runs, stop at k — O(k), no re-sort (GroupedTopK.merge
    * verbatim over the array representation). Returns `a` unchanged when
    * `b` is empty and `a` holding a copy of `b`'s entries when `a` is empty
    * (both buffers of one aggregate share `k` and `dedup`); otherwise builds
    * a fresh buffer. The result never aliases the merge input `b`. */
  def mergeBufs(a: Buf, b: Buf): Buf = {
    if (b.n == 0) return a
    if (a.n == 0) {
      System.arraycopy(b.scores, 0, a.scores, 0, b.n)
      System.arraycopy(b.keys, 0, a.keys, 0, b.n)
      a.n = b.n
      return a
    }
    val out = new Buf(a.k, a.dedup || b.dedup)
    var i = 0
    var j = 0
    var n = 0
    while (n < a.k && (i < a.n || j < b.n)) {
      val takeA = j >= b.n ||
        (i < a.n && beats(a.scores(i), a.keys(i), b.scores(j), b.keys(j)))
      val (s, ky) =
        if (takeA) { i += 1; (a.scores(i - 1), a.keys(i - 1)) }
        else { j += 1; (b.scores(j - 1), b.keys(j - 1)) }
      // set semantics: a duplicate of the last emitted entry is skipped
      // (duplicates are adjacent in the merged order)
      val dup = out.dedup && n > 0 && out.keys(n - 1) == ky &&
        java.lang.Double.doubleToRawLongBits(out.scores(n - 1)) ==
          java.lang.Double.doubleToRawLongBits(s)
      if (!dup) {
        out.scores(n) = s
        out.keys(n) = ky
        n += 1
      }
    }
    out.n = n
    out
  }

  def serializeBuf(b: Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(9 + 16 * b.n)
    bb.putInt(b.k)
    bb.put(if (b.dedup) 1.toByte else 0.toByte)
    bb.putInt(b.n)
    var i = 0
    while (i < b.n) { bb.putDouble(b.scores(i)); bb.putLong(b.keys(i)); i += 1 }
    bb.array()
  }

  def deserializeBuf(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val k = bb.getInt()
    val dedup = bb.get() == 1.toByte
    val n = bb.getInt()
    val buf = new Buf(k, dedup)
    buf.n = n
    var i = 0
    while (i < n) { buf.scores(i) = bb.getDouble(); buf.keys(i) = bb.getLong(); i += 1 }
    buf
  }

  /** Shared base: children/typing/buffer plumbing for both eval shapes. */
  sealed abstract class BaseTopKAggregate extends TypedImperativeAggregate[Buf] {
    def score: Expression
    def key: Expression
    def k: Int

    /** SET semantics: drop (score, key)-identical duplicates (q323). */
    def dedup: Boolean = false

    override def children: Seq[Expression] = Seq(score, key)
    override def checkInputDataTypes(): TypeCheckResult =
      (score.dataType, key.dataType) match {
        case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
        case (s, ky) => TypeCheckResult.TypeCheckFailure(
          s"topk requires (DOUBLE score, BIGINT key), got ${s.sql}, ${ky.sql}")
      }

    override def createAggregationBuffer(): Buf = new Buf(k, dedup)

    override def update(buffer: Buf, input: InternalRow): Buf = {
      val s = score.eval(input)
      if (s != null) {
        val ky = key.eval(input)
        if (ky != null) {
          buffer.insert(s.asInstanceOf[Double], ky.asInstanceOf[Long])
        }
      }
      buffer
    }

    override def merge(buffer: Buf, input: Buf): Buf = mergeBufs(buffer, input)
    override def serialize(buffer: Buf): Array[Byte] = serializeBuf(buffer)
    override def deserialize(bytes: Array[Byte]): Buf = deserializeBuf(bytes)
  }

  /** Eval shape 1: the sorted (score DESC, key ASC) entry array. */
  case class TopKEntriesAggregate(
      score: Expression,
      key: Expression,
      k: Int,
      override val dedup: Boolean = false,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends BaseTopKAggregate {
    require(k >= 1, s"k must be >= 1, got $k")

    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("score", DoubleType, nullable = false),
        StructField("key", LongType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = false

    override def eval(buffer: Buf): Any = {
      val arr = new Array[Any](buffer.n)
      var i = 0
      while (i < buffer.n) {
        arr(i) = InternalRow(buffer.scores(i), buffer.keys(i))
        i += 1
      }
      new GenericArrayData(arr)
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): TopKEntriesAggregate =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): TopKEntriesAggregate =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(score = newChildren(0), key = newChildren(1))
    override def prettyName: String = "topk_entries"
  }

  /** Eval shape 2: mean of the top-k scores (descending-order summation —
    * see the object scaladoc's bit-identity argument). NULL on an empty
    * buffer (an all-NULL-score group). */
  case class TopKScoreAvgAggregate(
      score: Expression,
      key: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends BaseTopKAggregate {
    require(k >= 1, s"k must be >= 1, got $k")

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    override def eval(buffer: Buf): Any =
      if (buffer.n == 0) null
      else {
        var s = 0.0
        var i = 0
        while (i < buffer.n) { s += buffer.scores(i); i += 1 }
        s / buffer.n
      }

    override def withNewMutableAggBufferOffset(newOffset: Int): TopKScoreAvgAggregate =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): TopKScoreAvgAggregate =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(score = newChildren(0), key = newChildren(1))
    override def prettyName: String = "topk_score_avg"
  }

  private def ex(c: Column): Expression =
    org.apache.spark.sql.graft.GraftSqlShim.expression(c)
  private def co(e: Expression): Column =
    org.apache.spark.sql.graft.GraftSqlShim.column(e)

  /** Column API: top-k (score DESC, key ASC) entries as
    * ARRAY<STRUCT<score, key>> — drop-in for the typed GroupedTopK chain
    * (`element position` == the replaced window's row_number - 1). */
  def topkEntries(score: Column, key: Column, k: Int): Column =
    co(TopKEntriesAggregate(ex(score), ex(key), k).toAggregateExpression())

  /** Column API: set-semantics top-k — (score, key)-identical duplicates
    * count once, replacing an upstream `.distinct()` exchange (q323's KMV
    * sketch rounds). */
  def topkEntriesDistinct(score: Column, key: Column, k: Int): Column =
    co(TopKEntriesAggregate(ex(score), ex(key), k, dedup = true)
      .toAggregateExpression())

  /** Column API: mean of the top-k scores under the same order — drop-in
    * for `avg(score)` over a rank-window `row_number <= k` filter. */
  def topkScoreAvg(score: Column, key: Column, k: Int): Column =
    co(TopKScoreAvgAggregate(ex(score), ex(key), k).toAggregateExpression())
}
