package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k aggregate over (score, id) pairs, ordered by
  * score DESC then id ASC — the reference's argsort-stability
  * tie-break (`main.py:91`), as an aggregate instead of a window.
  *
  * Why: `row_number() OVER (PARTITION BY q ORDER BY score DESC)`
  * must SORT every group's full candidate list (|C| rows per query)
  * before `WindowGroupLimit` can truncate — measured 1.4s of the
  * flagship's 2.2s at sf0.1 (1.5M-row per-partition sort). An
  * aggregate keeps only k entries per group at all times: map-side
  * partial aggregation means the shuffle carries one k-entry state
  * per (group × input partition) instead of |Q|·|C| scored rows, and
  * no sort of the candidate set ever happens. At 100 TB this turns
  * the matcher's dominant cost from |Q|·|C|·log(|C|) comparisons +
  * full-width shuffle into a streaming O(|Q|·|C|·k) pass.
  *
  * Output: `array<struct<score:double, id:bigint>>`, sorted by the
  * same (score DESC, id ASC) order — `element_at(out, r)` is the
  * rank-r match, exactly `row_number() = r` of the window form
  * (parity pinned by GraftProperties).
  *
  * Null scores or ids are skipped. Users: the ANN scans (Ann),
  * Curation and LateInteraction; the flagship matcher keeps the same
  * [[TopKBuffer]] inside its per-row kernel instead
  * (graft.operators.MatchReportExpr).
  */
object TopKByScoreAgg {
  import org.apache.spark.sql.graftbridge.{toColumn, toExpression}

  /** Aggregate Column: top-k (score, id) per group, sorted. */
  def topK(score: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column,
           k: Int): org.apache.spark.sql.Column =
    toColumn(TopKByScoreAgg(toExpression(score), toExpression(id), k)
      .toAggregateExpression())
}

case class TopKByScoreAgg(
    scoreChild: Expression,
    idChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] with ImplicitCastInputTypes {

  require(k >= 1, "k must be >= 1")

  // analyzer-inserted casts (or an analysis error) instead of a
  // runtime ClassCastException when the SQL surface passes e.g. an
  // int score
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.AbstractType] = Seq(DoubleType, LongType)

  override def children: Seq[Expression] = Seq(scoreChild, idChild)

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "graft_topk_by_score"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = scoreChild.eval(input)
    val i = idChild.eval(input)
    if (s != null && i != null)
      buffer.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.size) {
      buffer.insert(other.scores(i), other.ids(i))
      i += 1
    }
    buffer
  }

  override def eval(buffer: TopKBuffer): Any = {
    val out = new Array[Any](buffer.size)
    var i = 0
    while (i < buffer.size) {
      out(i) = InternalRow(buffer.scores(i), buffer.ids(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buffer: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.size * 16)
    bb.putInt(buffer.size)
    var i = 0
    while (i < buffer.size) {
      bb.putDouble(buffer.scores(i)); bb.putLong(buffer.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k)
    var i = 0
    while (i < n) { buf.insert(bb.getDouble, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScoreAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScoreAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScoreAgg =
    copy(scoreChild = newChildren(0), idChild = newChildren(1))
}

/** Sorted bounded buffer of (score, id), kept in (score DESC, id ASC)
  * order by insertion — k is small (matcher default 2), so shifting
  * an array beats heap bookkeeping. */
final class TopKBuffer(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size: Int = 0

  /** true if (s1, i1) ranks strictly before (s2, i2).
    * java.lang.Double.compare, not primitive >: primitive comparisons
    * are all-false for NaN, which would silently DROP NaN scores here
    * while the row_number window fallback (Ann.rankTopK) sorts NaN as
    * the largest double — the two documented-identical branches would
    * diverge. Double.compare orders NaN greatest (and -0.0 < 0.0),
    * matching Spark's total sort order. */
  @inline private def before(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c > 0 || (c == 0 && i1 < i2)
  }

  def insert(s: Double, id: Long): Unit = {
    if (size == k && !before(s, id, scores(size - 1), ids(size - 1))) return
    // find insertion point (k is tiny — linear scan)
    var pos = if (size == k) size - 1 else size
    while (pos > 0 && before(s, id, scores(pos - 1), ids(pos - 1))) pos -= 1
    if (size < k) size += 1
    // shift down to make room
    var j = size - 1
    while (j > pos) { scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1 }
    scores(pos) = s
    ids(pos) = id
  }
}
