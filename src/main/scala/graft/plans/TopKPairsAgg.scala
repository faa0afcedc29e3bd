package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Bounded top-k buffer: the k best (score, id) pairs seen so far, kept
  * sorted best-first under the window total order `score DESC, id ASC`
  * (java.lang.Double.compare, so NaN ranks above every real — identical
  * to Spark's descending sort).
  * Insertion is O(k) array shifting; the common case (full buffer, input
  * no better than the worst) is a single compare.
  */
final class TopKPairsBuffer(val k: Int) {
  var n: Int = 0
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)

  private def beats(s: Double, id: Long, s2: Double, id2: Long): Boolean = {
    val c = java.lang.Double.compare(s, s2)
    c > 0 || (c == 0 && id < id2)
  }

  def insert(s: Double, id: Long): Unit = {
    if (n == k && !beats(s, id, scores(k - 1), ids(k - 1))) return
    var j = if (n < k) n else k - 1
    while (j > 0 && beats(s, id, scores(j - 1), ids(j - 1))) {
      scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1
    }
    scores(j) = s; ids(j) = id
    if (n < k) n += 1
  }
}

/** `topk_pairs(score, id, k)` → array<struct<score,id>>: per-group top-k
  * as a NATIVE imperative aggregate over raw column values.
  *
  * Partial size-k buffers merge associatively, so each map partition
  * ships at most k rows per group and no full group is ever collected or
  * sorted. The buffer is a pair of primitive arrays updated straight from
  * `InternalRow`, with no Encoder ser/de per row (a typed `Aggregator`
  * deserializes every input row into Scala tuples and re-serializes its
  * buffers; that constant factor was ~1.5-2× the whole window-form
  * runtime).
  *
  * Shuffle format: 4 + 16k bytes per group (count + packed
  * double/long pairs). Null score or id inputs are skipped, matching
  * aggregate null semantics.
  */
case class TopKPairsAgg(
    score: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKPairsBuffer] {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(score, id)

  // no ImplicitCastInputTypes (AbstractDataType is private[sql]); the
  // Column/SQL builders below insert the casts, this check reports
  // anything that arrives unconverted
  override def checkInputDataTypes(): TypeCheckResult =
    (score.dataType, id.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"topk_pairs expects (double, bigint), got (${s.sql}, ${i.sql})")
    }
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopKPairsBuffer = new TopKPairsBuffer(k)

  override def update(buf: TopKPairsBuffer, input: InternalRow): TopKPairsBuffer = {
    val s = score.eval(input)
    if (s != null) {
      val i = id.eval(input)
      if (i != null) buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKPairsBuffer, other: TopKPairsBuffer): TopKPairsBuffer = {
    var i = 0
    while (i < other.n) { buf.insert(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKPairsBuffer): Any =
    new GenericArrayData(Array.tabulate[Any](buf.n)(i =>
      new GenericInternalRow(Array[Any](buf.scores(i), buf.ids(i)))))

  override def serialize(buf: TopKPairsBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKPairsBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopKPairsBuffer(k)
    val n = bb.getInt
    buf.n = n
    var i = 0
    while (i < n) { buf.scores(i) = bb.getDouble; buf.ids(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKPairsAgg =
    copy(score = newChildren(0), id = newChildren(1))

  override def prettyName: String = "topk_pairs"
}

object TopKPairs {
  /** Widening casts the analyzer would normally insert via implicit
    * coercion (decimal/float score → double, int id → bigint).
    */
  private[plans] def widened(score: Expression, id: Expression, k: Int): TopKPairsAgg =
    TopKPairsAgg(
      if (score.dataType == DoubleType) score else Cast(score, DoubleType),
      if (id.dataType == LongType) id else Cast(id, LongType), k)

  /** Column-API form: `TopKPairs(col("score"), col("id"), 3)`. */
  def apply(score: Column, id: Column, k: Int): Column =
    bridge.column(widened(
      bridge.expression(score), bridge.expression(id), k).toAggregateExpression())
}
