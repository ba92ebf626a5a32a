package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** HyperLogLog++ distinct count (Heule et al., EDBT 2013) with the whole
  * sketch in ONE binary buffer. Spark's `approx_count_distinct` keeps
  * the same registers as `numWords` long buffer columns (1,639 at
  * rsd 0.01), which pushes the partial and final aggregates off codegen
  * and makes every shuffled row that wide. Here the buffer is one
  * `UnsafeRow` view over a single `byte[]` (null bitset + `numWords`
  * longs), serialized as that array, so the query plans an
  * `ObjectHashAggregateExec` with one binary buffer column.
  *
  * Update, merge (register-wise max) and the estimate are Spark's own
  * `HyperLogLogPlusPlusHelper` called unchanged, so the hash, the
  * registers and every estimate are bit-identical to
  * `approx_count_distinct(child, relativeSD)` — pinned in ExtendedSpec.
  */
case class HllppAgg(
    child: Expression,
    relativeSD: Double,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[UnsafeRow] {

  @transient private lazy val helper = new HyperLogLogPlusPlusHelper(relativeSD)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "hllpp_count"

  private def view(bytes: Array[Byte]): UnsafeRow = {
    val row = new UnsafeRow(helper.numWords)
    row.pointTo(bytes, bytes.length)
    row
  }

  override def createAggregationBuffer(): UnsafeRow = {
    val n = helper.numWords
    view(new Array[Byte](UnsafeRow.calculateBitSetWidthInBytes(n) + 8 * n))
  }

  override def update(buf: UnsafeRow, input: InternalRow): UnsafeRow = {
    val v = child.eval(input)
    if (v != null) helper.update(buf, 0, v, child.dataType)
    buf
  }

  override def merge(a: UnsafeRow, b: UnsafeRow): UnsafeRow = {
    helper.merge(a, b, 0, 0)
    a
  }

  override def eval(buf: UnsafeRow): Any = helper.query(buf, 0)

  // the view spans the whole array, so getBytes returns it uncopied
  override def serialize(buf: UnsafeRow): Array[Byte] = buf.getBytes
  override def deserialize(bytes: Array[Byte]): UnsafeRow = view(bytes)

  override def withNewMutableAggBufferOffset(o: Int): HllppAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllppAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

object HllppAgg {
  /** Aggregate Column: HLL++ distinct-count estimate of `c` at relative
    * standard deviation `rsd`, equal to `approx_count_distinct(c, rsd)`. */
  def hllpp_count(c: Column, rsd: Double): Column =
    Bridge.column(HllppAgg(Bridge.expression(c), rsd).toAggregateExpression())
}
