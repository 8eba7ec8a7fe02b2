package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Second-moment (Gram) census of a micro-unit-quantized vector column
  * as ONE partial aggregate — the scale-safe shape for
  * `pca_power_iteration`'s corpus pass.
  *
  * The previous formulation exploded each row into d² = 4096
  * (i, j, ui·uj) cells and hash-aggregated them: correct, but the
  * explode MATERIALIZES d²·N rows (245M at the 30× probe) and goes
  * GC-bound long before the arithmetic saturates. Here no row
  * inflation exists at ANY scale: each task folds its rows into one
  * flat Long buffer (upper-triangle Gram + per-dim sums + count —
  * d(d+1)/2 + d + 1 longs, 16.9 KB at d = 64), partials merge by
  * element-wise addition, and the single-partition exchange carries
  * n_partitions buffers of scalars, never rows. The per-row work is
  * the same d(d+1)/2 multiply-adds the explode paid — minus the row
  * construction, shuffle hashing, and aggregation hash map.
  *
  * Exactness contract: inputs are integer micro-units, every
  * accumulation is `Math.addExact`/`multiplyExact` Long arithmetic —
  * associative and commutative, so ANY partial-aggregation plan yields
  * bit-identical sums to the DuckDB oracle's DECIMAL sums (which this
  * replaced explode also produced), and overflow fails LOUD instead of
  * wrapping (the oracle's DECIMAL(18,0) contract is well inside Long).
  *
  * eval emits one flat array: [0, d²) the FULL Gram (triangle
  * mirrored — downstream algebra wants both (i,j) and (j,i)),
  * [d², d²+d) per-dimension sums, [d²+d] the row count. Consumers
  * posexplode slices of this one row — census-sized from there on.
  */
case class GramMatrixAgg(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with LongArrayBuffer {

  private val tri = dim * (dim + 1) / 2

  // buffer: [0, tri) upper-triangle gram (i <= j, row-major skipping
  // the sub-diagonal), [tri, tri + dim) sums, [tri + dim] count
  override def createAggregationBuffer(): Array[Long] = new Array[Long](tri + dim + 1)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val u = v.asInstanceOf[ArrayData].toLongArray()
      require(u.length == dim, s"expected $dim-dim vector, got ${u.length}")
      var t = 0
      var i = 0
      while (i < dim) {
        val ui = u(i)
        var j = i
        while (j < dim) {
          buf(t) = Math.addExact(buf(t), Math.multiplyExact(ui, u(j)))
          t += 1
          j += 1
        }
        buf(tri + i) = Math.addExact(buf(tri + i), ui)
        i += 1
      }
      buf(tri + dim) += 1
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) = Math.addExact(b1(i), b2(i)); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[Long](dim * dim + dim + 1)
    var t = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        out(i * dim + j) = buf(t)
        out(j * dim + i) = buf(t)
        t += 1
        j += 1
      }
      out(dim * dim + i) = buf(tri + i)
      i += 1
    }
    out(dim * dim + dim) = buf(tri + dim)
    new GenericArrayData(out)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = child :: Nil
  override def prettyName: String = "gram_matrix"

  override def withNewMutableAggBufferOffset(offset: Int): GramMatrixAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): GramMatrixAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GramMatrixAgg =
    copy(child = newChildren.head)
}

object GramMatrixAgg {
  /** Column API: `c` is an array<bigint> vector of length `dim`. */
  def apply(c: Column, dim: Int): Column =
    GraftSqlBridge.column(
      GramMatrixAgg(GraftSqlBridge.expression(c), dim).toAggregateExpression())
}
