package graft.functions

import java.math.RoundingMode

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** One Lloyd (k-means) update pass — assignment + per-cluster
  * per-dimension sums + member counts — as ONE partial aggregate, for
  * ALL product-quantization subspaces at once (plain k-means is the
  * M = 1 case).
  *
  * The previous formulation assigned with [[CentroidAssign]] and then
  * `posexplode`d each embedding into dim (idx, v) rows for a
  * `groupBy(cluster, idx)` decimal sum: correct, and the shuffle was
  * already k·dim scalars, but the explode MATERIALIZES dim·N rows per
  * iteration (M·dim·N for PQ's extra subspace explode) through row
  * construction, aggregation hashing, and GC — the same shape
  * [[GramMatrixAgg]] replaced for pca_power_iteration. Here no row
  * inflation exists at ANY scale: each task folds its rows into one
  * flat Long buffer (M·k·subDim sums + M·k counts), partials merge by
  * element-wise addition, and the single-partition exchange carries
  * n_partitions buffers of scalars, never rows.
  *
  * Exactness contract (bit-identical to the exploded form, pinned by
  * KMeansSpec):
  *  - assignment per subspace is [[CentroidAssign.assignSlice]] — the
  *    IDENTICAL loop the exploded form ran via `CentroidAssign` over
  *    `slice(emb, m·subDim+1, subDim)`;
  *  - each component replays Spark's own expression semantics for
  *    `round(v.cast(double), 6).cast(DECIMAL(20,10))`:
  *    `BigDecimal.valueOf` (the canonical-string construction Spark's
  *    Round and Cast both use for doubles), HALF_UP at scale 6, then
  *    HALF_UP at scale 10, accumulated as the EXACT unscaled Long —
  *    associative and commutative, so any partial-aggregation plan
  *    yields the sums the decimal aggregate produced, and overflow
  *    fails LOUD via addExact (Decimal(30,10) headroom is well inside
  *    Long for unit-normed embeddings);
  *  - ragged arrays fail LOUD (the exploded form silently averaged
  *    whatever positions existed; no fixture ships ragged vectors and
  *    silence there would mask corruption).
  *
  * eval emits one flat array: [0, M·k·subDim) the unscaled scale-10
  * sums in (m, c, i) row-major order, then [M·k·subDim, +M·k) the
  * member counts. The caller divides sum/count driver-side replaying
  * the exact `CAST(decimal AS DOUBLE) / n` the old plan computed.
  */
case class LloydUpdateAgg(
    child: Expression,
    codebooks: IndexedSeq[Array[Array[Double]]],
    subDim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with LongArrayBuffer {

  private val m = codebooks.length
  private val k = codebooks.head.length
  private val sums = m * k * subDim
  require(codebooks.forall(_.length == k),
    s"all codebooks must share k=$k clusters")

  // Array-valued params compare by reference under the synthesized
  // equals, defeating Catalyst canonicalization — compare contents
  // (mirrors CentroidAssign / PqLut).
  override def equals(other: Any): Boolean = other match {
    case LloydUpdateAgg(c, cbs, sd, mo, io) =>
      c == child && sd == subDim && mo == mutableAggBufferOffset &&
        io == inputAggBufferOffset && cbs.length == codebooks.length &&
        cbs.zip(codebooks).forall { case (a, b) =>
          java.util.Arrays.deepEquals(
            a.asInstanceOf[Array[AnyRef]], b.asInstanceOf[Array[AnyRef]])
        }
    case _ => false
  }
  override def hashCode(): Int =
    codebooks.foldLeft(31 * child.hashCode() + subDim) { (h, cb) =>
      31 * h + java.util.Arrays.deepHashCode(cb.asInstanceOf[Array[AnyRef]])
    }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](sums + m * k)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      require(arr.numElements() == m * subDim,
        s"expected ${m * subDim}-dim vector, got ${arr.numElements()}")
      var mm = 0
      while (mm < m) {
        val base = mm * subDim
        val c = CentroidAssign.assignSlice(arr, base, subDim, codebooks(mm))
        val off = (mm * k + c) * subDim
        var i = 0
        while (i < subDim) {
          // exact replay of round(v, 6).cast(DECIMAL(20,10)) as the
          // unscaled scale-10 long (see class doc)
          val rounded = java.math.BigDecimal
            .valueOf(arr.getFloat(base + i).toDouble)
            .setScale(6, RoundingMode.HALF_UP).doubleValue()
          val unscaled = java.math.BigDecimal.valueOf(rounded)
            .setScale(10, RoundingMode.HALF_UP).unscaledValue().longValueExact()
          buf(off + i) = Math.addExact(buf(off + i), unscaled)
          i += 1
        }
        buf(sums + mm * k + c) += 1
        mm += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) = Math.addExact(b1(i), b2(i)); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = child :: Nil
  override def prettyName: String = "lloyd_update"

  override def withNewMutableAggBufferOffset(offset: Int): LloydUpdateAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): LloydUpdateAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LloydUpdateAgg =
    copy(child = newChildren.head)
}

object LloydUpdateAgg {
  /** Column API: `c` is an array<float> vector of length
    * codebooks.length * subDim.
    */
  def apply(c: Column, codebooks: IndexedSeq[Array[Array[Double]]],
            subDim: Int): Column =
    GraftSqlBridge.column(
      LloydUpdateAgg(GraftSqlBridge.expression(c), codebooks, subDim)
        .toAggregateExpression())
}
