package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Count-Min sketch as a `TypedImperativeAggregate` (SURVEY §2.7 — the
  * mutable-buffer aggregate extension point; the "novel sketch" rung
  * of the operator ladder).
  *
  * The buffer is a depth x width array of counters; update hashes the
  * item once per row with the engine-portable md5 hash
  * ([[PortableHash]] — jvm twin [[CountMinSketchAgg.jvmH32]]), merge is
  * element-wise addition (associative — any partial aggregation plan
  * yields the same sketch), eval emits the flattened counter array.
  * Point estimates are `min` over the d counters a probe item maps to
  * — computed by the caller from plan-time bucket indices, which is
  * what makes the whole construction DuckDB-oracle-checkable (the
  * oracle recomputes each probe's buckets as `least` of filtered
  * counts).
  *
  * Scale: the sketch is O(d*w) memory per group regardless of input
  * cardinality, and shuffles only buffers — the standard heavy-hitter
  * / frequency-estimation structure for 100 TB streams.
  */
case class CountMinSketchAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with LongArrayBuffer {

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.toString
      var r = 0
      while (r < depth) {
        buf(r * width + (CountMinSketchAgg.jvmH32(r, s) % width).toInt) += 1
        r += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = child :: Nil
  override def prettyName: String = "count_min_sketch_p"

  override def withNewMutableAggBufferOffset(offset: Int): CountMinSketchAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CountMinSketchAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinSketchAgg =
    copy(child = newChildren.head)
}

object CountMinSketchAgg {

  /** JVM twin of PortableHash.h32(seed, col): unsigned int from the
    * first 4 md5 bytes of "seed|s" — bit-identical to the column/SQL
    * forms.
    */
  def jvmH32(seed: Int, s: String): Long = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"$seed|$s".getBytes(StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Bucket of `item` in sketch row r — for plan-time probe lookups. */
  def bucket(r: Int, item: String, width: Int): Int =
    (jvmH32(r, item) % width).toInt

  /** Column API: aggregate to a flattened depth x width counter array. */
  def apply(c: Column, depth: Int, width: Int): Column =
    GraftSqlBridge.column(
      CountMinSketchAgg(GraftSqlBridge.expression(c), depth, width)
        .toAggregateExpression())

  /** CMS inner product — the classic JOIN-SIZE estimator (Alon-
    * Matias-Szegedy '99 via Cormode-Muthukrishnan '05 §4.2): for
    * sketches of the two join columns, min over rows of
    * Σ_j a[r][j]·b[r][j] estimates Σ_k f_a(k)·f_b(k) = |A ⋈_k B|,
    * never under it, within ε·N_a·N_b (ε = e/width) w.h.p. The
    * planner use: estimate a join's output size from two tiny
    * mergeable sketches — depth×width longs each, collected to the
    * driver — before committing a strategy, without touching either
    * input again.
    */
  def innerProduct(a: Array[Long], b: Array[Long],
                   depth: Int, width: Int): Long = {
    require(a.length == depth * width && b.length == depth * width,
      s"sketch shape mismatch: ${a.length}/${b.length} vs $depth x $width")
    // saturate on overflow instead of wrapping: counter products at
    // the estimator's own target regime (multi-billion-row heavy
    // hitters on both sides) can exceed Long range, and a wrapped
    // negative sum would win the min and break the never-under
    // guarantee. A saturated row is simply a uselessly-loose upper
    // bound, which the min over the other rows may still improve.
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      var s = 0L
      var j = 0
      while (j < width && s != Long.MaxValue) {
        try s = Math.addExact(s, Math.multiplyExact(a(r * width + j), b(r * width + j)))
        catch { case _: ArithmeticException => s = Long.MaxValue }
        j += 1
      }
      if (s < best) best = s
      r += 1
    }
    best
  }
}
