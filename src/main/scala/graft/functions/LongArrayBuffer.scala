package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate

/** The serialized form of an `Array[Long]` aggregation buffer: its
  * longs big-endian, 8 bytes each, back to back. Mixed into every
  * aggregate whose buffer is a flat long array; each keeps its own
  * `merge` (and so its own overflow behaviour).
  */
trait LongArrayBuffer extends TypedImperativeAggregate[Array[Long]] {

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }
}
