package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** An immutable set of UTF-8 keys, probed with a directed pair as
  * `receiver ':' sender` without building the concatenated string.
  *
  * Layout: the distinct keys' bytes back to back in one blob, each
  * key's start offset, and an open-addressing table (linear probing,
  * load factor at most 1/2) holding key ordinal + 1, 0 marking an empty
  * slot. That is the key's length plus 12-20 bytes a key, with no
  * per-key object. Serializable, so it ships as one broadcast value.
  */
final class BlockedKeys private (blob: Array[Byte], offsets: Array[Int], table: Array[Int])
    extends Serializable {
  import BlockedKeys._

  /** Number of distinct keys. */
  def size: Int = offsets.length - 1

  /** Bytes held by the blob, offset and table arrays. */
  def sizeInBytes: Long = blob.length.toLong + 4L * (offsets.length + table.length)

  /** True iff `receiver ':' sender` is a key. False when either side is
    * null: the null-propagating `concat` key is NULL and matches nothing.
    */
  def contains(receiver: UTF8String, sender: UTF8String): Boolean = {
    if (receiver == null || sender == null) return false
    val rBase = receiver.getBaseObject
    val rOff = receiver.getBaseOffset
    val rn = receiver.numBytes
    val sBase = sender.getBaseObject
    val sOff = sender.getBaseOffset
    val sn = sender.numBytes
    val len = rn + 1 + sn
    val mask = table.length - 1
    var slot = finish(hash(step(hash(Seed, rBase, rOff, rn), ':'), sBase, sOff, sn)) & mask
    var k = table(slot)
    while (k != 0) {
      val from = offsets(k - 1)
      if (offsets(k) - from == len) {
        val at = Platform.BYTE_ARRAY_OFFSET + from
        if (ByteArrayMethods.arrayEquals(blob, at, rBase, rOff, rn) &&
            blob(from + rn) == ':' &&
            ByteArrayMethods.arrayEquals(blob, at + rn + 1, sBase, sOff, sn)) return true
      }
      slot = (slot + 1) & mask
      k = table(slot)
    }
    false
  }
}

object BlockedKeys {

  /** Builds the set; null and duplicate keys are skipped. */
  def apply(keys: Iterable[String]): BlockedKeys = {
    val encoded = keys.iterator.filter(_ != null).map(_.getBytes(StandardCharsets.UTF_8)).toArray
    val total = encoded.iterator.map(_.length.toLong).sum
    require(total < Int.MaxValue, s"blocked keys hold $total bytes, more than one array can")
    val blob = new Array[Byte](total.toInt)
    val offsets = new Array[Int](encoded.length + 1)
    val table = new Array[Int](capacity(encoded.length))
    val mask = table.length - 1
    var n = 0
    encoded.foreach { b =>
      var slot = finish(hash(Seed, b, Platform.BYTE_ARRAY_OFFSET, b.length)) & mask
      var dup = false
      while (!dup && table(slot) != 0) {
        val k = table(slot)
        dup = offsets(k) - offsets(k - 1) == b.length && ByteArrayMethods.arrayEquals(
          blob, Platform.BYTE_ARRAY_OFFSET + offsets(k - 1), b, Platform.BYTE_ARRAY_OFFSET, b.length)
        if (!dup) slot = (slot + 1) & mask
      }
      if (!dup) {
        System.arraycopy(b, 0, blob, offsets(n), b.length)
        offsets(n + 1) = offsets(n) + b.length
        n += 1
        table(slot) = n
      }
    }
    new BlockedKeys(java.util.Arrays.copyOf(blob, offsets(n)),
      java.util.Arrays.copyOf(offsets, n + 1), table)
  }

  /** The smallest power of two that is at least 2n (and at least 2). */
  private def capacity(n: Int): Int = {
    require(n <= (1 << 29), s"$n blocked keys exceed one open-addressing table")
    math.max(2, Integer.highestOneBit(math.max(1, 2 * n - 1)) << 1)
  }

  // FNV-1a over the bytes, then murmur3's finalizer: a byte-at-a-time
  // hash, so `receiver`, ':' and `sender` hash like their concatenation
  private final val Seed = 0x811c9dc5

  @inline private def step(h: Int, b: Int): Int = (h ^ (b & 0xff)) * 0x01000193

  private def hash(h0: Int, base: AnyRef, offset: Long, n: Int): Int = {
    var h = h0
    var i = 0
    while (i < n) {
      h = step(h, Platform.getByte(base, offset + i))
      i += 1
    }
    h
  }

  private def finish(h0: Int): Int = {
    var h = h0 ^ (h0 >>> 16)
    h *= 0x85ebca6b
    h ^= h >>> 13
    h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }
}
