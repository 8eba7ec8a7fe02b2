package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.BlockedKeys

/** Property-based checks (ScalaCheck) of the blocked-pair key set,
  * pure-JVM: `contains(r, s)` is `r + ":" + s` in the key list, for
  * fields with ':' inside, empty fields, multibyte UTF-8 and nulls, and
  * key lists with nulls and duplicates. BlockedProbeSpec runs the same
  * rule through Spark, interpreted and codegen'd.
  */
object BlockedKeysProps extends Properties("blocked_keys") {

  private val genField: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    9 -> Gen.chooseNum(0, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("r2", "x", "s", ":", "", "é", "日本", "🙂", "a:b")).map(_.mkString)))

  private val genPair: Gen[(String, String)] = Gen.zip(genField, genField)

  private def key(p: (String, String)): String =
    if (p._1 == null || p._2 == null) null else p._1 + ":" + p._2

  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  property("contains == concat(r, ':', s) in keys") =
    forAll(Gen.listOf(genPair), Gen.listOf(genField), Gen.listOf(genPair)) { (fromPairs, extra, probes) =>
      val keys = fromPairs.map(key) ++ extra ++ fromPairs.take(3).map(key)
      val set = BlockedKeys(keys)
      val distinct = keys.filter(_ != null).toSet
      set.size == distinct.size && (probes ++ fromPairs).forall { case p @ (r, s) =>
        set.contains(utf8(r), utf8(s)) == (key(p) != null && distinct(key(p)))
      }
    }
}
