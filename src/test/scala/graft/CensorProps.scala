package graft

import java.util.regex.{Matcher, Pattern}

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.{CensorText, PortableHash}

/** Property-based checks (ScalaCheck) of the censor kernel and the
  * portable hash family — pure-JVM, no Spark jobs per sample.
  *
  * The reference semantics (MessageFilterProcessor.java:38-41) is the
  * sequential `replaceAll` fold; [[foldRef]] reimplements it directly
  * as the test oracle.
  */
object CensorProps extends Properties("censor") {

  def foldRef(text: String, words: Seq[String]): String =
    words.foldLeft(text) { (t, w) =>
      t.replaceAll("(?i)" + Pattern.quote(w),
        Matcher.quoteReplacement("*" * w.length))
    }

  private val genWord: Gen[String] =
    Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))

  private val genText: Gen[String] = for {
    words <- Gen.listOfN(8, genWord)
    fillers <- Gen.listOfN(8, Gen.oneOf(" ", ", ", "! ", " а ", "++"))
  } yield words.zip(fillers).map { case (w, f) => w + f }.mkString

  private def censor1(words: Seq[String], s: String): String =
    new CensorText.Fold(words).apply(s)

  // Vocabularies where word order matters: words drawn from a small
  // alphabet so substrings and suffix-prefix overlaps are common,
  // spelled in mixed ASCII case, with 'é'/'É' that ASCII (?i) must not
  // fold; texts add non-ASCII filler (Cyrillic 'а', the Kelvin sign that
  // Unicode case folding would equate with 'k').
  private val genOverlapWord: Gen[String] =
    Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'k', 'A', 'B', 'K', 'é', 'É')).map(_.mkString))

  private val genOverlapText: Gen[String] =
    Gen.listOf(Gen.oneOf("a", "b", "k", "A", "B", "K", "é", "É", " ", "а", "\u212A", "*"))
      .map(_.mkString)

  property("arbitrary vocab: CensorText == sequential fold") =
    forAll(Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, genOverlapWord)),
      genOverlapText) { (ws, t) =>
      censor1(ws, t) == foldRef(t, ws)
    }

  property("masking preserves string length") =
    forAll(Gen.listOfN(3, genWord), genText) { (ws, t) =>
      censor1(ws, t).length == t.length
    }

  property("idempotent for *-free words") =
    forAll(Gen.listOfN(3, genWord), genText) { (ws, t) =>
      val once = censor1(ws, t)
      censor1(ws, once) == once
    }

  property("no banned word survives (ASCII case-folded substring)") =
    forAll(Gen.listOfN(3, genWord), genText) { (ws, t) =>
      val out = censor1(ws, t).toLowerCase
      ws.forall(w => !out.contains(w.toLowerCase))
    }

  property("sequential fold also leaves no banned word") =
    forAll(Gen.listOfN(3, genWord), genText) { (ws, t) =>
      val out = foldRef(t, ws).toLowerCase
      ws.forall(w => !out.contains(w.toLowerCase))
    }

  property("h32 constants: permutations stay in [0, P)") =
    forAll(Gen.chooseNum(0L, (1L << 32) - 1)) { h =>
      val hm = h % PortableHash.MersennePrime31
      PortableHash.minhashPerms(12).forall { case (a, b) =>
        val v = (a * hm + b) % PortableHash.MersennePrime31
        v >= 0 && v < PortableHash.MersennePrime31 &&
          a * hm + b > 0 // no Long overflow for any 32-bit input hash
      }
    }

  property("empty word list is identity") =
    forAll(genText)(t => censor1(Nil, t) == t)
}
