package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def wire(seed: Long, n: Int): Array[Byte] = {
    val pop = StreamWorkload.population(seed)
    val sb = new StringBuilder
    (0L until n).foreach { id =>
      val m = pop.message(id)
      sb.append(m.sender).append('\t').append(Gen.inputJson(m)).append('\n')
    }
    pop.blockedPairs(500).foreach(k => sb.append(k).append('\n'))
    Gen.smallWordTable(seed, pop.vocab).foreach(w => sb.append(w).append('\n'))
    Gen.largeWordTable(seed, pop.vocab, 300).foreach(w => sb.append(w).append('\n'))
    sb.toString.getBytes("UTF-8")
  }

  test("the same seed gives byte-identical inputs") {
    assert(java.util.Arrays.equals(wire(42L, 5000), wire(42L, 5000)))
  }

  test("different seeds give different inputs") {
    assert(!java.util.Arrays.equals(wire(1L, 2000), wire(2L, 2000)))
  }

  test("message id is random access: generating out of order changes nothing") {
    val a = StreamWorkload.population(7L)
    val b = StreamWorkload.population(7L)
    val forward = (0L until 300L).map(a.message)
    val backward = (0L until 300L).reverse.map(b.message).reverse
    assert(forward == backward)
  }

  test("texts carry their id tag, null texts occur, senders are skewed") {
    val pop = BatchWorkload.population(3L)
    val msgs = (0L until 20000L).map(pop.message)
    msgs.filter(_.text != null).foreach(m => assert(m.text.endsWith("#" + m.id)))
    assert(msgs.count(_.text == null) > 0)
    val top = msgs.groupBy(_.sender).values.map(_.size).max
    assert(top > 20000 / BatchWorkload.Users * 50, "Zipf senders: the top sender dominates")
  }

  test("the large word table defeats the single-pass censor; the small one has inactive rows") {
    val pop = BatchWorkload.population(5L)
    val large = Gen.largeWordTable(5L, pop.vocab, 300)
    assert(large.size == 300)
    val active = new ReferenceModerator(large).banWords.toSeq
    assert(!graft.ops.Moderation.singlePassEquivalent(active))
    val small = Gen.smallWordTable(5L, pop.vocab)
    assert(small.exists(_._2 != "ban"))
    assert(Gen.referenceBanned.forall(w => small.contains(w -> "ban")))
  }

  test("JSON values match Spark's to_json conventions") {
    assert(Gen.valueJson("a \"q\" \\ b", "r") == """{"text":"a \"q\" \\ b","receiver":"r"}""")
    assert(Gen.valueJson(null, "r") == """{"receiver":"r"}""")
    assert(Gen.inputJson(Gen.Msg(0, "s", null, "r")) == """{"text":null,"receiver":"r"}""")
  }
}
