package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MemBrokerSpec extends AnyFunSuite {
  private def b(s: String) = s.getBytes("UTF-8")

  test("id tags are parsed from the last '#'") {
    assert(MemBroker.idTag(b("""{"text":"a #b #123","receiver":"u1"}""")) == 123L)
    assert(MemBroker.idTag(b("""{"receiver":"u1"}""")) == -1L)
    assert(MemBroker.idTag(b("""{"text":"#x"}""")) == -1L)
  }

  test("commit is atomic and read_committed; aborted data is invisible") {
    val broker = MemBroker.create("spec-atomic", "out")
    val f = MemBroker.Factory("spec-atomic")
    val p = f.create("t-p0")
    p.initTransactions(); p.beginTransaction()
    p.send("out", b("k"), b("""{"text":"x #0"}"""))
    p.abortTransaction()
    assert(broker.copiesOf(0) == 0 && broker.aborts == 1)
    p.beginTransaction()
    p.send("out", b("k"), b("""{"text":"x #0"}"""))
    p.send("out", b("k"), b("""{"text":"y #1"}"""))
    assert(broker.copiesOf(0) == 0, "nothing visible before commit")
    p.commitTransaction()
    assert(broker.copiesOf(0) == 1 && broker.copiesOf(1) == 1)
    assert(broker.valueOf(1) == """{"text":"y #1"}""")
    MemBroker.drop("spec-atomic")
  }

  test("a newer epoch fences the older producer") {
    val broker = MemBroker.create("spec-fence", "out")
    val f = MemBroker.Factory("spec-fence")
    val zombie = f.create("t-p0")
    zombie.initTransactions(); zombie.beginTransaction()
    zombie.send("out", b("k"), b("""{"text":"z #5"}"""))
    val fresh = f.create("t-p0")
    fresh.initTransactions()
    assertThrows[IllegalStateException](zombie.commitTransaction())
    assert(broker.copiesOf(5) == 0)
    MemBroker.drop("spec-fence")
  }

  test("re-delivered ids count as duplicates; the ledger keeps the highest batch") {
    val broker = MemBroker.create("spec-dup", "out")
    val f = MemBroker.Factory("spec-dup")
    (0 to 1).foreach { batch =>
      val p = f.create("t-p0")
      p.initTransactions(); p.beginTransaction()
      p.send("out", b("k"), b("""{"text":"m #9"}"""))
      p.send("ledger", b("t-p0"), java.nio.ByteBuffer.allocate(8).putLong(batch.toLong).array())
      p.commitTransaction()
    }
    assert(broker.duplicates == 1 && broker.copiesOf(9) == 2)
    assert(f.lastCommittedBatch("t-p0", "ledger") == 1L)
    assert(broker.batchCommitNs.keySet == Set(0L, 1L))
    MemBroker.drop("spec-dup")
  }
}
