package graft

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.streaming.ReplayGuard

/** [[ReplayGuard]] over a `MemoryStream`: the fold sees each batch id
  * once, whether the id comes back from the checkpoint or sits at or
  * below a caller's `startAfter`; the emit sees every delivery.
  */
class ReplayGuardSpec extends SparkSpec {
  import spark.implicits._

  /** A guarded writer over `mem` recording the values it folds and the
    * batch ids it emits.
    */
  private def recording(mem: MemoryStream[Long], ckpt: String, startAfter: Long)
      : (DataStreamWriter[Row], ArrayBuffer[Long], ArrayBuffer[Long]) = {
    val folded = ArrayBuffer.empty[Long]
    val emitted = ArrayBuffer.empty[Long]
    val writer = ReplayGuard.foreachBatch(mem.toDF(), ckpt, startAfter) { b =>
      folded.synchronized { folded ++= b.as[Long].collect() }
    } { (_, id) => emitted.synchronized { emitted += id } }
    (writer, folded, emitted)
  }

  test("replay guard: a batch replayed from the checkpoint is folded once") {
    implicit val ctx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_guard_ckpt").toFile
    val mem = MemoryStream[Long]
    val (writer, folded, emitted) = recording(mem, ckpt.toString, -1L)
    val q1 = writer.start()
    try {
      Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L)).foreach { chunk =>
        mem.addData(chunk: _*); q1.processAllAvailable()
      }
    } finally q1.stop()
    // without the newest commit, the restarted query runs that batch
    // again under the same id, as after a crash before the commit
    val commits = new File(ckpt, "commits")
    val newest = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(newest === 2L)
    assert(new File(commits, newest.toString).delete())
    new File(commits, s".$newest.crc").delete()
    val q2 = writer.start()
    try {
      q2.processAllAvailable()
      mem.addData(6L); q2.processAllAvailable()
    } finally q2.stop()
    assert(emitted.synchronized(emitted.toList) === List(0L, 1L, 2L, 2L, 3L),
      "the replayed batch must be delivered (and emitted) a second time")
    assert(folded.synchronized(folded.sorted.toList) === (1L to 6L).toList)
  }

  test("replay guard: a new writer with startAfter = k folds only ids above k and emits every id") {
    implicit val ctx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_guard_after").toString
    val mem = MemoryStream[Long]
    val (writer, folded, emitted) = recording(mem, ckpt, 1L)
    val q = writer.start()
    try {
      Seq(Seq(10L), Seq(20L, 21L), Seq(30L)).foreach { chunk =>
        mem.addData(chunk: _*); q.processAllAvailable()
      }
    } finally q.stop()
    assert(emitted.synchronized(emitted.toList) === List(0L, 1L, 2L))
    assert(folded.synchronized(folded.toList) === List(30L))
  }
}
