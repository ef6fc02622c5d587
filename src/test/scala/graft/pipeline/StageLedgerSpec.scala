package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite

class StageLedgerSpec extends AnyFunSuite {

  test("markDone keeps every entry when 16 threads mark stages of one run at once") {
    val root = Files.createTempDirectory("ledger").toString
    val runId = "run_20260101T000000Z_after_-1"
    val stages = (1 to 16).map(i => s"stage_$i")
    val pool = Executors.newFixedThreadPool(stages.size)
    val start = new CountDownLatch(1)
    try {
      val marks = stages.zipWithIndex.map { case (s, i) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            StageLedger.markDone(root, runId, s, (i.toLong, i.toLong + 1))
          }
        })
      }
      start.countDown()
      marks.foreach(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()

    val done = StageLedger.load(root, runId)
    assert(done.keySet == stages.toSet, s"lost entries: ${stages.filterNot(done.contains)}")
    stages.zipWithIndex.foreach { case (s, i) => assert(done(s) == ((i.toLong, i.toLong + 1))) }
  }
}
