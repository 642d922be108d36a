package graft.engine

import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.Future
import scala.concurrent.ExecutionContext.Implicits.global

import org.scalatest.funsuite.AnyFunSuite

/** The round tail's failure contract: a round that throws has no tail job
  * still writing state behind it.
  */
class RoundTailSpec extends AnyFunSuite {

  test("awaitAll rethrows a tail failure only after every sibling finished") {
    val siblingDone = new AtomicBoolean(false)
    val failing = Future[Unit](throw new IllegalStateException("first"))
    val slow = Future { Thread.sleep(500); siblingDone.set(true) }
    val later = Future[Unit] { Thread.sleep(100); throw new RuntimeException("second") }
    val e = intercept[IllegalStateException](
      CrawlEngine.awaitAll(Seq(failing, slow, later)))
    assert(e.getMessage == "first", "the first failure in argument order wins")
    assert(siblingDone.get, "awaitAll threw while a sibling was still running")
  }

  test("awaitAll returns when every future succeeds") {
    val done = new AtomicBoolean(false)
    CrawlEngine.awaitAll(Seq(Future(1), Future { Thread.sleep(50); done.set(true) }))
    assert(done.get)
  }
}
