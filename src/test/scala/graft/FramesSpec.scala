package graft

import java.util.concurrent.CountDownLatch
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite

/** Frames.overlap failure-path contract (r18 verdict #4): if chain `b`
  * throws while `a` is in flight, `a` must still be awaited before the
  * failure propagates — otherwise a's jobs keep running orphaned
  * against scratch dirs and a's own failure is never observed.
  */
class FramesSpec extends AnyFunSuite {

  test("overlap: b's failure waits for a and rethrows b") {
    val aDone = new CountDownLatch(1)
    val aStarted = new CountDownLatch(1)
    val ex = intercept[RuntimeException] {
      Frames.overlap {
        aStarted.countDown()
        Thread.sleep(200)
        aDone.countDown()
        42
      } {
        aStarted.await()
        throw new RuntimeException("b failed")
      }
    }
    assert(ex.getMessage == "b failed")
    // the contract: a was awaited BEFORE the rethrow, not left running
    assert(aDone.getCount == 0, "chain a must have completed before rethrow")
  }

  test("overlap: when both fail, b's failure carries a's as suppressed") {
    val ex = intercept[RuntimeException] {
      Frames.overlap[Int, Int] {
        Thread.sleep(100)
        throw new IllegalStateException("a failed")
      } {
        throw new RuntimeException("b failed")
      }
    }
    assert(ex.getMessage == "b failed")
    assert(ex.getSuppressed.exists(_.getMessage.contains("a failed")),
      s"a's failure must surface as suppressed, got " +
        ex.getSuppressed.map(_.getMessage).mkString(","))
  }

  test("overlap: a's failure still observed when b succeeds") {
    val ex = intercept[IllegalStateException] {
      Frames.overlap[Int, Int] { throw new IllegalStateException("a failed") } { 7 }
    }
    assert(ex.getMessage == "a failed")
  }

  test("overlap: a wedged chain a is abandoned after the bound, b rethrown") {
    val release = new CountDownLatch(1)
    try {
      val t0 = System.nanoTime()
      val ex = intercept[RuntimeException] {
        Frames.overlap { release.await(); 1 } (
          throw new RuntimeException("b failed"), abandonAfter = 200.millis)
      }
      assert(ex.getMessage == "b failed")
      assert(ex.getSuppressed.exists(_.getMessage.contains("chain a abandoned")),
        ex.getSuppressed.map(_.getMessage).mkString(","))
      assert((System.nanoTime() - t0) / 1000000 < 30000)
    } finally release.countDown()
  }

  test("overlap: an interrupted wait keeps the thread's interrupt flag") {
    val release = new CountDownLatch(1)
    try {
      val ex = intercept[RuntimeException] {
        Frames.overlap { release.await(); 1 } {
          Thread.currentThread().interrupt()
          throw new RuntimeException("b failed")
        }
      }
      assert(ex.getSuppressed.exists(_.isInstanceOf[InterruptedException]),
        ex.getSuppressed.mkString(","))
      assert(Thread.interrupted(), "interrupt flag must be re-set")
    } finally release.countDown()
  }

  test("overlap: success path returns both results") {
    assert(Frames.overlap { 1 } { "x" } == ((1, "x")))
  }
}
