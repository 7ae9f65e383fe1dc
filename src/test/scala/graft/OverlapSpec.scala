package graft

import graft.index.Overlap
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** The [[Overlap]] no-orphans contract that overlapped lifecycle writes rely
  * on: no result and no error leaves `overlap` while the background is
  * still running. Each case holds the background inside its body until
  * the foreground has started failing, so the background is provably still
  * running when the failure happens. */
class OverlapSpec extends AnyFunSuite {

  /** A background body that waits for `started`, then keeps running for a
    * while before recording that it finished. */
  private def slowBackground(started: CountDownLatch, finished: AtomicBoolean): Int = {
    assert(started.await(10, TimeUnit.SECONDS), "foreground never started")
    Thread.sleep(300)
    finished.set(true)
    1
  }

  test("overlap: a failing foreground rethrows only after the background finished") {
    val started = new CountDownLatch(1)
    val finished = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Overlap.overlap(slowBackground(started, finished)) {
        started.countDown()
        throw new IllegalStateException("foreground failed")
      }
    }
    assert(e.getMessage == "foreground failed")
    assert(finished.get, "overlap rethrew while the background was still running")
  }

  test("overlap: the foreground's error wins when both sides fail") {
    val started = new CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      Overlap.overlap[Int, Int] {
        assert(started.await(10, TimeUnit.SECONDS))
        throw new IllegalArgumentException("background failed")
      } {
        started.countDown()
        throw new IllegalStateException("foreground failed")
      }
    }
    assert(e.getMessage == "foreground failed")
  }

  test("overlap: a background failure surfaces after the foreground completes") {
    val fgDone = new AtomicBoolean(false)
    val e = intercept[IllegalArgumentException] {
      Overlap.overlap[Int, Int](throw new IllegalArgumentException("background failed")) {
        Thread.sleep(100)
        fgDone.set(true)
        2
      }
    }
    assert(e.getMessage == "background failed" && fgDone.get)
    assert(Overlap.overlap(1)(2) == ((1, 2)))
  }
}
