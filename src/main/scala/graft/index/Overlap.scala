package graft.index

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

/** Driver-thread overlap of INDEPENDENT Spark jobs (optimization guide
  * §2.6) with one failure contract for every call site: the background
  * work ALWAYS runs to completion (success or failure) before control
  * returns or an exception propagates — a failed foreground must never
  * leave an orphaned background job still writing into a
  * version/manifest-derived directory that the caller's retry would then
  * race. Spark's FIFO scheduler gives the earlier job priority and lets
  * the later one back-fill its straggler tail, which is the §2.6 win. */
object Overlap {

  /** Run `bg` concurrently with `fg`; return both results. If `fg` throws,
    * WAIT for `bg` to finish (quiesce) and rethrow `fg`'s error; if only
    * `bg` failed, its error propagates after `fg` completes. */
  def overlap[A, B](bg: => A)(fg: => B): (A, B) = {
    val f = Future(bg)
    val r =
      try fg
      catch {
        case t: Throwable =>
          Await.ready(f, Duration.Inf) // quiesce before any retry can start
          throw t
      }
    (Await.result(f, Duration.Inf), r)
  }

  /** UTF-8 binary (unsigned byte) string comparison — Spark UTF8String /
    * DuckDB binary-collation order, i.e. code-point order. Driver-side
    * sorts that replace a Spark `orderBy` MUST use this, not Java
    * `String.compareTo` (UTF-16 code units): the two diverge for
    * supplementary-plane characters vs U+E000..U+FFFF, which would
    * silently reorder tie-broken ranks against the SQL oracle's
    * collation. */
  def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }
}
