package graft.index

import org.scalatest.funsuite.AnyFunSuite

/** [[IndexBuilder.rankFreshOnDriver]]'s termId range: fresh ids are dense
  * from `base` and must stay inside the Int termId space. */
class RankFreshSpec extends AnyFunSuite {

  test("rankFreshOnDriver: ids past Int.MaxValue fail loudly instead of wrapping") {
    val two = Array(("alpha", 2L, 3L), ("beta", 1L, 1L))
    val e = intercept[IllegalArgumentException](
      IndexBuilder.rankFreshOnDriver(two, base = Int.MaxValue.toLong))
    assert(e.getMessage.contains("termId overflow"))
    // the last representable id is still assignable
    val last = IndexBuilder.rankFreshOnDriver(two, base = Int.MaxValue.toLong - 1)
    assert(last.map(_.termId).toSeq == Seq(Int.MaxValue - 1, Int.MaxValue))
    assert(last.map(_.term).toSeq == Seq("alpha", "beta"))
  }
}
