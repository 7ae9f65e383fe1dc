package graft.index

import org.scalatest.funsuite.AnyFunSuite

/** [[IndexConfig]] checks its geometry where it is built: a block size,
  * bucket range, postings bucket count or chunk token target below 1, or
  * a negative chunk count, fails with a message naming the field instead
  * of dividing by zero later (or, for `nChunks`, silently meaning AUTO). */
class IndexConfigSpec extends AnyFunSuite {

  test("IndexConfig rejects geometry below its floor, naming the field") {
    Seq[(String, () => IndexConfig)](
      "blockSize" -> (() => IndexConfig(blockSize = 0)),
      "blockSize" -> (() => IndexConfig(blockSize = -16)),
      "bucketRange" -> (() => IndexConfig(bucketRange = 0)),
      "postingsBuckets" -> (() => IndexConfig(postingsBuckets = 0)),
      "targetTokensPerChunk" -> (() => IndexConfig(targetTokensPerChunk = 0)),
      "nChunks" -> (() => IndexConfig(nChunks = -1))
    ).foreach { case (field, make) =>
      val e = intercept[IllegalArgumentException](make())
      assert(e.getMessage.contains(field), s"$field: ${e.getMessage}")
    }
  }

  test("IndexConfig keeps the smallest legal geometry and AUTO chunking") {
    val c = IndexConfig(blockSize = 1, bucketRange = 1, postingsBuckets = 1,
      targetTokensPerChunk = 1, nChunks = 0)
    assert(c.blocksPerBucket == 1L)
    val e = intercept[IllegalArgumentException](IndexConfig(blockSize = 3, bucketRange = 64))
    assert(e.getMessage.contains("multiple of blockSize"))
  }
}
