package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** JSON token source/sink (S4/S5: load_tokens/save_tokens analogs,
  * midi_tokenizer.py:3372-3437): the dictionary and decoded posting ids
  * round-trip through a JSON dataset losslessly. */
class JsonIoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val indexDir = {
    val d = "/tmp/graft_test_index/jsonio"
    graft.queries.IndexCache.deleteRecursively(d)
    graft.index.IndexBuilder.build(spark, "/root/testdata/sf0.001", d,
      graft.index.IndexConfig(blockSize = 32, bucketRange = 128, postingsBuckets = 2))
    d
  }

  test("dictionary → JSON sink → JSON source round-trip") {
    import spark.implicits._
    val h = graft.query.IndexReader.load(spark, indexDir)
    val tmp = java.nio.file.Files.createTempDirectory("graft_json").toString
    try {
      val dir = tmp + "/dict"
      h.dictionary.toDF().coalesce(1).write.mode("overwrite").json(dir)
      val back = spark.read.json(dir)
        .select(col("termId").cast("int"), col("term"), col("df").cast("long"), col("cf").cast("long"))
        .as[graft.index.TermEntry]
        .collect().sortBy(_.termId)
      val orig = h.dictionary.collect().sortBy(_.termId)
      assert(back.toSeq == orig.toSeq)
    } finally graft.queries.IndexCache.deleteRecursively(tmp)
  }

  test("posting ids as JSON arrays (ids + ids_encoded flag, like save_tokens)") {
    import spark.implicits._
    val h = graft.query.IndexReader.load(spark, indexDir)
    val dumped = h.postings.map { b =>
      (b.termId, b.blockId, graft.codec.VByte.decodeDocIds(b.docIdGaps).toSeq, false)
    }.toDF("termId", "blockId", "ids", "ids_encoded")
    val tmp = java.nio.file.Files.createTempDirectory("graft_json").toString
    try {
      val dir = tmp + "/tokens"
      dumped.coalesce(1).write.mode("overwrite").json(dir)
      val back = spark.read.json(dir)
      assert(back.count() == h.postings.count())
      val checkA = dumped.agg(sum(size(col("ids")))).head().getLong(0)
      val checkB = back.agg(sum(size(col("ids")))).head().getLong(0)
      assert(checkA == checkB)
    } finally graft.queries.IndexCache.deleteRecursively(tmp)
  }
}
