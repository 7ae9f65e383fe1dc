package graft

import graft.corpus.Pages
import graft.index._
import graft.query._
import graft.tokenize.Tokenizers
import org.scalatest.funsuite.AnyFunSuite

/** Head/tail vocabulary split (north star: frequency-driven vocab): under a
  * cap, only the head gets posting lists; tail terms behave as OOV, and
  * head-only queries stay rank-identical to the oracle. */
class VocabCapSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val Cap = 5

  private lazy val dir = {
    val d = "/tmp/graft_test_index/vocabcap"
    graft.queries.IndexCache.deleteRecursively(d)
    IndexBuilder.build(spark, sfDir, d,
      IndexConfig(blockSize = 16, bucketRange = 64, vocabCap = Some(Cap)))
    d
  }
  private lazy val handle = IndexReader.load(spark, dir)

  test("postings exist only for head termIds; full dictionary still on disk") {
    val ids = handle.postings.collect().map(_.termId).toSet
    assert(ids.nonEmpty && ids.forall(_ < Cap), s"tail termIds indexed: ${ids.filter(_ >= Cap)}")
    assert(handle.dictionary.count() > Cap, "full dictionary should be persisted")
  }

  test("head-only queries are rank-identical to the head-restricted oracle") {
    val headTerms = handle.dictionary.collect().filter(_.termId < Cap).map(_.term).sorted
    val cleaned = Pages.cleaned(Pages.withInjections(spark, sfDir))
    val td = IndexBuilder.termDocs(cleaned, Tokenizers.default)
    val m = handle.manifest
    val headDict = handle.dictMap.filter { case (_, e) => e.termId < Cap }
    val oracle = OracleScorer.build(td, headDict, m.nDocs, m.avgdl)
    val queries = headTerms.zipWithIndex.map { case (t, i) => QuerySpec(i, Seq(t)) } :+
      QuerySpec(99, headTerms.take(3).toSeq)
    val got = Wand.topK(handle, queries, 10)
    queries.foreach { q =>
      val want = oracle.topK(q.terms, 10)
      assert(got(q.queryId).toSeq == want.toSeq, s"q=${q.terms}")
    }
  }

  test("an append without the cap is refused before any side effect") {
    import org.apache.spark.sql.functions._
    val m = handle.manifest
    val manifestBefore = Store.readString(s"$dir/manifest.json")
    val filesBefore = IndexTestUtil.fileSizes(dir)
    val delta = Pages.withInjections(spark, sfDir).filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + lit(m.maxDocId + 1))
    val e = intercept[IllegalArgumentException](IndexBuilder.append(spark, delta, dir,
      IndexConfig(blockSize = 16, bucketRange = 64)))
    assert(e.getMessage.contains("analyzer"), e.getMessage)
    assert(Store.readString(s"$dir/manifest.json") == manifestBefore)
    assert(IndexTestUtil.fileSizes(dir) == filesBefore, "a refused append must leave the index untouched")
  }

  test("tail-term queries return empty (OOV semantics)") {
    val tail = handle.dictionary.collect().filter(_.termId >= Cap).map(_.term).head
    val got = Wand.topK(handle, Seq(QuerySpec(1, Seq(tail))), 10)
    assert(got(1).isEmpty)
  }
}
