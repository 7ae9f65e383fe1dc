package graft

import graft.codec.VByte
import graft.corpus.Pages
import graft.index._
import graft.query.{IndexReader, QuerySpec, Wand}
import graft.queries.QuerySet
import graft.tokenize.Tokenizers
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Incremental append: building base then appending the rest must equal a
  * full rebuild in every stats-visible way — same per-term posting content,
  * same dictionary df/cf, same docstats, and BM25 scores identical up to
  * float summation order (termIds differ between the two dictionaries, so
  * impacts sum in a different order). Reference analog: re-runnable
  * `tokenize_dataset` over a grown corpus + idempotent skip
  * (utils/split.py:98-104). */
class AppendSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val cfg = IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 2, postingsBuckets = 2)
  // split at a bucket boundary so block packing matches the rebuild too
  private val SplitAt = 256L

  private lazy val dirs: (String, String) = {
    val appended = "/tmp/graft_test_index/append_inc"
    val full = "/tmp/graft_test_index/append_full"
    Seq(appended, full).foreach(d => graft.queries.IndexCache.deleteRecursively(d))
    val pages = Pages.withInjections(spark, sfDir)
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < SplitAt), appended, cfg)
    IndexBuilder.append(spark, pages.filter(col("doc_id") >= SplitAt), appended, cfg)
    IndexBuilder.buildFrom(spark, pages, full, cfg)
    (appended, full)
  }

  /** term → sorted (docId, tf, positions) content, packing-independent. */
  private def content(dir: String): Map[String, Seq[(Long, Int, Seq[Int])]] = {
    val h = IndexReader.load(spark, dir)
    val termById = h.dictMap.values.map(e => e.termId -> e.term).toMap
    h.postings.collect()
      .flatMap { b =>
        val ids = VByte.decodeDocIds(b.docIdGaps)
        val tfs = VByte.decodeInts(b.tfs)
        val poss = VByte.decodePositions(b.positions, tfs)
        ids.indices.map(j => (termById(b.termId), ids(j), tfs(j), poss(j).toSeq))
      }
      .groupBy(_._1)
      .map { case (t, rows) => t -> rows.map(r => (r._2, r._3, r._4)).sortBy(_._1).toSeq }
  }

  test("appended index == full rebuild: manifest stats, dictionary, postings") {
    val (appended, full) = dirs
    val ma = Manifest.read(s"$appended/manifest.json")
    val mf = Manifest.read(s"$full/manifest.json")
    assert(ma.nDocs == mf.nDocs && ma.totalLen == mf.totalLen &&
      ma.vocabSize == mf.vocabSize && ma.maxDocId == mf.maxDocId &&
      ma.skippedCorrupt == mf.skippedCorrupt)
    val da = IndexReader.load(spark, appended).dictMap.map { case (t, e) => t -> (e.df, e.cf) }
    val df = IndexReader.load(spark, full).dictMap.map { case (t, e) => t -> (e.df, e.cf) }
    assert(da == df, "dictionary df/cf diverged")
    val ca = content(appended)
    val cf2 = content(full)
    assert(ca.keySet == cf2.keySet)
    ca.keys.foreach(t => assert(ca(t) == cf2(t), s"postings differ for term '$t'"))
  }

  test("old termIds are stable across append (new terms go after vocabSize)") {
    val (appended, _) = dirs
    val base = "/tmp/graft_test_index/append_base_only"
    graft.queries.IndexCache.deleteRecursively(base)
    IndexBuilder.buildFrom(spark,
      Pages.withInjections(spark, sfDir).filter(col("doc_id") < SplitAt), base, cfg)
    val baseIds = IndexReader.load(spark, base).dictMap.map { case (t, e) => t -> e.termId }
    val incIds = IndexReader.load(spark, appended).dictMap.map { case (t, e) => t -> e.termId }
    baseIds.foreach { case (t, id) => assert(incIds(t) == id, s"termId of '$t' moved") }
  }

  test("validator is clean on the appended index; WAND scores match the rebuild") {
    val (appended, full) = dirs
    val ha = IndexReader.load(spark, appended)
    val hf = IndexReader.load(spark, full)
    assert(IndexValidator.validate(ha).collect().isEmpty)
    val qa = Wand.topK(ha, QuerySet.queries, 100)
    val qf = Wand.topK(hf, QuerySet.queries, 100)
    QuerySet.queries.foreach { q =>
      val a = qa(q.queryId).map { case (s, d) => d -> s }.toMap
      val f = qf(q.queryId).map { case (s, d) => d -> s }.toMap
      assert(a.keySet == f.keySet, s"q=${q.terms}: candidate docs differ")
      a.foreach { case (d, s) =>
        assert(math.abs(s - f(d)) <= 1e-9 * math.max(1.0, math.abs(s)),
          s"q=${q.terms} doc=$d: $s vs ${f(d)}")
      }
    }
  }

  test("append with a different analyzer (tokenizer config or cleaning allowlist) " +
    "fails loudly BEFORE any side effect — mixed token streams would corrupt the dictionary") {
    val (appended, _) = dirs
    val delta = Pages.withInjections(spark, sfDir)
      .filter(col("doc_id") >= 900) // beyond maxDocId, so only the analyzer check can fire
    val snapBefore = Manifest.read(s"$appended/manifest.json")
    val eTok = intercept[IllegalArgumentException] {
      IndexBuilder.append(spark, delta, appended,
        cfg.copy(tokenizer = cfg.tokenizer.copy(lowercase = false)))
    }
    assert(eTok.getMessage.contains("analyzer"), s"unexpected: ${eTok.getMessage}")
    val eLang = intercept[IllegalArgumentException] {
      IndexBuilder.append(spark, delta, appended, cfg.copy(langs = Set("en")))
    }
    assert(eLang.getMessage.contains("analyzer"), s"unexpected: ${eLang.getMessage}")
    assert(Manifest.read(s"$appended/manifest.json") == snapBefore,
      "a refused append must leave the manifest untouched")
  }

  test("append assigns fresh termIds from vocabSize in (df desc, term) order; WAND finds the new terms") {
    // the base covers the fixture's whole vocabulary, so only the novel
    // terms are fresh; novelK rides on docs with doc_id % 8 <= K, which
    // makes the dfs distinct and ranks them against their name order
    val dir = "/tmp/graft_test_index/append_fresh"
    graft.queries.IndexCache.deleteRecursively(dir)
    val pages = Pages.withInjections(spark, sfDir)
    val base = IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < SplitAt), dir, cfg)
    val delta = (0 until 4).foldLeft(pages.filter(col("doc_id") >= SplitAt)) { (df, k) =>
      df.withColumn("text", when(col("doc_id") % 8 <= k, concat(col("text"), lit(s" novel$k")))
        .otherwise(col("text")))
    }
    IndexBuilder.append(spark, delta, dir, cfg)
    val h = IndexReader.load(spark, dir)

    val td = IndexBuilder.termDocs(Pages.cleaned(delta, cfg.langs), Tokenizers(cfg.tokenizer)).collect()
    val dict = h.dictionary.collect()
    val baseTerms = dict.filter(_.termId < base.vocabSize).map(_.term).toSet
    val freshStats = td.groupBy(_.term).collect {
      case (t, rows) if !baseTerms(t) => (t, rows.length.toLong, rows.map(_.tf.toLong).sum)
    }.toArray
    val want = IndexBuilder.rankFreshOnDriver(freshStats, base.vocabSize).toSeq
    val got = dict.filter(_.termId >= base.vocabSize).sortBy(_.termId).toSeq
    assert(got.map(_.term) == Seq("novel3", "novel2", "novel1", "novel0"),
      s"fresh terms out of (df desc, term) order: $got")
    assert(got.map(_.df).distinct.length == 4, s"fixture dfs must be distinct: $got")
    assert(got.map(_.termId) == (0 until 4).map(i => (base.vocabSize + i).toInt))
    assert(got == want, s"v(N+1) fresh rows != rankFreshOnDriver:\n$got\n$want")

    (0 until 4).foreach { k =>
      val docs = td.filter(_.term == s"novel$k").map(_.docId).toSet
      val hits = Wand.topK(h, Seq(QuerySpec(1, Seq(s"novel$k"))), k = h.manifest.nDocs.toInt)(1)
      assert(hits.map(_._2).toSet == docs && hits.length == docs.size, s"novel$k: WAND hits differ")
    }
  }
}
