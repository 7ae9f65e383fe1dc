package graft

import graft.corpus.Pages
import graft.index._
import graft.query._
import graft.queries.QuerySet
import graft.tokenize.Tokenizers
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** Rank-identical top-k: block-max WAND vs the brute-force oracle, EXACT
  * double score equality (the north rule's golden invariant — analog of the
  * reference's encode→decode round-trip checks, tests/test_tokenize.py:201-250). */
class WandSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val dir = {
    val d = "/tmp/graft_test_index/wand"
    graft.queries.IndexCache.deleteRecursively(d)
    // small bucketRange (512 = 4 blocks/bucket) to exercise multi-bucket paths
    IndexBuilder.build(spark, sfDir, d,
      IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 3, postingsBuckets = 4))
    d
  }
  private lazy val handle = IndexReader.load(spark, dir)

  private lazy val oracle: OracleScorer.Oracle = {
    val cleaned = Pages.cleaned(Pages.withInjections(spark, sfDir))
    val td = IndexBuilder.termDocs(cleaned, Tokenizers.default)
    val m = handle.manifest
    OracleScorer.build(td, handle.dictMap, m.nDocs, m.avgdl)
  }

  private def assertRankIdentical(queries: Seq[QuerySpec], k: Int): Unit = {
    val got = Wand.topK(handle, queries, k)
    queries.foreach { q =>
      val want = oracle.topK(q.terms, k)
      val g = got(q.queryId)
      assert(g.length == want.length, s"q=${q.terms} size: got ${g.length} want ${want.length}")
      g.zip(want).zipWithIndex.foreach { case (((gs, gd), (ws, wd)), i) =>
        assert(gd == wd, s"q=${q.terms} rank ${i + 1}: docId got $gd want $wd")
        assert(gs == ws, s"q=${q.terms} rank ${i + 1}: score got $gs want $ws (EXACT equality required)")
      }
    }
  }

  test("fixture query set: rank- and score-identical to oracle at k=10") {
    assertRankIdentical(QuerySet.queries, 10)
  }

  test("k larger than result set, k=1, and k=100") {
    assertRankIdentical(QuerySet.queries, 1)
    assertRankIdentical(QuerySet.queries, 100)
  }

  test("200 seeded random queries over the real vocabulary") {
    val vocab = handle.dictMap.keys.toArray.sorted
    val rnd = new scala.util.Random(42)
    val qs = (1 to 200).map { i =>
      val n = 1 + rnd.nextInt(5)
      QuerySpec(i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))))
    }
    assertRankIdentical(qs, 10)
  }

  test("all-OOV query returns empty; empty query returns empty") {
    val got = Wand.topK(handle, Seq(QuerySpec(1, Seq("nosuchterm")), QuerySpec(2, Seq.empty)), 10)
    assert(got(1).isEmpty && got(2).isEmpty)
  }

  test("boosted top-k: per-term weights fold into effective idf (exact doubles)") {
    val boosted = graft.queries.QuerySet.boosted
    val got = Wand.topK(handle, boosted, 10)
    boosted.foreach { q =>
      val want = oracle.topK(q.terms, 10, q.boosts)
      assert(got(q.queryId).toSeq == want.toSeq, s"q=${q.terms} boosts=${q.boosts}")
    }
    // a uniform boost of 1.0 is a no-op (bit-for-bit)
    val unit = QuerySet.queries.map(q =>
      q.copy(boosts = q.terms.map(_ -> 1.0).toMap))
    val gotUnit = Wand.topK(handle, unit, 10)
    val plain = Wand.topK(handle, QuerySet.queries, 10)
    QuerySet.queries.foreach(q =>
      assert(gotUnit(q.queryId).toSeq == plain(q.queryId).toSeq, s"q=${q.terms}"))
    // boosting can genuinely change the ranking on a multi-term query
    assert(QuerySet.queries.exists { q =>
      q.terms.distinct.length > 1 &&
        got(q.queryId).map(_._2).toSeq != plain(q.queryId).map(_._2).toSeq
    }, "fixture boosts never changed any ranking — weak fixture")
  }

  test("filtered top-k: exact among matching docs, corpus-global stats") {
    val pred: Long => Boolean = _ % 3 == 0
    val got = Wand.search(Seq(handle -> 1.0), QuerySet.queries, Wand.Ranked(10), Some(col("docId") % 3 === 0))
    QuerySet.queries.foreach { q =>
      // the definition: full brute-force ranking restricted to matching docs
      val want = oracle.topK(q.terms, Int.MaxValue)
        .filter { case (_, d) => pred(d) }.take(10)
      val g = got(q.queryId)
      assert(g.length == want.length, s"q=${q.terms}: got ${g.length} want ${want.length}")
      g.zip(want).foreach { case ((gs, gd), (ws, wd)) =>
        assert(gd == wd && gs == ws, s"q=${q.terms}: got ($gs,$gd) want ($ws,$wd)")
      }
      // every returned doc satisfies the predicate
      assert(g.forall { case (_, d) => pred(d) })
    }
  }

  test("filtered top-k: always-true filter == unfiltered; empty filter == empty") {
    val all = Wand.topK(handle, QuerySet.queries, 10)
    val allF = Wand.search(Seq(handle -> 1.0), QuerySet.queries, Wand.Ranked(10),
      Some(org.apache.spark.sql.functions.lit(true)))
    QuerySet.queries.foreach { q =>
      assert(allF(q.queryId).toSeq == all(q.queryId).toSeq, s"q=${q.terms}")
    }
    val none = Wand.search(Seq(handle -> 1.0), QuerySet.queries, Wand.Ranked(10),
      Some(org.apache.spark.sql.functions.lit(false)))
    assert(none.values.forall(_.isEmpty))
  }

  test("filtered top-k on url metadata (the site: filter shape)") {
    // urls end in the docId digits — filter to urls ending '0' == docId % 10 == 0
    val got = Wand.search(Seq(handle -> 1.0), QuerySet.queries, Wand.Ranked(10),
      Some(col("url").endsWith("0")))
    QuerySet.queries.foreach { q =>
      val want = oracle.topK(q.terms, Int.MaxValue)
        .filter { case (_, d) => d % 10 == 0 }.take(10)
      assert(got(q.queryId).toSeq == want.toSeq, s"q=${q.terms}")
    }
  }

  test("more-like-this: index-decoded profile == text-derived profile; exact scores") {
    import spark.implicits._
    val srcDoc = 7L
    val tok = Tokenizers.default
    // expected selection from the RAW TEXT (the engine never reads it)
    val text = Pages.cleaned(Pages.withInjections(spark, sfDir))
      .filter(col("doc_id") === srcDoc).select("text").as[String].head()
    val m = handle.manifest
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val wantTerms = tok.terms(text).groupBy(identity).view.mapValues(_.size).toSeq
      .flatMap { case (t, tf) => handle.dictMap.get(t).map(e =>
        (t, r6(tf.toDouble * Bm25.idf(m.nDocs, e.df)))) }
      .sortBy { case (t, sc) => (-sc, t) }
      .take(graft.queries.IndexQueries.MltTermCount).map(_._1)
    val gotTerms = graft.queries.IndexQueries.mltTerms(
      spark, handle, srcDoc, graft.queries.IndexQueries.MltTermCount)
    assert(gotTerms == wantTerms, s"selection drifted: got $gotTerms want $wantTerms")

    // retrieval == from-definition ranking minus the source doc
    val got = graft.queries.IndexQueries.mlt(
      spark, handle, srcDoc, graft.queries.IndexQueries.MltTermCount, 10)
    val want = oracle.topK(wantTerms, Int.MaxValue)
      .filter { case (_, d) => d != srcDoc }.take(10)
    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty && got.forall(_._2 != srcDoc))
  }

  test("index invariants are clean (E7 validator)") {
    val errs = IndexValidator.validate(handle).collect()
    assert(errs.isEmpty, errs.take(5).mkString("; "))
  }

  test("derived block bounds are tight-ish: no bound exceeds the idf*(k1+1) ceiling") {
    val m = handle.manifest
    val dfById = handle.dictMap.values.map(e => e.termId -> e.df).toMap
    handle.postings.collect().foreach { b =>
      val idf = Bm25.idf(m.nDocs, dfById(b.termId))
      val bound = Bm25.scoreWithIdf(idf, b.maxTf, b.minDocLen, m.avgdl)
      val ceiling = idf * (Bm25.K1 + 1.0)
      assert(bound <= ceiling * (1.0 + 1e-6),
        s"term=${b.termId} bound=$bound ceiling=$ceiling")
    }
  }

  test("query-time dictionary lookup is term-pruned (no full-dictionary scan)") {
    val plan = handle.dictionary
      .filter(org.apache.spark.sql.functions.col("term").isin("spark", "join"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"), plan.take(2000))
    // and the lookup itself resolves correctly
    val m = handle.lookupTerms(Seq("spark", "join", "zzzoov"))
    assert(m.contains("spark") && m.contains("join") && !m.contains("zzzoov"))
    assert(m == handle.dictMap.view.filterKeys(Set("spark", "join")).toMap)
  }

  test("postings scan prunes by termId (pushdown reaches parquet)") {
    val plan = handle.postings.filter(col("termId") === 3).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("termId"), plan.take(2000))
  }

  test("docstats lookup pushes docId-range predicates into the clustered scan (file pruning)") {
    val pruned = Wand.docstatsForBuckets(handle, Array(0L))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(docId"),
      s"docId range not pushed to parquet:\n${plan.take(2000)}")
    // semantics: exactly the bucket's docs
    val r = handle.manifest.bucketRange
    val got = pruned.collect().map(_.docId).sorted.toSeq
    val want = handle.docstats.collect().map(_.docId).filter(d => d >= 0 && d < r).sorted.toSeq
    assert(got == want)
  }
}
