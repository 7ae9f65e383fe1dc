package graft

import graft.corpus.Pages
import graft.index.{IndexBuilder, IndexConfig, Postings}
import graft.queries.{IndexCache, IndexQueries, QuerySet}
import graft.query.{IndexReader, Significant}
import graft.tokenize.Tokenizers
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The decode round-trip contract: the positional index is a LOSSLESS
  * encoding of the cleaned, tokenized corpus — inverting it reproduces
  * every document's ordered term stream exactly (the reference's
  * decode == preprocessed-original contract, midi_tokenizer.py:1927-1991,
  * tests/test_tokenize.py:201-250). */
class DecodeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("FULL-corpus reconstruction: decode(index) == tokenize(cleaned corpus), doc by doc") {
    import spark.implicits._
    val h = IndexCache.handle(spark, sfDir)
    val decoded = IndexQueries.decodeRange(spark, h, 0L, h.manifest.maxDocId + 1)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (doc, rows) =>
        doc -> rows.sortBy(_.getInt(1)).map(r => (r.getInt(1), r.getString(2))).toSeq
      }
    val tok = Tokenizers.default
    val expected = Pages.cleaned(Pages.withInjections(spark, sfDir))
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect()
      .map { case (doc, text) =>
        doc -> tok.terms(text).zipWithIndex.map { case (t, i) => (i + 1, t) }.toSeq
      }
      .filter(_._2.nonEmpty) // zero-token docs have no postings to invert
      .toMap
    assert(decoded.keySet == expected.keySet,
      s"doc sets differ: missing=${(expected.keySet -- decoded.keySet).take(5)} " +
        s"extra=${(decoded.keySet -- expected.keySet).take(5)}")
    expected.foreach { case (doc, terms) =>
      assert(decoded(doc) == terms, s"doc $doc reconstruction differs")
    }
  }

  test("decode scan is bucket-pruned: blockId range predicate pushes to parquet") {
    val h = IndexCache.handle(spark, sfDir)
    val plan = IndexQueries.decodeRange(spark, h, 0L, 64L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("blockId"),
      s"blockId range not pushed down:\n${plan.take(2000)}")
  }

  test("snippets == brute-force windows from raw text (incl. doc-edge truncation, OOV term)") {
    import spark.implicits._
    val got = IndexQueries.snippets(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getString(3)))
      .toSet
    val tok = Tokenizers.default
    val docs = Pages.cleaned(Pages.withInjections(spark, sfDir))
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect()
      .filter { case (id, _) => id >= IndexQueries.DecodeLo && id < IndexQueries.DecodeHi }
      .map { case (id, text) => id -> tok.terms(text).toArray }
    val w = IndexQueries.SnippetWindow
    val want = (for {
      q <- IndexQueries.SnippetTerms
      (doc, terms) <- docs
      hit = terms.indexOf(q) if hit >= 0 // 0-based; engine positions are 1-based
    } yield {
      val lo = math.max(0, hit - w)
      val hi = math.min(terms.length - 1, hit + w)
      (q, doc, hit + 1, terms.slice(lo, hi + 1).mkString(" "))
    }).toSet
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(!got.exists(_._1 == "zzzoov"), "OOV snippet term must produce no rows")
    assert(got.nonEmpty, "fixture must produce snippets")
  }

  test("Postings.inBuckets selects exactly the listed buckets' blocks as pushed blockId ranges") {
    // a small bucketRange spreads the fixture over many buckets, so {0, 2, 3}
    // is a run plus a gap, not the whole index
    val dir = "/tmp/graft_test_index/decode_buckets"
    IndexCache.deleteRecursively(new java.io.File(dir))
    IndexBuilder.buildFrom(spark, Pages.withInjections(spark, sfDir), dir,
      IndexConfig(blockSize = 16, bucketRange = 64, postingsBuckets = 2))
    val h = IndexReader.load(spark, dir)
    val m = h.manifest
    val buckets = Set(0L, 2L, 3L)
    val all = h.postings.collect().map(b => (b.termId, b.blockId))
    val want = all.filter { case (_, id) => buckets(id / m.blocksPerBucket) }.toSet
    assert(all.map(_._2 / m.blocksPerBucket).toSet.size > 4, "fixture must span more buckets")
    assert(buckets.forall(b => want.exists(_._2 / m.blocksPerBucket == b)), "every listed bucket has blocks")
    val sel = h.postings.filter(Postings.inBuckets(m, Seq(0L, 2L, 3L)))
    assert(sel.collect().map(b => (b.termId, b.blockId)).toSet == want)
    val plan = sel.queryExecution.executedPlan.toString
    assert("PushedFilters: .*GreaterThanOrEqual\\(blockId".r.findFirstIn(plan).isDefined,
      s"blockId ranges not pushed down:\n${plan.take(2000)}")
  }

  test("Significant.terms reads only the sample buckets' blocks through a pushed blockId range") {
    val plan = Significant.terms(IndexCache.handle(spark, sfDir), QuerySet.significant,
      Tokenizers.default, topN = 10).queryExecution.executedPlan.toString
    assert("PushedFilters: .*GreaterThanOrEqual\\(blockId".r.findFirstIn(plan).isDefined,
      s"sample-bucket filter not pushed down:\n${plan.take(3000)}")
  }
}
