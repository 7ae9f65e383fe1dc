package graft

import graft.index._
import graft.query._
import graft.tokenize.Tokenizers
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** [[Search.run]] answers a request with ONE [[Wand.Serp]] pass. Over an
  * index with tombstones, each response must equal its parts answered by
  * the single-mode surfaces — [[Search.page]] (with collapse or a cursor),
  * [[Search.count]] and [[Search.facets]] — and the one pass must cost no
  * more Spark jobs than the facet pass alone. */
class SerpPassSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val analyzer = Tokenizers.default

  private val facetKey = (col("docId") % 10).cast("string")
  private val collapseKey = (col("docId") % 13).cast("string")

  private def parse(s: String): ParsedQuery = QueryParser.parse(1, s, analyzer)

  // plain (seeded), required, excluded, msm, wildcard and fuzzy shapes
  private val unfiltered = Seq("merge join", "+key merge slow", "merge join -batch",
    "merge join fast msm:2", "wind* batch", "joi~1 stream")

  /** An index whose fixture queries' top-3 docs are deleted, so every
    * total, panel and ranking below differs from the undeleted index's. */
  private lazy val (handle, fullTotals) = {
    val dir = "/tmp/graft_test_index/serp_pass"
    graft.queries.IndexCache.deleteRecursively(dir)
    IndexBuilder.build(spark, sfDir, dir,
      IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 3, postingsBuckets = 4))
    val full = IndexReader.load(spark, dir)
    val qs = unfiltered.zipWithIndex.map { case (s, i) => QueryParser.parse(i, s, analyzer) }
    val top = Search.search(full, qs, Wand.Ranked(3)).valuesIterator.flatMap(_.map(_._2)).toSeq.distinct.sorted
    val totals = unfiltered.map(s => s -> Search.count(full, Seq(parse(s)))(1)).toMap
    IndexBuilder.delete(spark, dir, top)
    (IndexReader.load(spark, dir), totals)
  }

  private def assertParts(s: String, r: Search.SearchResponse, k: Int,
      after: Option[(Double, Long)], collapse: Option[org.apache.spark.sql.Column]): Unit = {
    val q = Seq(parse(s))
    val order = collapse.fold[Wand.Order](Wand.ByScore(after.map(1 -> _).toMap))(Wand.Collapse)
    val hits = Search.search(handle, q, Wand.Ranked(k, order))(1)
    assert(r.hits.toSeq == hits.toSeq, s"[$s] hits differ")
    assert(r.total == Search.count(handle, q)(1), s"[$s] total differs")
    assert(r.facets == Search.facets(handle, q, facetKey, 3)(1), s"[$s] facets differ")
    val cursor = if (collapse.isDefined) None else hits.lastOption.filter(_ => hits.length == k)
    assert(r.nextCursor == cursor, s"[$s] cursor differs")
  }

  test("url filter + facet key + collapse key in one request == page + count + facets") {
    val shapes = Seq("merge join url:2/1", "batch stream url:2/1", "merge join -url:/3",
      "+key merge slow -url:/1", "merge|join window url:/2")
    val rs = shapes.map { s =>
      val r = Search.run(handle, Search.SearchRequest(s, k = 5, collapse = Some(collapseKey),
        facetKey = Some(facetKey), facetTopN = 3), analyzer)
      assertParts(s, r, 5, None, Some(collapseKey))
      r
    }
    assert(rs.exists(r => r.hits.nonEmpty && r.facets.nonEmpty && r.total > r.hits.length),
      "no shape exercised hits, a panel and a total together")
  }

  test("a cursor + facet key request == page after the cursor + count + facets") {
    val deleted = handle.tombstones.collect().toSet
    unfiltered.foreach { s =>
      val first = Search.run(handle,
        Search.SearchRequest(s, k = 3, facetKey = Some(facetKey), facetTopN = 3), analyzer)
      assertParts(s, first, 3, None, None)
      assert(first.total < fullTotals(s), s"[$s] the tombstones removed no match")
      first.nextCursor.foreach { c =>
        val next = Search.run(handle, Search.SearchRequest(s, k = 3,
          facetKey = Some(facetKey), facetTopN = 3, after = Some(c)), analyzer)
        assertParts(s, next, 3, Some(c), None)
        assert(next.hits.forall { case (_, d) => !deleted(d) }, s"[$s] a deleted doc ranked")
      }
    }
  }

  test("zero-hit and unsatisfiable-required requests: no hits, total 0, empty panel") {
    // OOV-only scoring, an all-OOV required term (emptied before the pass)
    // and a filter no doc passes (every norm a skip sentinel)
    Seq("zzzoov", "+zzzoov merge", "merge join url:no-such-host").foreach { s =>
      Seq(None, Some(collapseKey)).foreach { collapse =>
        val r = Search.run(handle, Search.SearchRequest(s, k = 5, collapse = collapse,
          facetKey = Some(facetKey), facetTopN = 3), analyzer)
        assert(r.hits.isEmpty && r.total == 0L && r.facets.isEmpty && r.nextCursor.isEmpty,
          s"[$s] not empty: $r")
        assertParts(s, r, 5, None, collapse)
      }
    }
  }

  test("the ranked part of a SERP pass keeps threshold seeding and counts its metrics once") {
    import org.apache.spark.sql.functions.{concat, encode, lit, timestamp_seconds}
    import spark.implicits._
    // every doc holds "head", every 64th also "tail": head-only docs score
    // below the stats-only seed (the tail term's guaranteed impact), which
    // the fixture corpus's flat vocabulary never shows
    val dir = "/tmp/graft_test_index/serp_pass_seed"
    graft.queries.IndexCache.deleteRecursively(dir)
    val pages = (0L until 2048L).map { d =>
      val filler = Seq.tabulate((d % 7).toInt + 3)(i => s"f${(d * 31 + i) % 101}")
      (d, (Seq("head") ++ (if (d % 64 == 0) Seq("tail") else Nil) ++ filler).mkString(" "))
    }.toDF("doc_id", "text")
      .select(col("doc_id"), concat(lit("zipf://"), col("doc_id")).as("url"),
        timestamp_seconds(lit(graft.corpus.Pages.EpochSeconds)).as("warc_ts"),
        encode(col("text"), "UTF-8").as("html"), col("text"), lit("en").as("lang"))
    IndexBuilder.buildFrom(spark, pages, dir, IndexConfig(bucketRange = 512))
    val h = IndexReader.load(spark, dir)
    val qs = Seq(QuerySpec(1, Seq("head", "tail")))
    def measured[R](mode: Wand.Mode[R],
        filter: Option[org.apache.spark.sql.Column] = None): (R, Long, Long) = {
      val m = Wand.WandMetrics(spark)
      val r = Wand.search(Seq(h -> 1.0), qs, mode, filter, metrics = Some(m))(1)
      (r, m.evals.value, m.candidates.value)
    }
    val (ranked, rankedEvals, rankedCands) = measured(Wand.Ranked(10))
    // a filter disables the seed; this one admits every doc
    val (_, unseededEvals, _) = measured(Wand.Ranked(10), Some(lit(true)))
    val ((hits, total, panel), serpEvals, serpCands) = measured(Wand.Serp(Wand.Ranked(10)))
    assert(rankedEvals < unseededEvals, "the seed pruned nothing on this corpus")
    assert(serpEvals == rankedEvals, "exact evaluations differ from the ranked pass")
    assert(serpCands == rankedCands, "candidate postings differ from the ranked pass")
    assert(hits.toSeq == ranked.toSeq)
    assert(total == 2048L && panel.isEmpty, "the total must count every match, pruned or not")
  }

  test("Search.run submits no more Spark jobs than Search.facets on the same request") {
    val s = "merge join -batch"
    val req = Search.SearchRequest(s, k = 5, facetKey = Some(facetKey), facetTopN = 3)
    // warm: the handle resolves its tables on first use
    Search.run(handle, req, analyzer)
    val (_, facetJobs) = JobLog.jobs(Search.facets(handle, Seq(parse(s)), facetKey, 3))
    val (_, runJobs) = JobLog.jobs(Search.run(handle, req, analyzer))
    assert(facetJobs > 0)
    assert(runJobs <= facetJobs, s"Search.run took $runJobs jobs, Search.facets $facetJobs")
  }
}
