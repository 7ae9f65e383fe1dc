package graft

import graft.JobLog.{jobs, record}
import graft.index._
import graft.query._
import graft.tokenize.Tokenizers
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit, lpad}
import org.scalatest.funsuite.AnyFunSuite

/** [[Wand.search]] runs its one per-bucket body in two placements: on the
  * driver when the pass's collect bound fits
  * `spark.sql.autoBroadcastJoinThreshold`, else as a cogroup (always at
  * -1). Every mode must give the same answers and the same [[Wand.WandMetrics]]
  * in both, and the driver placement must cost fewer Spark jobs. */
class PlacementSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val analyzer = Tokenizers.default
  private val cfg = IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 2, postingsBuckets = 4)
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private lazy val plain: IndexHandle = {
    val dir = "/tmp/graft_test_index/placement_plain"
    graft.queries.IndexCache.deleteRecursively(dir)
    IndexBuilder.build(spark, sfDir, dir, cfg)
    IndexReader.load(spark, dir)
  }

  /** The same corpus with every 5th doc deleted. */
  private lazy val tombed: IndexHandle = {
    val dir = "/tmp/graft_test_index/placement_tombed"
    graft.queries.IndexCache.deleteRecursively(dir)
    IndexBuilder.build(spark, sfDir, dir, cfg)
    IndexBuilder.delete(spark, dir, (0L to plain.manifest.maxDocId by 5L))
    IndexReader.load(spark, dir)
  }

  // plain (seeded), required, excluded, msm, phrase and excluded-phrase shapes
  private val (queries, constraints) = {
    val ps = Seq("merge join", "+key merge slow", "merge join -batch", "merge join fast msm:2",
      "\"merge join\" vector", "batch -\"batch stale\"")
      .zipWithIndex.map { case (s, i) => QueryParser.parse(i + 1, s, analyzer) }
    (ps.map(_.toQuerySpec), ps.flatMap { q =>
      val c = Wand.Constraints(q.required, q.excluded, q.phrases, q.excludedPhrases,
        q.requiredAny, minMatch = q.minShouldMatch,
        scoringTerms = if (q.minShouldMatch > 0) q.scoring.map(_._1) else Seq.empty)
      if (c.nonEmpty) Some(q.queryId -> c) else None
    }.toMap)
  }
  private val urlFilter = col("url").contains("/42/1")
  private val facetKey = (col("docId") % 10).cast("string")
  private val collapseKey = (col("docId") % 13).cast("string")
  private val boost = (col("docId") % 3 + 1).cast("double")
  private val sortKey = lpad(col("docLen").cast("string"), 6, "0")

  private def withThreshold[T](v: String)(f: => T): T = {
    val old = spark.conf.get(Threshold)
    spark.conf.set(Threshold, v)
    try f finally spark.conf.set(Threshold, old)
  }

  /** One pass's answers (arrays as Seqs, so they compare by value), its
    * (evals, candidates) and its job count. */
  private def pass[R](fields: Seq[(IndexHandle, Double)], mode: Wand.Mode[R],
      docFilter: Option[Column], cons: Map[Int, Wand.Constraints]): (Map[Int, Any], (Long, Long), Int) = {
    val m = Wand.WandMetrics(spark)
    val (r, n) = jobs(Wand.search(fields, queries, mode, docFilter, cons, metrics = Some(m)))
    def plainValue(v: Any): Any = v match {
      case a: Array[_]  => a.toSeq
      case p: Product if p.productArity == 3 => p.productIterator.map(plainValue).toSeq
      case x            => x
    }
    (r.map { case (q, v) => q -> plainValue(v) }, (m.evals.value, m.candidates.value), n)
  }

  /** The pass at the default threshold (the driver placement on these
    * fixtures) and at -1 (the cogroup): equal answers and metrics, and the
    * driver placement takes fewer jobs. */
  private def assertPlacementsAgree[R](what: String, fields: Seq[(IndexHandle, Double)],
      mode: Wand.Mode[R], docFilter: Option[Column] = None,
      cons: Map[Int, Wand.Constraints] = constraints): Map[Int, Any] = {
    val (onDriver, driverMetrics, driverJobs) = pass(fields, mode, docFilter, cons)
    val (cogroup, cogroupMetrics, cogroupJobs) =
      withThreshold("-1")(pass(fields, mode, docFilter, cons))
    assert(onDriver == cogroup, s"[$what] answers differ")
    assert(driverMetrics == cogroupMetrics, s"[$what] (evals, candidates) differ")
    assert(driverJobs < cogroupJobs,
      s"[$what] the default threshold took $driverJobs jobs, -1 took $cogroupJobs")
    onDriver
  }

  private def singleFieldModes(cursor: (Double, Long)): Seq[(String, Wand.Mode[_])] = Seq(
    "ranked" -> Wand.Ranked(5),
    "ranked after a cursor" -> Wand.Ranked(5, Wand.ByScore(after = Map(1 -> cursor))),
    "ranked with a boost" -> Wand.Ranked(5, Wand.ByScore(boost = Some((boost, 3.0)))),
    "ranked collapsed" -> Wand.Ranked(5, Wand.Collapse(collapseKey)),
    "count" -> Wand.Count,
    "facets" -> Wand.Facets(facetKey, 3),
    "sort-by" -> Wand.SortBy(sortKey, 5),
    "serp" -> Wand.Serp(Wand.Ranked(5)),
    "serp with facets" -> Wand.Serp(Wand.Ranked(5), Some((facetKey, 3))))

  /** Query 1's second hit: a cursor inside its ranking. */
  private def cursorOf(h: IndexHandle, docFilter: Option[Column]): (Double, Long) =
    Wand.search(Seq(h -> 1.0), queries, Wand.Ranked(5), docFilter, constraints)(1)(1)

  Seq("a never-deleted" -> (() => plain), "a tombstoned" -> (() => tombed)).foreach {
    case (which, index) =>
      Seq("no filter" -> None, "a url: filter" -> Some(urlFilter)).foreach { case (fname, docFilter) =>
        test(s"every single-field mode agrees across placements on $which index, $fname") {
          val h = index()
          val cursor = cursorOf(h, docFilter)
          val answers = singleFieldModes(cursor).map { case (what, mode) =>
            what -> assertPlacementsAgree(s"$which/$fname/$what", Seq(h -> 1.0), mode, docFilter)
          }.toMap
          val counts = answers("count").asInstanceOf[Map[Int, Long]]
          assert(counts.values.exists(_ > 0L) && counts.size == queries.length)
          assert(queries.forall(q => answers("ranked")(q.queryId).asInstanceOf[Seq[_]].length <=
            counts(q.queryId)))
        }
      }
  }

  test("filters, tombstones and constraints change the answers the placements agree on") {
    val plainCount = Wand.search(Seq(plain -> 1.0), queries, Wand.Count, None, constraints)
    val unconstrained = Wand.search(Seq(plain -> 1.0), queries, Wand.Count)
    assert(Wand.search(Seq(plain -> 1.0), queries, Wand.Count, Some(urlFilter), constraints) != plainCount)
    assert(Wand.search(Seq(tombed -> 1.0), queries, Wand.Count, None, constraints) != plainCount)
    assert(constraints.keys.forall(q => plainCount(q) <= unconstrained(q)) &&
      constraints.keys.count(q => plainCount(q) < unconstrained(q)) >= 4,
      s"constrained counts $plainCount, unconstrained $unconstrained")
  }

  test("a 2-field BM25F pass agrees across placements in every multi-field mode") {
    val fields = graft.queries.FieldedIndexCache.get(spark, sfDir)
    val cursor = Wand.search(fields, queries, Wand.Ranked(5))(1)(1)
    Seq("ranked" -> Wand.Ranked(5),
      "ranked after a cursor" -> Wand.Ranked(5, Wand.ByScore(after = Map(1 -> cursor))),
      "ranked collapsed" -> Wand.Ranked(5, Wand.Collapse(collapseKey))).foreach { case (what, mode) =>
      val r = assertPlacementsAgree(s"bm25f/$what", fields, mode, cons = Map.empty)
      assert(r.values.exists(_.asInstanceOf[Seq[_]].nonEmpty), s"[bm25f/$what] no hits")
    }
  }

  test("a 1-byte threshold also takes the cogroup") {
    val mode = Wand.Serp(Wand.Ranked(5), Some((facetKey, 3)))
    val (_, _, cogroupJobs) = withThreshold("-1")(pass(Seq(plain -> 1.0), mode, None, constraints))
    val (answer, metrics, oneByteJobs) = withThreshold("1")(pass(Seq(plain -> 1.0), mode, None, constraints))
    val (onDriver, driverMetrics, driverJobs) = pass(Seq(plain -> 1.0), mode, None, constraints)
    assert(oneByteJobs == cogroupJobs && driverJobs < oneByteJobs,
      s"jobs: 1 byte $oneByteJobs, -1 $cogroupJobs, default $driverJobs")
    assert(answer == onDriver && metrics == driverMetrics)
  }

  test("docstatsForBuckets beyond MaxPredicateBuckets keeps exactly the listed buckets") {
    val r = plain.manifest.bucketRange
    val even = (0L until 2L * (Wand.MaxPredicateBuckets + 44) by 2L).toArray
    val expected = plain.docstatsRaw.collect().filter(d => (d.docId / r) % 2 == 0).map(_.docId).sorted
    assert(expected.nonEmpty && expected.length < plain.manifest.nDocs)
    assert(Wand.docstatsForBuckets(plain, even).collect().map(_.docId).sorted.toSeq == expected.toSeq)
  }

  test("a plain Search.run on a never-deleted index takes at most 3 Spark jobs") {
    val req = Search.SearchRequest("merge join", k = 5, facetKey = Some(facetKey), facetTopN = 3)
    // warm: the handle resolves its tables on first use
    val warm = Search.run(plain, req, analyzer)
    val (r, n) = jobs(Search.run(plain, req, analyzer))
    assert(r.total > 0L && r.hits.nonEmpty && r.hits.toSeq == warm.hits.toSeq)
    assert(n <= 3, s"Search.run took $n jobs")
    // at -1 the request takes no more jobs than before the driver
    // placement existed (7 on this fixture)
    val (cogroup, m) = withThreshold("-1")(jobs(Search.run(plain, req, analyzer)))
    assert(cogroup.hits.toSeq == r.hits.toSeq && cogroup.total == r.total && cogroup.facets == r.facets)
    assert(m <= 7, s"Search.run at -1 took $m jobs")
  }

  test("wildcard and fuzzy requests add only their expansion jobs") {
    def run(q: String) = Search.run(plain,
      Search.SearchRequest(q, k = 5, facetKey = Some(facetKey), facetTopN = 3), analyzer)
    run("merge join")
    val (_, expandPrefix) = jobs(plain.expandPrefixes(Seq("wind"), Search.MaxExpansions))
    val (_, expandFuzzy) = jobs(plain.expandFuzzy(Seq("joi"), Search.MaxExpansions))
    val (wild, wildJobs) = jobs(run("wind* batch"))
    val (fuzzy, fuzzyJobs) = jobs(run("joi~1 stream"))
    assert(wild.hits.nonEmpty && fuzzy.hits.nonEmpty)
    assert(wildJobs <= 3 + expandPrefix, s"wildcard: $wildJobs jobs, its expansion $expandPrefix")
    assert(fuzzyJobs <= 3 + expandFuzzy, s"fuzzy: $fuzzyJobs jobs, its expansion $expandFuzzy")
  }

  test("a batch's wildcards and fuzzies expand in one narrow job: no exchange, no generate") {
    val req = Search.SearchRequest("wind* joi~1 stream", k = 5, facetKey = Some(facetKey), facetTopN = 3)
    val warm = Search.run(plain, req, analyzer)
    val (r, n) = jobs(Search.run(plain, req, analyzer))
    assert(r.hits.nonEmpty && r.hits.toSeq == warm.hits.toSeq)
    assert(n <= 4, s"a wildcard and fuzzy Search.run took $n jobs")

    val (expanded, log) = record(Search.expand(plain, QueryParser.parse(1, "wind* joi~1 stream", analyzer)))
    val terms = expanded.scoring.map(_._1)
    assert(expanded.fuzzies.isEmpty && terms.contains("join") && terms.exists(_.startsWith("wind")),
      s"expanded to $terms")
    assert(log.jobs == 1 && log.plans.length == 1, s"${log.jobs} jobs, ${log.plans.length} plans")
    assert(!log.plans.head.contains("Exchange") && !log.plans.head.contains("Generate"),
      s"the expansion plan:\n${log.plans.head}")

    // a batch holding both prefixes and needles: one job more than the
    // same batch already expanded
    val batch = QueryParser.parseAll(Seq(1 -> "wind* batch", 2 -> "joi~1 stream",
      3 -> "+s* mergee~1", 4 -> "merge join"), analyzer)
    val (all, withExpansion) = jobs(Search.search(plain, batch, Wand.Ranked(5)))
    val expandedBatch = batch.map(Search.expand(plain, _))
    val (pre, without) = jobs(Search.search(plain, expandedBatch, Wand.Ranked(5)))
    assert(all.map { case (q, h) => q -> h.toSeq } == pre.map { case (q, h) => q -> h.toSeq })
    assert(withExpansion == without + 1, s"$withExpansion jobs, $without once expanded")
  }
}
