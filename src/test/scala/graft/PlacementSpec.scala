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
  private val queries = Seq("merge join", "+key merge slow", "merge join -batch",
    "merge join fast msm:2", "\"merge join\" vector", "batch -\"batch stale\"")
    .zipWithIndex.map { case (s, i) => QueryParser.parse(i + 1, s, analyzer).toQuerySpec }
  /** The same queries without their constraints. */
  private val bare = queries.map(_.copy(constraints = Wand.Constraints()))
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
      docFilter: Option[Column], qs: Seq[QuerySpec]): (Map[Int, Any], (Long, Long), Int) = {
    val m = Wand.WandMetrics(spark)
    val (r, n) = jobs(Wand.search(fields, qs, mode, docFilter, metrics = Some(m)))
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
      qs: Seq[QuerySpec] = queries): Map[Int, Any] = {
    val (onDriver, driverMetrics, driverJobs) = pass(fields, mode, docFilter, qs)
    val (cogroup, cogroupMetrics, cogroupJobs) =
      withThreshold("-1")(pass(fields, mode, docFilter, qs))
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
    Wand.search(Seq(h -> 1.0), queries, Wand.Ranked(5), docFilter)(1)(1)

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
    val plainCount = Wand.search(Seq(plain -> 1.0), queries, Wand.Count)
    val unconstrained = Wand.search(Seq(plain -> 1.0), bare, Wand.Count)
    assert(Wand.search(Seq(plain -> 1.0), queries, Wand.Count, Some(urlFilter)) != plainCount)
    assert(Wand.search(Seq(tombed -> 1.0), queries, Wand.Count) != plainCount)
    val constrained = queries.filterNot(_.constraints.isEmpty).map(_.queryId)
    assert(constrained.forall(q => plainCount(q) <= unconstrained(q)) &&
      constrained.count(q => plainCount(q) < unconstrained(q)) >= 4,
      s"constrained counts $plainCount, unconstrained $unconstrained")
  }

  test("a 2-field BM25F pass agrees across placements in every multi-field mode") {
    val fields = graft.queries.FieldedIndexCache.get(spark, sfDir)
    val cursor = Wand.search(fields, bare, Wand.Ranked(5))(1)(1)
    Seq("ranked" -> Wand.Ranked(5),
      "ranked after a cursor" -> Wand.Ranked(5, Wand.ByScore(after = Map(1 -> cursor))),
      "ranked collapsed" -> Wand.Ranked(5, Wand.Collapse(collapseKey))).foreach { case (what, mode) =>
      val r = assertPlacementsAgree(s"bm25f/$what", fields, mode, qs = bare)
      assert(r.values.exists(_.asInstanceOf[Seq[_]].nonEmpty), s"[bm25f/$what] no hits")
    }
  }

  test("a 1-byte threshold also takes the cogroup") {
    val mode = Wand.Serp(Wand.Ranked(5), Some((facetKey, 3)))
    val (_, _, cogroupJobs) = withThreshold("-1")(pass(Seq(plain -> 1.0), mode, None, queries))
    val (answer, metrics, oneByteJobs) = withThreshold("1")(pass(Seq(plain -> 1.0), mode, None, queries))
    val (onDriver, driverMetrics, driverJobs) = pass(Seq(plain -> 1.0), mode, None, queries)
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

  /** Each of `terms`' decoded postings on `h`, with positions:
    * (term, docId) → positions. */
  private def decodedPositions(h: IndexHandle, terms: Seq[String]): Map[(String, Long), Array[Int]] = {
    val byId = h.lookupTerms(terms).values.map(e => e.termId -> e.term).toMap
    Postings.decode(h.postings.filter(col("termId").isin(byId.keys.toSeq: _*)), positions = true)
      .collect().map(p => (byId(p.termId), p.docId) -> p.positions).toMap
  }

  /** The match sets of `qs` at the default threshold and at -1. */
  private def matchSets(h: IndexHandle, qs: Seq[QuerySpec]): Seq[Map[Int, Set[Long]]] =
    Seq(spark.conf.get(Threshold), "-1").map(v => withThreshold(v)(
      Wand.matching(h, qs).collect().map(r => (r.getInt(0), r.getLong(1)))
        .groupMap(_._1)(_._2).map { case (q, ds) => q -> ds.toSet }))

  test("minMatch counts a spec's in-vocabulary terms; one it cannot reach empties the query") {
    val terms = Seq("merge", "join", "zzzoov")
    val qs = Seq(
      QuerySpec(1, terms, constraints = Wand.Constraints(minMatch = 2)),
      QuerySpec(2, terms, constraints = Wand.Constraints(minMatch = 3)),
      QuerySpec(3, Seq("merge", "zzzoov"), constraints = Wand.Constraints(minMatch = 2)),
      QuerySpec(4, terms))
    val post = decodedPositions(plain, terms)
    val docs = post.keys.map(_._2).toSet
    def holding(n: Int): Set[Long] = docs.filter(d => terms.count(t => post.contains((t, d))) >= n)
    val want = Map(1 -> holding(2), 4 -> holding(1))
    assert(want(1).nonEmpty && want(1).size < want(4).size, s"weak fixture: $want")
    matchSets(plain, qs).foreach(got => assert(got == want))
    Seq(spark.conf.get(Threshold), "-1").foreach { v =>
      val counts = withThreshold(v)(Wand.search(Seq(plain -> 1.0), qs, Wand.Count))
      assert(counts == Map(1 -> want(1).size.toLong, 2 -> 0L, 3 -> 0L, 4 -> want(4).size.toLong),
        s"threshold $v: $counts")
    }
  }

  test("phrases and excluded phrases over several blocks of a bucket == brute force on decoded positions") {
    val (merge, join) = (Seq("merge", "join"), Seq("join", "order"))
    val terms = (merge ++ join).distinct
    // the fixture: every phrase term holds at least 3 blocks of one bucket
    val ids = plain.lookupTerms(terms).values.map(_.termId).toSeq
    plain.postings.filter(col("termId").isin(ids: _*)).collect()
      .groupBy(_.termId).foreach { case (tid, bs) =>
        val most = bs.groupBy(_.blockId / plain.manifest.blocksPerBucket).values.map(_.length).max
        assert(most >= 3, s"termId $tid holds at most $most blocks of a bucket")
      }
    val qs = Seq(
      QuerySpec(1, merge, constraints = Wand.Constraints(phrases = Seq(Phrase(merge)))),
      QuerySpec(2, merge, constraints = Wand.Constraints(phrases = Seq(Phrase(merge, slop = 2)),
        excludedPhrases = Seq(Phrase(join)))),
      QuerySpec(3, merge, constraints = Wand.Constraints(excludedPhrases = Seq(Phrase(join)))))
    val post = decodedPositions(plain, terms)
    // the ordered window of `windowIntersect`: each next term within
    // (prev, prev + 1 + slop]
    def has(p: Phrase, d: Long): Boolean = p.terms.tail.foldLeft(post.getOrElse((p.terms.head, d), Array.empty[Int])) {
      (ends, t) => post.getOrElse((t, d), Array.empty[Int]).filter(q => ends.exists(e => q > e && q <= e + 1 + p.slop))
    }.nonEmpty
    val docs = post.keys.collect { case (t, d) if merge.contains(t) => d }.toSet
    val want = Map(
      1 -> docs.filter(has(Phrase(merge), _)),
      2 -> docs.filter(d => has(Phrase(merge, 2), d) && !has(Phrase(join), d)),
      3 -> docs.filterNot(has(Phrase(join), _)))
    assert(want(1).nonEmpty && want(2).size < docs.count(has(Phrase(merge, 2), _)) &&
      want(3).size < docs.size, s"weak fixture: ${want.map { case (q, ds) => q -> ds.size }}")
    matchSets(plain, qs).foreach(got => assert(got == want))
  }

  test("the tombstone sentinels' scan takes the docId-range predicate in both placements") {
    val q = Seq(QuerySpec(1, Seq("merge")))
    Seq(spark.conf.get(Threshold), "-1").foreach { v =>
      val (_, log) = withThreshold(v)(record(Wand.search(Seq(tombed -> 1.0), q, Wand.Count)))
      val scans = log.plans.flatMap(_.split("\n\n")).filter(_.contains("tombstones/v"))
      assert(scans.nonEmpty && scans.forall(s =>
        "PushedFilters: \\[.*GreaterThanOrEqual\\(docId".r.findFirstIn(s).isDefined),
        s"threshold $v:\n${scans.mkString("\n---\n")}")
    }
  }
}
