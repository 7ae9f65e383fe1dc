package graft

import graft.corpus.Pages
import graft.index._
import graft.query._
import graft.queries.QuerySet
import graft.tokenize.Tokenizers
import org.scalatest.funsuite.AnyFunSuite

/** The search-box DSL surface: [[QueryParser]] grammar semantics and
  * [[Search]] constrained retrieval, rank- AND score-identical (exact
  * doubles) to a brute-force constrained oracle — BM25 over the scoring
  * terms restricted to docs satisfying every `+required` term, every
  * quoted phrase at consecutive positions, and no `-excluded` term.
  * (Reference analog: the string-shaped user surface over the learned
  * vocabulary, midi_tokenizer.py:1676-1750.) */
class SearchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val analyzer = Tokenizers.default

  private lazy val dir = {
    val d = "/tmp/graft_test_index/search"
    graft.queries.IndexCache.deleteRecursively(d)
    // small bucketRange (4 blocks/bucket) to exercise multi-bucket paths
    IndexBuilder.build(spark, sfDir, d,
      IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 3, postingsBuckets = 4))
    d
  }
  private lazy val handle = IndexReader.load(spark, dir)

  private lazy val oracle: OracleScorer.Oracle = {
    val cleaned = Pages.cleaned(Pages.withInjections(spark, sfDir))
    val td = IndexBuilder.termDocs(cleaned, analyzer)
    val m = handle.manifest
    OracleScorer.build(td, handle.dictMap, m.nDocs, m.avgdl)
  }

  /** (docId, term) -> ascending positions, from the tokenizer (ground
    * truth for constraint satisfaction, independent of the index). */
  private lazy val positions: Map[(Long, String), Array[Int]] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    Pages.cleaned(Pages.withInjections(spark, sfDir))
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect()
      .flatMap { case (id, tx) => analyzer.tokenize(tx).map { case (t, p) => ((id, t), p) } }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
  }
  private lazy val allDocs: Set[Long] = positions.keysIterator.map(_._1).toSet

  private def hasTerm(doc: Long, t: String): Boolean = positions.contains((doc, t))

  /** Brute-force ordered-window check (independent of the engine's
    * two-pointer chain): extend every valid prefix-end position by any
    * next-term position within (p, p + 1 + slop]. */
  private def hasPhrase(doc: Long, ph: Phrase): Boolean = {
    var cand = positions.getOrElse((doc, ph.terms.head), Array.empty[Int])
    var i = 1
    while (i < ph.terms.length && cand.nonEmpty) {
      val next = positions.getOrElse((doc, ph.terms(i)), Array.empty[Int])
      cand = next.filter(q => cand.exists(p => q > p && q <= p + 1 + ph.slop))
      i += 1
    }
    cand.nonEmpty
  }

  private def urlOf(doc: Long): String = s"https://example.org/42/$doc"

  private def satisfies(doc: Long, q: ParsedQuery): Boolean =
    q.required.forall(hasTerm(doc, _)) &&
      q.requiredAny.forall(g => g.exists(hasTerm(doc, _))) &&
      (q.minShouldMatch == 0 ||
        q.scoring.map(_._1).distinct.count(hasTerm(doc, _)) >= q.minShouldMatch) &&
      !q.excluded.exists(hasTerm(doc, _)) &&
      q.phrases.forall(hasPhrase(doc, _)) &&
      !q.excludedPhrases.exists(hasPhrase(doc, _)) &&
      q.filters.forall(f => urlOf(doc).contains(f.value) != f.negated)

  /** The definition: full brute-force boosted ranking, restricted to docs
    * satisfying the constraints, then take k. */
  private def want(q: ParsedQuery, k: Int): Array[(Double, Long)] = {
    val boosts = q.scoring.filter(_._2 != 1.0).toMap
    oracle.topK(q.scoring.map(_._1), Int.MaxValue, boosts)
      .filter { case (_, d) => satisfies(d, q) }.take(k)
  }

  private def assertIdentical(raw: Seq[(Int, String)], k: Int): Unit = {
    val got = Search.search(handle, QueryParser.parseAll(raw, analyzer), Wand.Ranked(k))
    raw.foreach { case (qid, s) =>
      // expand is a no-op on wildcard-free queries; the brute-force side
      // always checks against the dictionary-resolved form
      val q = Search.expand(handle, QueryParser.parse(qid, s, analyzer))
      val w = want(q, k)
      val g = got(qid)
      assert(g.length == w.length, s"[$s] size: got ${g.length} want ${w.length}")
      g.zip(w).zipWithIndex.foreach { case (((gs, gd), (ws, wd)), i) =>
        assert(gd == wd, s"[$s] rank ${i + 1}: docId got $gd want $wd")
        assert(gs == ws, s"[$s] rank ${i + 1}: score got $gs want $ws (EXACT)")
      }
      g.foreach { case (_, d) => assert(satisfies(d, q), s"[$s] doc $d violates constraints") }
    }
  }

  // ---------------------------------------------------------------- parser

  test("parser: bare terms, boosts, required, excluded, phrases") {
    val q = QueryParser.parse(1, "window batch^2.5 stream^0.5", analyzer)
    assert(q.scoring == Seq("window" -> 1.0, "batch" -> 2.5, "stream" -> 0.5))
    assert(q.required.isEmpty && q.excluded.isEmpty && q.phrases.isEmpty)

    val q2 = QueryParser.parse(2, "merge join -batch", analyzer)
    assert(q2.scoring.map(_._1) == Seq("merge", "join"))
    assert(q2.excluded == Seq("batch"))

    val q3 = QueryParser.parse(3, "+key merge slow", analyzer)
    assert(q3.required == Seq("key"))
    assert(q3.scoring.map(_._1) == Seq("key", "merge", "slow"))

    val q4 = QueryParser.parse(4, "\"merge join\" vector", analyzer)
    assert(q4.phrases == Seq(Phrase(Seq("merge", "join"))))
    assert(q4.scoring.map(_._1) == Seq("merge", "join", "vector"))
  }

  test("parser: analyzer normalization and degenerate clauses") {
    // case fold + punctuation split: one atom can yield several terms
    val q = QueryParser.parse(1, "Top-K", analyzer)
    assert(q.scoring == Seq("top" -> 1.0, "k" -> 1.0))
    // a boost on a multi-term atom applies to each term
    val qb = QueryParser.parse(2, "top-k^2.0", analyzer)
    assert(qb.scoring == Seq("top" -> 2.0, "k" -> 2.0))
    // single-term phrase degrades to the term (no phrase constraint)
    val q1 = QueryParser.parse(3, "\"spark\" fast", analyzer)
    assert(q1.phrases.isEmpty && q1.scoring.map(_._1) == Seq("spark", "fast"))
    // punctuation-only clause is dropped
    val q2 = QueryParser.parse(4, "spark !!! ...", analyzer)
    assert(q2.scoring == Seq("spark" -> 1.0))
    // duplicate scoring mention keeps the LAST boost
    val q3 = QueryParser.parse(5, "a^2.0 a^3.0", analyzer)
    assert(q3.scoring == Seq("a" -> 3.0))
    // `+"a b"` marks the phrase terms required too
    val q4 = QueryParser.parse(6, "+\"merge join\"", analyzer)
    assert(q4.phrases == Seq(Phrase(Seq("merge", "join"))) && q4.required == Seq("merge", "join"))
  }

  test("parser: loud errors — unclosed quote, bad boost, unknown field, contradiction") {
    def bad(s: String): Unit =
      assertThrows[QueryParser.ParseException](QueryParser.parse(1, s, analyzer))
    bad("\"merge join")        // unclosed quote
    bad("a^x")                 // non-numeric boost
    bad("a^0")                 // non-positive boost
    bad("a^-2")                // negative boost
    bad("a^Infinity")          // non-finite boost
    bad("title:spark")         // unknown field — loud, not silent text
    bad("lang:en spark")       // unknown field
    bad("spark -spark")        // contradictory: excluded and positive
    assertThrows[QueryParser.ParseException](QueryParser.parse(1, null, analyzer))
  }

  test("parser: slop phrases (\"a b\"~N)") {
    val q = QueryParser.parse(1, "\"merge fast\"~2 join", analyzer)
    assert(q.phrases == Seq(Phrase(Seq("merge", "fast"), slop = 2)))
    assert(q.scoring.map(_._1) == Seq("merge", "fast", "join"))
    // negated slop phrase
    val q1 = QueryParser.parse(2, "spark -\"the key\"~3", analyzer)
    assert(q1.excludedPhrases == Seq(Phrase(Seq("the", "key"), slop = 3)))
    // ~0 is the exact phrase
    val q2 = QueryParser.parse(3, "\"merge join\"~0", analyzer)
    assert(q2.phrases == Seq(Phrase(Seq("merge", "join"), slop = 0)))
    // slop on a single-term phrase degrades with the phrase
    val q3 = QueryParser.parse(4, "\"spark\"~4", analyzer)
    assert(q3.phrases.isEmpty && q3.scoring.map(_._1) == Seq("spark"))
    // loud: ~ without digits
    assertThrows[QueryParser.ParseException](
      QueryParser.parse(5, "\"merge join\"~", analyzer))
    assertThrows[QueryParser.ParseException](
      QueryParser.parse(6, "\"merge join\"~x", analyzer))
  }

  test("slop retrieval: window widening is discriminating and oracle-exact") {
    // find a pair adjacent in no doc but within-3 in some doc — the
    // fixture that separates slop from exact adjacency
    val pairs = for {
      d <- allDocs.toSeq
      toks = positions.iterator.filter(_._1._1 == d)
        .flatMap { case ((_, t), ps) => ps.iterator.map(p => (p, t)) }
        .toArray.sortBy(_._1)
      i <- toks.indices; j <- (i + 1) until math.min(i + 4, toks.length)
      if toks(j)._1 - toks(i)._1 > 1 && toks(j)._1 - toks(i)._1 <= 3
    } yield (toks(i)._2, toks(j)._2)
    val (a, b) = pairs.groupBy(identity).maxBy(_._2.size)._1
    val exact = allDocs.filter(hasPhrase(_, Phrase(Seq(a, b))))
    val slop2 = allDocs.filter(hasPhrase(_, Phrase(Seq(a, b), slop = 2)))
    assert(exact.subsetOf(slop2) && (slop2 -- exact).nonEmpty,
      s"weak fixture for ($a,$b): exact ${exact.size}, slop2 ${slop2.size}")
    val exactQ = "\"" + a + " " + b + "\""
    val slopQ = exactQ + "~2"
    assertIdentical(Seq(1 -> exactQ, 2 -> slopQ, 3 -> s"-$slopQ $a $b"), 40)
    // engine-side discrimination: the slop query admits the extra docs
    val got = Search.search(handle, QueryParser.parseAll(Seq(1 -> exactQ, 2 -> slopQ), analyzer), Wand.Ranked(1000))
    assert(got(1).map(_._2).toSet == exact && got(2).map(_._2).toSet == slop2)
  }

  test("parser: excluded phrases and url filters") {
    val q = QueryParser.parse(1, "merge -\"the fast\"", analyzer)
    assert(q.excludedPhrases == Seq(Phrase(Seq("the", "fast"))))
    assert(q.scoring == Seq("merge" -> 1.0), "excluded-phrase terms never score")
    // single-term excluded phrase degrades to an excluded term
    val q1 = QueryParser.parse(2, "merge -\"batch\"", analyzer)
    assert(q1.excludedPhrases.isEmpty && q1.excluded == Seq("batch"))
    // scoring term INSIDE an excluded phrase is not a contradiction
    val q2 = QueryParser.parse(3, "batch -\"batch stale\"", analyzer)
    assert(q2.scoring.map(_._1) == Seq("batch") && q2.excludedPhrases.nonEmpty)
    // url filters: positive, negated, + is the same as bare
    val q3 = QueryParser.parse(4, "url:42/1 spark -url:9 +url:example", analyzer)
    assert(q3.filters == Seq(
      FieldFilter("url", "42/1", negated = false),
      FieldFilter("url", "9", negated = true),
      FieldFilter("url", "example", negated = false)))
    assert(q3.scoring == Seq("spark" -> 1.0), "filters never score")
    // field name is case-insensitive; value is verbatim (never analyzed)
    val q4 = QueryParser.parse(5, "URL:Mixed/Case.Path spark", analyzer)
    assert(q4.filters == Seq(FieldFilter("url", "Mixed/Case.Path", negated = false)))
  }

  // ------------------------------------------------------------- retrieval

  test("DSL fixture set: rank- and score-identical to constrained oracle") {
    assertIdentical(QuerySet.dsl, 10)
    assertIdentical(QuerySet.dsl, 1)
    assertIdentical(QuerySet.dsl, 40)
  }

  test("pure scoring query through Search == Wand.topK bit-for-bit") {
    val got = Search.search(handle, QueryParser.parseAll(Seq(1 -> "merge join fast"), analyzer), Wand.Ranked(10))
    val plain = Wand.topK(handle, Seq(QuerySpec(1, Seq("merge", "join", "fast"))), 10)
    assert(got(1).toSeq == plain(1).toSeq)
  }

  test("OOV discipline: required/phrase OOV empties; excluded OOV is a no-op") {
    val got = Search.search(handle, QueryParser.parseAll(
      Seq(1 -> "+zzznotaterm spark", 2 -> "\"spark zzznotaterm\"",
          3 -> "spark -zzznotaterm", 4 -> "spark",
          5 -> "spark -\"zzznotaterm merge\""), analyzer), Wand.Ranked(10))
    assert(got(1).isEmpty, "OOV required must empty the query")
    assert(got(2).isEmpty, "OOV phrase term must empty the query")
    assert(got(3).toSeq == got(4).toSeq, "OOV excluded must be a no-op")
    assert(got(5).toSeq == got(4).toSeq, "excluded phrase with an OOV term must be a no-op")
  }

  test("excluded phrase: vetoes adjacency but not bag-of-words co-occurrence") {
    // find a bigram that exists adjacently in some docs while both terms
    // co-occur non-adjacently in others — the discriminating fixture
    val bigrams = allDocs.toSeq.flatMap { d =>
      val toks = positions.iterator.filter(_._1._1 == d)
        .flatMap { case ((_, t), ps) => ps.iterator.map(p => (p, t)) }
        .toArray.sortBy(_._1).map(_._2)
      toks.sliding(2).filter(_.length == 2).map(w => (w(0), w(1)))
    }
    val (a, b) = bigrams.groupBy(identity).maxBy(_._2.size)._1
    val adj = allDocs.filter(hasPhrase(_, Phrase(Seq(a, b))))
    val coNonAdj = allDocs.filter(d =>
      hasTerm(d, a) && hasTerm(d, b) && !hasPhrase(d, Phrase(Seq(a, b))))
    assert(adj.nonEmpty && coNonAdj.nonEmpty, s"weak fixture for ($a,$b)")
    val raw = Seq(1 -> s"""$a $b -"$a $b"""")
    assertIdentical(raw, 40)
    val got = Search.search(handle, QueryParser.parseAll(raw, analyzer), Wand.Ranked(1000))(1).map(_._2).toSet
    assert(got.intersect(adj).isEmpty, "no adjacent doc may survive")
    assert(coNonAdj.subsetOf(got), "every non-adjacent co-occurrence must survive")
  }

  test("url filters: positive, negated, conjunction, and mixed-signature batches") {
    // one batch mixing three filter signatures + a filterless query:
    // Search regroups into one WAND pass per signature, ids preserved
    val raw = Seq(
      1 -> "merge join",
      2 -> "url:2/1 merge join",
      3 -> "-url:/7 merge join",
      4 -> "url:2/1 -url:/19 merge join",
      5 -> "url:zzz-no-such-url merge join")
    assertIdentical(raw, 10)
    val got = Search.search(handle, QueryParser.parseAll(raw, analyzer), Wand.Ranked(10))
    val alone = Wand.topK(handle, Seq(QuerySpec(9, Seq("merge", "join"))), 10)
    assert(got(1).toSeq == alone(9).toSeq, "filterless query in a mixed batch is unperturbed")
    assert(got(2).forall { case (_, d) => urlOf(d).contains("2/1") })
    assert(got(3).forall { case (_, d) => !urlOf(d).contains("/7") })
    assert(got(5).isEmpty, "unmatched filter yields empty")
    // filters compose with term constraints and phrases
    assertIdentical(Seq(6 -> "url:2/1 +merge \"merge join\" -batch"), 10)
  }

  test("mixed batch: constrained queries do not perturb unconstrained ones") {
    val mixed = Search.search(handle, QueryParser.parseAll(
      Seq(1 -> "merge join", 2 -> "+key merge -batch", 3 -> "\"merge join\""), analyzer), Wand.Ranked(10))
    val alone = Wand.topK(handle, Seq(QuerySpec(1, Seq("merge", "join"))), 10)
    assert(mixed(1).toSeq == alone(1).toSeq)
  }

  test("150 seeded random constrained queries over real vocabulary and real phrases") {
    val vocab = handle.dictMap.keys.toArray.sorted
    val rnd = new scala.util.Random(7)
    val docIds = allDocs.toArray.sorted
    // real consecutive bigrams from the corpus so phrases actually match
    def realBigram(): Seq[String] = {
      val d = docIds(rnd.nextInt(docIds.length))
      val toks = positions.iterator.filter(_._1._1 == d)
        .flatMap { case ((_, t), ps) => ps.iterator.map(p => (p, t)) }
        .toArray.sortBy(_._1).map(_._2)
      if (toks.length < 2) Seq(vocab(rnd.nextInt(vocab.length)))
      else { val i = rnd.nextInt(toks.length - 1); Seq(toks(i), toks(i + 1)) }
    }
    def v(): String = vocab(rnd.nextInt(vocab.length))
    val raw = (1 to 150).map { i =>
      val sb = new StringBuilder
      val nScore = 1 + rnd.nextInt(3)
      val scoreTerms = Seq.fill(nScore)(v()).distinct
      scoreTerms.foreach { t =>
        if (rnd.nextBoolean()) sb ++= s"$t "
        else sb ++= f"$t^${0.5 + rnd.nextInt(5) * 0.5}%.1f "
      }
      if (rnd.nextInt(3) == 0) {
        val t = v(); if (!scoreTerms.contains(t)) sb ++= s"-$t "
      }
      if (rnd.nextInt(3) == 0) sb ++= s"+${v()} "
      def slopSuffix(): String = rnd.nextInt(3) match {
        case 0 => "~" + (1 + rnd.nextInt(3)); case _ => ""
      }
      if (rnd.nextInt(3) == 0) {
        val ph = realBigram()
        if (ph.length == 2) sb ++= s""""${ph.mkString(" ")}"${slopSuffix()} """
      }
      if (rnd.nextInt(4) == 0) {
        val ph = realBigram()
        if (ph.length == 2) sb ++= s"""-"${ph.mkString(" ")}"${slopSuffix()} """
      }
      if (rnd.nextInt(4) == 0) {
        val neg = if (rnd.nextBoolean()) "-" else ""
        sb ++= s"${neg}url:2/${1 + rnd.nextInt(9)} "
      }
      i -> sb.result().trim
    }.filter(_._2.nonEmpty)
      .filter { case (i, s) => // drop the rare contradictory draw
        scala.util.Try(QueryParser.parse(i, s, analyzer)).isSuccess }
    assert(raw.length >= 130, s"fixture generator degenerated: ${raw.length}")
    assertIdentical(raw, 10)
    // the constraint machinery must have actually fired
    val parsed = raw.map { case (i, s) => QueryParser.parse(i, s, analyzer) }
    assert(parsed.count(_.phrases.nonEmpty) >= 20, "too few phrase queries drawn")
    assert(parsed.count(_.excluded.nonEmpty) >= 20, "too few exclusion queries drawn")
    assert(parsed.count(_.required.nonEmpty) >= 20, "too few required queries drawn")
    assert(parsed.count(_.excludedPhrases.nonEmpty) >= 15, "too few excluded-phrase queries drawn")
    assert(parsed.count(_.filters.nonEmpty) >= 15, "too few filtered queries drawn")
  }

  test("search_after: page-walk over the DSL fixtures equals one exact ranking, ends empty") {
    val parsed = QuerySet.dsl.map { case (qid, s) => QueryParser.parse(qid, s, analyzer) }
    val pageSize = 7 // odd, so cursors land mid-tie-groups
    val acc = scala.collection.mutable.Map.empty[Int, Vector[(Double, Long)]]
      .withDefaultValue(Vector.empty)
    val maxRounds = 4
    var after = Map.empty[Int, (Double, Long)]
    var live = parsed
    var rounds = 0
    while (live.nonEmpty && rounds < maxRounds) {
      val res = Search.search(handle, live, Wand.Ranked(pageSize, Wand.ByScore(after)))
      live.foreach(q => acc(q.queryId) ++= res(q.queryId))
      live = live.filter(q => res(q.queryId).length == pageSize)
      after = live.map(q => q.queryId -> acc(q.queryId).last).toMap
      rounds += 1
    }
    parsed.foreach { q =>
      val got = acc(q.queryId)
      val all = want(q, Int.MaxValue)
      assert(got.toSeq == all.take(got.length).toSeq,
        s"[${q.queryId}] concatenated pages diverge from the exact ranking")
      assert(got.length == math.min(all.length, pageSize * maxRounds),
        s"[${q.queryId}] wrong walk length: got ${got.length}, " +
          s"full ranking ${all.length}, cap ${pageSize * maxRounds}")
      // a page past the very end is empty
      if (all.nonEmpty && all.length <= pageSize * maxRounds) {
        val end = Search.search(handle, Seq(q), Wand.Ranked(pageSize, Wand.ByScore(Map(q.queryId -> all.last))))
        assert(end(q.queryId).isEmpty, s"[${q.queryId}] page past the end must be empty")
      }
    }
    // full exhaustion on a low-cardinality query: the doubled-term phrase
    val q8 = QueryParser.parse(80, "\"batch batch\"", analyzer)
    val all8 = want(q8, Int.MaxValue)
    assert(all8.nonEmpty, "weak fixture: no doubled-batch docs")
    var walked = Vector.empty[(Double, Long)]
    var cursor = Map.empty[Int, (Double, Long)]
    var page = Search.search(handle, Seq(q8), Wand.Ranked(3, Wand.ByScore(cursor)))(80)
    while (page.nonEmpty) {
      walked ++= page
      cursor = Map(80 -> walked.last)
      page = Search.search(handle, Seq(q8), Wand.Ranked(3, Wand.ByScore(cursor)))(80)
    }
    assert(walked.toSeq == all8.toSeq, "exhaustive 3-row page walk != full constrained ranking")
  }

  test("search_after: plain ByScore cursor slices match the brute-force ranking") {
    QuerySet.queries.take(5).foreach { q =>
      val all = oracle.topK(q.terms, Int.MaxValue)
      if (all.length > 3) {
        val cursor = all(2) // cursor on rank 3
        val got = Wand.search(Seq(handle -> 1.0), Seq(q), Wand.Ranked(10, Wand.ByScore(Map(q.queryId -> cursor))))
        assert(got(q.queryId).toSeq == all.slice(3, 13).toSeq, s"q=${q.terms}")
      }
    }
    // a query NOT in the after map runs as plain page 1
    val q0 = QuerySet.queries.head
    val got = Wand.search(Seq(handle -> 1.0), Seq(q0), Wand.Ranked(10, Wand.ByScore(Map.empty)))
    assert(got(q0.queryId).toSeq == Wand.topK(handle, Seq(q0), 10)(q0.queryId).toSeq)
  }

  test("explain: per-term breakdown sums bit-identically to the ranked score") {
    val raw = Seq(1 -> "merge join fast", 2 -> "window batch^2.5 stream^0.5",
      3 -> "+key merge -batch \"merge join\"")
    val got = Search.search(handle, QueryParser.parseAll(raw, analyzer), Wand.Ranked(3))
    raw.foreach { case (qid, s) =>
      val q = QueryParser.parse(qid, s, analyzer)
      got(qid).foreach { case (score, doc) =>
        val rows = Search.explainAll(handle, Seq(q -> doc))((qid, doc))
        assert(rows.nonEmpty, s"[$s] no explain rows for doc $doc")
        // ascending-termId summation order == the kernel's
        val byTid = rows.sortBy(r => handle.dictMap(r._1).termId)
        var sum = 0.0
        byTid.foreach(r => sum += r._7)
        assert(sum == score, s"[$s] doc $doc: explain sum $sum != score $score (EXACT)")
        // each row's impact recomputes from its own published components
        rows.foreach { r =>
          val w = r._2; val tf = r._3; val idf = r._5
          val dl = r._6
          val imp = graft.query.Bm25.scoreWithIdf(w * idf, tf, dl, handle.manifest.avgdl)
          assert(imp == r._7, s"[$s] ${r._1}: component mismatch")
          assert(graft.query.Bm25.idf(handle.manifest.nDocs, r._4) == idf)
        }
      }
    }
    // an absent / OOV-everything explain is empty, not an error
    val qOov = QueryParser.parse(9, "zzznotaterm", analyzer)
    assert(Search.explainAll(handle, Seq(qOov -> 0L))((9, 0L)).isEmpty)
    val q1 = QueryParser.parse(10, "merge", analyzer)
    assert(Search.explainAll(handle, Seq(q1 -> Long.MaxValue / 2))((10, Long.MaxValue / 2)).isEmpty)
  }

  // ------------------------------------------------------------- wildcards

  test("parser: trailing-star wildcards") {
    val q = QueryParser.parse(1, "c*", analyzer)
    assert(q.wildcards == Seq(WildcardClause("c", 1.0, ' ')) && q.scoring.isEmpty)
    val q2 = QueryParser.parse(2, "f*^2.0 key", analyzer)
    assert(q2.wildcards == Seq(WildcardClause("f", 2.0, ' ')))
    assert(q2.scoring == Seq("key" -> 1.0))
    val q3 = QueryParser.parse(3, "+v* join", analyzer)
    assert(q3.wildcards == Seq(WildcardClause("v", 1.0, '+')))
    val q4 = QueryParser.parse(4, "-b* merge", analyzer)
    assert(q4.wildcards == Seq(WildcardClause("b", 1.0, '-')))
    // boost on an excluded wildcard is ignored (it never scores), like -term^w
    val q5 = QueryParser.parse(5, "-b*^3.0 merge", analyzer)
    assert(q5.wildcards == Seq(WildcardClause("b", 1.0, '-')))
    // the prefix normalizes through the analyzer
    val q6 = QueryParser.parse(6, "MER* join", analyzer)
    assert(q6.wildcards == Seq(WildcardClause("mer", 1.0, ' ')))
  }

  test("parser: wildcard loud errors") {
    def bad(s: String): Unit =
      assertThrows[QueryParser.ParseException](QueryParser.parse(1, s, analyzer))
    bad("*")        // match-all
    bad("*merge")   // leading star
    bad("me*ge")    // embedded star
    bad("me**")     // multi star
    bad("top-k*")   // prefix normalizes to two tokens
    bad("..*")      // prefix normalizes to nothing
    // match_phrase_prefix is not supported — loud, not a silent plain phrase
    bad("\"merge jo*\"")
    bad("-\"merge jo*\"")
  }

  test("expand: dictionary expansion semantics (weights, groups, exclusions)") {
    val sTerms = handle.dictMap.keys.filter(_.startsWith("s")).toSeq.sorted
    assert(sTerms.length >= 3, s"fixture corpus lost its s-terms: $sTerms")
    val q = Search.expand(handle, QueryParser.parse(1, "s*^2.0 spark", analyzer))
    assert(q.wildcards.isEmpty)
    // explicit terms win weight collisions; other expansions take the clause's
    val w1 = q.scoring.toMap
    assert(w1("spark") == 1.0)
    sTerms.filterNot(_ == "spark").foreach(t => assert(w1(t) == 2.0, t))
    // required wildcard: expansions score AND form one requiredAny group
    val vTerms = handle.dictMap.keys.filter(_.startsWith("v")).toSeq.sorted
    val q2 = Search.expand(handle, QueryParser.parse(2, "+v* join", analyzer))
    assert(q2.requiredAny == Seq(vTerms))
    val w2 = q2.scoring.toMap
    vTerms.foreach(t => assert(w2.contains(t), t))
    // excluded wildcard: expansions join excluded, never score
    val bTerms = handle.dictMap.keys.filter(_.startsWith("b")).toSeq.sorted
    val q3 = Search.expand(handle, QueryParser.parse(3, "merge -b*", analyzer))
    assert(q3.excluded == bTerms && q3.scoring.map(_._1) == Seq("merge"))
    // zero-expansion discipline: bare drops, required empties, excluded no-ops
    val q4 = Search.expand(handle, QueryParser.parse(4, "zz* merge", analyzer))
    assert(q4.scoring == Seq("merge" -> 1.0) && q4.requiredAny.isEmpty)
    val q5 = Search.expand(handle, QueryParser.parse(5, "+zz* merge", analyzer))
    assert(q5.requiredAny == Seq(Seq.empty)) // the unsatisfiable group
    val q6 = Search.expand(handle, QueryParser.parse(6, "merge -zz*", analyzer))
    assert(q6.excluded.isEmpty)
  }

  test("expand: TooManyClauses cap is a loud error, not a truncation") {
    assertThrows[IllegalArgumentException](handle.expandPrefixes(Seq("s"), 2))
    assertThrows[IllegalArgumentException](
      Search.expand(handle, QueryParser.parse(1, "s*", analyzer), maxExpansions = 2))
    // at the exact cap it expands in full
    val n = handle.dictMap.keys.count(_.startsWith("s"))
    assert(handle.expandPrefixes(Seq("s"), n)("s").length == n)
  }

  test("wildcard retrieval: rank- and score-identical to the expanded brute force") {
    assertIdentical(Seq(
      1 -> "c*",                 // pure wildcard
      2 -> "s* merge",           // wide expansion + plain term
      3 -> "+v* join",           // required wildcard (at-least-one-of)
      4 -> "merge -b*",          // excluded wildcard
      5 -> "f*^2.0 key",         // boosted wildcard
      6 -> "zz* merge",          // zero-expansion bare → merge alone
      7 -> "+zz* merge",         // zero-expansion required → empty
      8 -> "merge -zz*",         // zero-expansion excluded → no-op
      9 -> "d* -dup",            // expansion overlapping an explicit exclusion
      10 -> "+c* -customer",     // requiredAny with one member excluded
      11 -> "c* \"merge join\"", // wildcard + phrase constraint
      12 -> "s* url:2/1"         // wildcard + metadata filter
    ), 10)
    // zero-expansion identities against the plain query, exact arrays
    val plain = Search.search(handle, QueryParser.parseAll(Seq(1 -> "merge"), analyzer), Wand.Ranked(10))(1)
    assert(Search.search(handle, QueryParser.parseAll(Seq(1 -> "zz* merge"), analyzer), Wand.Ranked(10))(1).toSeq == plain.toSeq)
    assert(Search.search(handle, QueryParser.parseAll(Seq(1 -> "merge -zz*"), analyzer), Wand.Ranked(10))(1).toSeq == plain.toSeq)
    assert(Search.search(handle, QueryParser.parseAll(Seq(1 -> "+zz* merge"), analyzer), Wand.Ranked(10))(1).isEmpty)
  }

  // ---------------------------------------------------------------- fuzzy

  test("parser: fuzzy clauses (term~1)") {
    val q = QueryParser.parse(1, "mergee~1", analyzer)
    assert(q.fuzzies == Seq(FuzzyClause("mergee", 1.0, ' ')) && q.scoring.isEmpty)
    val q2 = QueryParser.parse(2, "joi~1^2.0 batch", analyzer)
    assert(q2.fuzzies == Seq(FuzzyClause("joi", 2.0, ' ')))
    assert(q2.scoring == Seq("batch" -> 1.0))
    val q3 = QueryParser.parse(3, "+betch~1 merge", analyzer)
    assert(q3.fuzzies == Seq(FuzzyClause("betch", 1.0, '+')))
    // boost on an excluded fuzzy is ignored (it never scores)
    val q4 = QueryParser.parse(4, "-betch~1^3.0 merge", analyzer)
    assert(q4.fuzzies == Seq(FuzzyClause("betch", 1.0, '-')))
    // needle normalizes through the analyzer
    val q5 = QueryParser.parse(5, "MERGEE~1", analyzer)
    assert(q5.fuzzies == Seq(FuzzyClause("mergee", 1.0, ' ')))
    // ~0 degrades to the exact term at parse time
    val q6 = QueryParser.parse(6, "merge~0 -batch~0 +join~0", analyzer)
    assert(q6.fuzzies.isEmpty && q6.scoring.map(_._1) == Seq("merge", "join"))
    assert(q6.excluded == Seq("batch") && q6.required == Seq("join"))
  }

  test("parser: fuzzy loud errors") {
    def bad(s: String): Unit =
      assertThrows[QueryParser.ParseException](QueryParser.parse(1, s, analyzer))
    bad("merge~")    // Lucene's bare ~ means distance 2 — refused, not weakened
    bad("merge~2")   // only distance 1 is supported
    bad("merge~x")   // non-numeric distance
    bad("~1")        // empty needle
    bad("a~1~1")     // multi tilde
    bad("top-k~1")   // needle normalizes to two tokens
  }

  test("expandFuzzy: batched deletion-key expansion == brute levenshtein") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val needles = Seq("mergee", "joi", "betch", "sow", "zzz", "merge")
    val got = handle.expandFuzzy(needles, 64)
    needles.foreach { n =>
      val want = handle.dictMap.keys.filter(t => lev(n, t) <= 1).toSeq.sorted
      assert(got.getOrElse(n, Seq.empty) == want, s"needle $n")
    }
    assert(!got.contains("zzz")) // empty neighborhoods yield no entry
    assert(got("merge").contains("merge")) // in-vocab needle includes itself
    assert(got("sow").length >= 2, s"sow neighborhood: ${got.get("sow")}") // multi-expansion
    // the cap is loud per needle
    assertThrows[IllegalArgumentException](handle.expandFuzzy(Seq("sow"), 1))
  }

  test("expandFuzzy counts edits by code point: supplementary-plane letters") {
    import org.apache.spark.sql.functions.{col, encode, lit, timestamp_seconds}
    import spark.implicits._
    // U+20000 is a letter outside the BMP: one code point, two UTF-16 chars
    val x = new String(Character.toChars(0x20000))
    val d = "/tmp/graft_test_index/search_supplementary"
    graft.queries.IndexCache.deleteRecursively(d)
    val texts = Seq(s"a${x}b a${x}c", "ab axb", s"${x}b a${x}bd", s"$x$x b${x}a")
    val pages = texts.zipWithIndex.map { case (t, i) => (i.toLong, s"sup://$i", t) }
      .toDF("doc_id", "url", "text")
      .select(col("doc_id"), col("url"), timestamp_seconds(lit(Pages.EpochSeconds)).as("warc_ts"),
        encode(col("text"), "UTF-8").as("html"), col("text"), lit("en").as("lang"))
    IndexBuilder.buildFrom(spark, pages, d, IndexConfig(blockSize = 16, bucketRange = 64, postingsBuckets = 2))
    val h = IndexReader.load(spark, d)
    def lev(a: Array[Int], b: Array[Int]): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    val needles = Seq(s"a${x}b", "ab", x, s"$x$x", s"b${x}")
    val got = h.expandFuzzy(needles, 64)
    needles.foreach { n =>
      val want = h.dictMap.keys.filter(t => lev(n.codePoints.toArray, t.codePoints.toArray) <= 1).toSeq.sorted
      assert(want.nonEmpty && got.getOrElse(n, Seq.empty) == want, s"needle $n")
    }
    assert(got(s"a${x}b").contains("ab") && got(s"a${x}b").contains("axb"))
  }

  test("fuzzy retrieval: rank- and score-identical to the expanded brute force") {
    assertIdentical(Seq(
      1 -> "mergee~1",              // pure fuzzy, OOV needle
      2 -> "joi~1 batch",           // fuzzy + plain term
      3 -> "+betch~1 merge",        // required fuzzy
      4 -> "merge -betch~1",        // excluded fuzzy
      5 -> "sow~1^2.0 key",         // boosted multi-expansion
      6 -> "zzz~1 merge",           // zero-expansion bare
      7 -> "+zzz~1 merge",          // zero-expansion required → empty
      8 -> "merge -zzz~1",          // zero-expansion excluded → no-op
      9 -> "merge~1 join",          // in-vocab needle (distance 0 member)
      10 -> "sow~1 -row",           // expansion overlapping explicit exclusion
      11 -> "joi~1 \"merge join\"", // fuzzy + phrase
      12 -> "betch~1 url:2/1",      // fuzzy + filter
      13 -> "s* joi~1"              // wildcard × fuzzy in one query
    ), 10)
    // zero-expansion identities, exact arrays
    val plain = Search.search(handle, QueryParser.parseAll(Seq(1 -> "merge"), analyzer), Wand.Ranked(10))(1)
    assert(Search.search(handle, QueryParser.parseAll(Seq(1 -> "zzz~1 merge"), analyzer), Wand.Ranked(10))(1).toSeq == plain.toSeq)
    assert(Search.search(handle, QueryParser.parseAll(Seq(1 -> "merge -zzz~1"), analyzer), Wand.Ranked(10))(1).toSeq == plain.toSeq)
    assert(Search.search(handle, QueryParser.parseAll(Seq(1 -> "+zzz~1 merge"), analyzer), Wand.Ranked(10))(1).isEmpty)
    // and the distance-0 identity: an in-vocab single-member neighborhood
    // behaves as the plain term
    val viaFuzzy = Search.search(handle, QueryParser.parseAll(Seq(1 -> "mergee~1"), analyzer), Wand.Ranked(10))(1)
    assert(viaFuzzy.toSeq == plain.toSeq) // mergee's only neighbor IS merge
  }

  // ------------------------------------------------------------- |-groups

  test("parser: |-groups in every clause role") {
    val q = QueryParser.parse(1, "merge|join", analyzer)
    assert(q.scoring == Seq("merge" -> 1.0, "join" -> 1.0))
    assert(q.requiredAny.isEmpty && q.required.isEmpty && q.excluded.isEmpty)
    val q2 = QueryParser.parse(2, "+merge|join fast", analyzer)
    assert(q2.requiredAny == Seq(Seq("merge", "join")))
    assert(q2.scoring == Seq("merge" -> 1.0, "join" -> 1.0, "fast" -> 1.0))
    val q3 = QueryParser.parse(3, "-batch|stream merge", analyzer)
    assert(q3.excluded == Seq("batch", "stream"))
    assert(q3.scoring == Seq("merge" -> 1.0) && q3.requiredAny.isEmpty)
    // clause boost applies to every alternative
    val q4 = QueryParser.parse(4, "spark|quantum^2.0 key", analyzer)
    assert(q4.scoring == Seq("spark" -> 2.0, "quantum" -> 2.0, "key" -> 1.0))
    // alternatives normalize through the analyzer and dedup
    val q5 = QueryParser.parse(5, "MERGE|merge|Join", analyzer)
    assert(q5.scoring == Seq("merge" -> 1.0, "join" -> 1.0))
    val q6 = QueryParser.parse(6, "+A|B|A x", analyzer)
    assert(q6.requiredAny == Seq(Seq("a", "b")))
  }

  test("parser: |-group loud errors") {
    def bad(s: String): Unit =
      assertThrows[QueryParser.ParseException](QueryParser.parse(1, s, analyzer))
    bad("|merge")      // leading bar
    bad("merge|")      // trailing bar
    bad("a||b")        // empty alternative
    bad("|")           // nothing at all
    bad("c*|x")        // wildcard inside a group
    bad("a~1|b")       // fuzzy inside a group
    bad("top-k|x")     // alternative normalizes to two tokens
    bad("..|x")        // alternative normalizes to nothing
  }

  test("|-group retrieval: rank- and score-identical to the constrained brute force") {
    assertIdentical(QuerySet.orGroup, 10)
    // all-OOV disciplines against the plain query, exact arrays
    val plain = Search.search(handle, QueryParser.parseAll(Seq(1 -> "merge"), analyzer), Wand.Ranked(10))(1)
    assert(Search.search(handle, QueryParser.parseAll(Seq(1 -> "merge -zzzoov|zzzoow"), analyzer), Wand.Ranked(10))(1).toSeq == plain.toSeq)
    assert(Search.search(handle, QueryParser.parseAll(Seq(1 -> "+zzzoov|zzzoow merge"), analyzer), Wand.Ranked(10))(1).isEmpty)
    // partial-OOV required group degrades to the in-vocab member's constraint
    val viaGroup = Search.search(handle, QueryParser.parseAll(Seq(1 -> "+zzzoov|merge join"), analyzer), Wand.Ranked(10))(1)
    val viaPlain = Search.search(handle, QueryParser.parseAll(Seq(1 -> "+merge join"), analyzer), Wand.Ranked(10))(1)
    assert(viaGroup.toSeq == viaPlain.toSeq)
  }

  // ------------------------------------------------------ minimum should match

  test("parser: msm directive") {
    val q = QueryParser.parse(1, "merge join fast msm:2", analyzer)
    assert(q.minShouldMatch == 2)
    assert(q.scoring.map(_._1) == Seq("merge", "join", "fast"))
    // position-independent and filter-composable
    val q2 = QueryParser.parse(2, "msm:2 merge join url:2/1", analyzer)
    assert(q2.minShouldMatch == 2 && q2.filters.length == 1)
    // absent = 0
    assert(QueryParser.parse(3, "merge join", analyzer).minShouldMatch == 0)
  }

  test("parser: msm loud errors") {
    def bad(s: String): Unit =
      assertThrows[QueryParser.ParseException](QueryParser.parse(1, s, analyzer))
    bad("merge msm:0")          // non-positive
    bad("merge msm:-1")
    bad("merge msm:x")          // non-numeric
    bad("merge msm:2 msm:3")    // duplicate directive
    bad("merge -msm:2")         // negated directive
    bad("merge +msm:2")         // required directive
    bad("msm:2")                // no scoring terms to count
    bad("c* merge msm:2")       // wildcard would shift the count index-dependently
    bad("joi~1 merge msm:2")    // fuzzy likewise
  }

  test("msm retrieval: rank- and score-identical to the counted brute force") {
    assertIdentical(QuerySet.msm, 10)
    // N == |terms| equals the all-required query, exact arrays
    val viaMsm = Search.search(handle, QueryParser.parseAll(Seq(1 -> "merge join msm:2"), analyzer), Wand.Ranked(10))(1)
    val viaReq = Search.search(handle, QueryParser.parseAll(Seq(1 -> "+merge +join"), analyzer), Wand.Ranked(10))(1)
    assert(viaMsm.toSeq == viaReq.toSeq)
    // msm:1 is the bare-OR default, exact arrays
    val viaOne = Search.search(handle, QueryParser.parseAll(Seq(1 -> "merge join msm:1"), analyzer), Wand.Ranked(10))(1)
    val viaBare = Search.search(handle, QueryParser.parseAll(Seq(1 -> "merge join"), analyzer), Wand.Ranked(10))(1)
    assert(viaOne.toSeq == viaBare.toSeq)
    // more in-vocab terms demanded than exist → empty
    assert(Search.search(handle, QueryParser.parseAll(Seq(1 -> "merge zzzoov msm:2"), analyzer), Wand.Ranked(10))(1).isEmpty)
  }

  // --------------------------------------------------------------- collapse

  /** Grouped brute force: the full constrained ranking's FIRST doc per
    * group (first occurrence in (score desc, docId asc) order IS the
    * group's best with the right tie-break), then take k. */
  private def wantCollapsed(q: ParsedQuery, k: Int): Array[(Double, Long)] = {
    val boosts = q.scoring.filter(_._2 != 1.0).toMap
    val seen = scala.collection.mutable.Set.empty[Long]
    oracle.topK(q.scoring.map(_._1), Int.MaxValue, boosts)
      .filter { case (_, d) => satisfies(d, q) }
      .filter { case (_, d) => seen.add(d % 100) }
      .take(k)
  }

  test("collapsed retrieval: rank- and score-identical to the grouped brute force") {
    import org.apache.spark.sql.functions.col
    val key = Wand.Collapse(col("docId") % 100)
    val got = Search.search(handle, QueryParser.parseAll(QuerySet.collapse, analyzer), Wand.Ranked(10, key))
    QuerySet.collapse.foreach { case (qid, s) =>
      val q = Search.expand(handle, QueryParser.parse(qid, s, analyzer))
      val w = wantCollapsed(q, 10)
      val g = got(qid)
      assert(g.length == w.length, s"[$s] size: got ${g.length} want ${w.length}")
      g.zip(w).zipWithIndex.foreach { case (((gs, gd), (ws, wd)), i) =>
        assert(gd == wd, s"[$s] rank ${i + 1}: docId got $gd want $wd")
        assert(gs == ws, s"[$s] rank ${i + 1}: score got $gs want $ws (EXACT)")
      }
      val groups = g.map(_._2 % 100)
      assert(groups.distinct.length == groups.length, s"[$s] duplicate group in results")
    }
    // k beyond the group count returns every matching group exactly once
    val big = Search.search(handle, QueryParser.parseAll(Seq(1 -> "merge join"), analyzer), Wand.Ranked(500, key))(1)
    val wq = Search.expand(handle, QueryParser.parse(1, "merge join", analyzer))
    assert(big.toSeq == wantCollapsed(wq, 500).toSeq)
    // no stable per-doc cursor under a collapsed ranking — loud error
    assertThrows[IllegalArgumentException](
      Search.run(handle, Search.SearchRequest("merge join", k = 10, collapse = Some(key.key),
        after = Some((1.0, 5L))), analyzer))
  }

  // ------------------------------------------------------------- total hits

  test("total hits: exact counts vs the brute force, including zero-hit shapes") {
    val got = Search.count(handle, QueryParser.parseAll(QuerySet.hits, analyzer))
    QuerySet.hits.foreach { case (qid, s) =>
      // a hit = a doc containing >= 1 (dictionary-expanded) scoring term
      // that satisfies every constraint and filter
      val q = Search.expand(handle, QueryParser.parse(qid, s, analyzer))
      val want = allDocs
        .count(d => q.scoring.exists(t => hasTerm(d, t._1)) && satisfies(d, q)).toLong
      assert(got(qid) == want, s"[$s] hits: got ${got(qid)} want $want")
    }
    // the two zero-hit shapes actually hit zero (not vacuous)
    assert(got(10) == 0L && got(11) == 0L)
    // and a live one is actually nonzero
    assert(got(1) > 0L)
  }

  // ---------------------------------------------------------- function score

  test("function score: rank- and score-identical to the boosted brute force") {
    import org.apache.spark.sql.functions.{col, lit}
    val boost = lit(1.0) + (col("docId") % 3).cast("double")
    val got = Wand.search(Seq(handle -> 1.0), QuerySet.queries, Wand.Ranked(10, Wand.ByScore(boost = Some((boost, 3.0)))))
    QuerySet.queries.foreach { q =>
      val want = oracle.topK(q.terms, Int.MaxValue)
        .map { case (s, d) => (s * (1.0 + (d % 3)), d) }
        .sortBy { case (s, d) => (-s, d) }.take(10).toSeq
      val g = got(q.queryId).toSeq
      assert(g == want, s"q=${q.terms}: got $g want $want (EXACT)")
    }
    // a uniform 1.0 boost is the plain ranking, exact arrays
    val one = Wand.search(Seq(handle -> 1.0), QuerySet.queries, Wand.Ranked(10, Wand.ByScore(boost = Some((lit(1.0), 1.0)))))
    val plain = Wand.topK(handle, QuerySet.queries, 10)
    QuerySet.queries.foreach(q => assert(one(q.queryId).toSeq == plain(q.queryId).toSeq))
    // an over-maxBoost per-doc value fails LOUDLY, never silently misranks
    val e = intercept[Exception](
      Wand.search(Seq(handle -> 1.0), QuerySet.queries.take(1), Wand.Ranked(10, Wand.ByScore(boost = Some((boost, 2.0))))))
    def causes(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: causes(t.getCause)
    assert(causes(e).exists(m => m != null && m.contains("outside")), causes(e).toString)
    // validation is LAZY per scored doc: a boost that is garbage outside
    // the filter (here: -1.0 for every docId % 3 != 0) cannot fail the
    // filtered run, and the filtered boosted ranking stays exact
    import org.apache.spark.sql.functions.when
    val partialBoost = when(col("docId") % 3 === 0, lit(2.0)).otherwise(lit(-1.0))
    val gotF = Wand.search(Seq(handle -> 1.0), QuerySet.queries,
      Wand.Ranked(10, Wand.ByScore(boost = Some((partialBoost, 2.0)))), docFilter = Some(col("docId") % 3 === 0))
    QuerySet.queries.foreach { q =>
      val want = oracle.topK(q.terms, Int.MaxValue)
        .filter { case (_, d) => d % 3 == 0 }
        .map { case (s, d) => (s * 2.0, d) }
        .sortBy { case (s, d) => (-s, d) }.take(10).toSeq
      assert(gotF(q.queryId).toSeq == want, s"filtered-boost q=${q.terms}")
    }
  }

  // ----------------------------------------------------------------- facets

  test("facets: exact per-value match counts, topN cutoff, zero-hit empties") {
    import org.apache.spark.sql.functions.col
    val topN = 3
    val got = Search.facets(handle, QueryParser.parseAll(QuerySet.hits, analyzer),
      (col("docId") % 10).cast("string"), topN)
    QuerySet.hits.foreach { case (qid, s) =>
      val q = Search.expand(handle, QueryParser.parse(qid, s, analyzer))
      val matching = allDocs.toSeq
        .filter(d => q.scoring.exists(t => hasTerm(d, t._1)) && satisfies(d, q))
      val want = matching.groupBy(d => (d % 10).toString)
        .map { case (v, ds) => (v, ds.length.toLong) }.toSeq
        .sortBy { case (v, n) => (-n, v) }.take(topN)
      assert(got(qid) == want, s"[$s] facets: got ${got(qid)} want $want")
    }
    assert(got(10).isEmpty && got(11).isEmpty) // the zero-hit shapes
    assert(got(1).nonEmpty)
    // facets × synonyms × filter: the panel counts the REWRITTEN match set
    val sGot = Search.facets(handle, QueryParser.parseAll(Seq(1 -> "scan url:2/1"), analyzer),
      (col("docId") % 10).cast("string"), topN, synonyms = Some(QuerySet.synTable))(1)
    val sq = QuerySet.synTable.rewrite(QueryParser.parse(1, "scan url:2/1", analyzer))
    val sWant = allDocs.toSeq
      .filter(d => sq.scoring.exists(t => hasTerm(d, t._1)) && satisfies(d, sq))
      .groupBy(d => (d % 10).toString)
      .map { case (v, ds) => (v, ds.length.toLong) }.toSeq
      .sortBy { case (v, n) => (-n, v) }.take(topN)
    assert(sGot == sWant, s"synonym facets: got $sGot want $sWant")
  }

  // ----------------------------------------------------------- SERP endpoint

  test("the SERP endpoint: one request == its parts, with a working cursor") {
    import org.apache.spark.sql.functions.col
    val fk = (col("docId") % 10).cast("string")
    val req = Search.SearchRequest("merge join -batch", k = 5,
      facetKey = Some(fk), facetTopN = 3)
    val parsed = Seq(QueryParser.parse(1, req.query, analyzer))
    val r = Search.run(handle, req, analyzer)
    assert(r.hits.toSeq == Search.search(handle, parsed, Wand.Ranked(5))(1).toSeq)
    assert(r.total == Search.count(handle, parsed)(1))
    assert(r.facets == Search.facets(handle, parsed, fk, 3)(1))
    assert(r.facets.map(_._2).sum <= r.total) // cutoff panel ≤ the total
    // walking nextCursor pages reproduces the full exact ranking
    var cur: Option[(Double, Long)] = None
    val walked = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    var done = false
    while (!done) {
      val pg = Search.run(handle, req.copy(after = cur), analyzer)
      walked ++= pg.hits
      cur = pg.nextCursor
      done = cur.isEmpty
    }
    assert(walked.toSeq == Search.search(handle, parsed, Wand.Ranked(100000))(1).toSeq)
    // collapse: no cursor, total still counts DOCS (not groups)
    val rc = Search.run(handle, req.copy(collapse = Some(col("docId") % 100)), analyzer)
    assert(rc.nextCursor.isEmpty && rc.total == r.total)
    assert(rc.hits.length <= r.total)
    // synonyms thread through the ranked AND the count/facet pass
    val rs = Search.run(handle,
      Search.SearchRequest("scan", facetKey = Some(fk),
        synonyms = Some(QuerySet.synTable)), analyzer)
    assert(rs.total ==
      Search.count(handle, Seq(QueryParser.parse(1, "scan", analyzer)),
        Some(QuerySet.synTable))(1))
    assert(rs.facets.nonEmpty)
    // a zero-hit request: empty page, zero total, no cursor, empty panel
    val rz = Search.run(handle,
      Search.SearchRequest("zzzoov", facetKey = Some(fk)), analyzer)
    assert(rz.hits.isEmpty && rz.total == 0L &&
      rz.facets.isEmpty && rz.nextCursor.isEmpty)
  }

  test("runAll: the batched SERP endpoint == N independent Search.run calls") {
    import org.apache.spark.sql.functions.col
    val fk = (col("docId") % 10).cast("string")
    // the full q_serp fixture surface: filters (two signatures), phrases,
    // msm, wildcard + fuzzy expansion, OR groups, both zero-hit shapes
    val batched = Search.runAll(handle, QuerySet.hits, k = 7,
      facetKey = Some(fk), facetTopN = 3, analyzer)
    QuerySet.hits.foreach { case (qid, s) =>
      val solo = Search.run(handle,
        Search.SearchRequest(s, k = 7, facetKey = Some(fk), facetTopN = 3),
        analyzer)
      val b = batched(qid)
      assert(b.hits.toSeq == solo.hits.toSeq, s"[$s] hits differ")
      assert(b.total == solo.total, s"[$s] total differs")
      assert(b.facets == solo.facets, s"[$s] facets differ")
      assert(b.nextCursor == solo.nextCursor, s"[$s] cursor differs")
    }
    // no facet key: totals still exact, panels empty
    val noFacet = Search.runAll(handle, QuerySet.hits.take(3), k = 7,
      facetKey = None, facetTopN = 3, analyzer)
    QuerySet.hits.take(3).foreach { case (qid, s) =>
      val solo = Search.run(handle, Search.SearchRequest(s, k = 7), analyzer)
      assert(noFacet(qid).total == solo.total && noFacet(qid).facets.isEmpty)
      assert(noFacet(qid).hits.toSeq == solo.hits.toSeq)
    }
  }

  test("a ranked pass with k <= 0 is refused up front, naming k") {
    val viaRun = intercept[IllegalArgumentException](
      Search.run(handle, Search.SearchRequest("merge join", k = 0), analyzer))
    assert(viaRun.getMessage.contains("k > 0"), viaRun.getMessage)
    val viaTopK = intercept[IllegalArgumentException](
      Wand.topK(handle, Seq(QuerySpec(1, Seq("merge", "join"))), 0))
    assert(viaTopK.getMessage.contains("k > 0"), viaTopK.getMessage)
  }

  test("count over three filter signatures: one pass per signature, one job in flight") {
    import org.apache.spark.sql.functions.col
    val parsed = QueryParser.parseAll(Seq(1 -> "merge join", 2 -> "merge url:2/1",
      3 -> "scan -url:2/1", 4 -> "window url:2/1"), analyzer)
    val (got, log) = JobLog.record(Search.count(handle, parsed))
    assert(log.jobs > 0 && log.maxInFlight == 1,
      s"${log.jobs} jobs, ${log.maxInFlight} of them in flight at once")
    // each signature's own pass, straight through the WAND driver
    val inUrl = col("url").contains("2/1")
    def pass(qids: Set[Int], filter: Option[org.apache.spark.sql.Column]): Map[Int, Long] =
      Wand.search(Seq(handle -> 1.0), parsed.filter(q => qids(q.queryId)).map(_.toQuerySpec),
        Wand.Count, filter)
    val want = pass(Set(1), None) ++ pass(Set(2, 4), Some(inUrl)) ++ pass(Set(3), Some(!inUrl))
    assert(got == want)
    assert(want.values.count(_ > 0) >= 3, s"weak fixture: $want")
  }

  test("Search.run resolves the index tables once per handle") {
    import org.apache.spark.sql.functions.col
    // parquet schema inference shows as a job whose stage is "parquet at …"
    def inference(stages: Seq[String]) = stages.filter(_.startsWith("parquet at"))
    // resolving a table lists its files: Spark's file-discovery counters
    // (listed, or served from the file-status cache) grow by its file count
    def listed[T](f: => T): (T, Long) = {
      import org.apache.spark.metrics.source.HiveCatalogMetrics._
      def files = METRIC_FILES_DISCOVERED.getCount + METRIC_FILE_CACHE_HITS.getCount
      val before = files
      val r = f
      (r, files - before)
    }
    val fresh = IndexReader.load(spark, dir)
    val req = Search.SearchRequest("merge join -batch", k = 5,
      facetKey = Some((col("docId") % 10).cast("string")), facetTopN = 3)
    val ((first, firstLog), firstFiles) = listed(JobLog.record(Search.run(fresh, req, analyzer)))
    val firstStages = firstLog.stageNames
    assert(firstFiles > 0, "a fresh handle must resolve its tables")
    // the tables' schemas are their row types': resolution runs no job
    assert(inference(firstStages).isEmpty,
      s"a fresh handle inferred a table schema: ${inference(firstStages)}")
    val ((second, secondLog), secondFiles) = listed(JobLog.record(Search.run(fresh, req, analyzer)))
    val secondStages = secondLog.stageNames
    assert(secondFiles == 0 && inference(secondStages).isEmpty,
      s"the second run re-resolved index tables: $secondFiles files, ${inference(secondStages)}")
    assert(second.hits.toSeq == first.hits.toSeq && second.total == first.total &&
      second.facets == first.facets)
  }

  test("explainAll: one batch sums to the ranked scores, no rows for OOV or absent docs") {
    // pairs spanning: boosted multi-term, single-term, an OOV-only query
    // (zero rows), and a doc absent from a term's postings
    val qs = Seq(
      QueryParser.parse(1, "merge^2.0 join fast", analyzer),
      QueryParser.parse(2, "spark", analyzer),
      QueryParser.parse(3, "zzzoov", analyzer))
    val someDocs = allDocs.toSeq.sorted.take(3)
    val pairs = for (q <- qs; d <- someDocs) yield (q, d)
    val batched = Search.explainAll(handle, pairs)
    // every matching doc's exact score: the ranked pass at a k that holds
    // the whole match set
    val scores = Search.search(handle, qs, Wand.Ranked(allDocs.size)).map { case (qid, hits) =>
      qid -> hits.map { case (s, d) => d -> s }.toMap }
    pairs.foreach { case (q, d) =>
      val rows = batched((q.queryId, d))
      scores(q.queryId).get(d) match {
        case None => assert(rows.isEmpty, s"explain rows for unmatched q=${q.queryId} doc=$d")
        case Some(score) =>
          var sum = 0.0
          rows.sortBy(r => handle.dictMap(r._1).termId).foreach(r => sum += r._7)
          assert(sum == score, s"q=${q.queryId} doc=$d: explain sum $sum != score $score (EXACT)")
      }
    }
    assert(pairs.exists { case (q, d) => batched((q.queryId, d)).nonEmpty }, "weak fixture: nothing to explain")
  }

  test("expandPrefixes: one batched scan == the dictionary's own prefix filter") {
    val prefixes = Seq("s", "ba", "me", "zz", "c", "wind")
    val batched = handle.expandPrefixes(prefixes, Search.MaxExpansions)
    prefixes.foreach { p =>
      assert(batched(p) == handle.dictMap.keys.filter(_.startsWith(p)).toSeq.sorted,
        s"prefix '$p' expansion differs")
    }
    // the loud cap survives batching (the pigeonhole-bounded collect)
    val e = intercept[IllegalArgumentException](
      handle.expandPrefixes(Seq("s", "b"), 1))
    assert(e.getMessage.contains("expands to more than"))
  }

  // -------------------------------------------- tombstones × the count modes

  test("deletes compose with collapse, hits, and facets (sentinel paths)") {
    import org.apache.spark.sql.functions.col
    // tombstone a docId range on a dedicated copy of the fixture index
    val delDir = "/tmp/graft_test_index/search_del"
    graft.queries.IndexCache.deleteRecursively(delDir)
    IndexBuilder.build(spark, sfDir, delDir,
      IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 3, postingsBuckets = 4))
    val (dLo, dHi) = (40L, 120L)
    IndexBuilder.delete(spark, delDir, (dLo until dHi))
    val dh = IndexReader.load(spark, delDir)
    val live: Set[Long] = allDocs.filterNot(d => d >= dLo && d < dHi)
    def liveSat(d: Long, q: ParsedQuery): Boolean =
      live(d) && q.scoring.exists(t => hasTerm(d, t._1)) && satisfies(d, q)
    val fixtures = Seq(1 -> "merge join", 2 -> "+key merge slow", 3 -> "batch url:2/1")
    val parsed = fixtures.map { case (qid, s) => QueryParser.parse(qid, s, analyzer) }
    // hits: counts over live docs only
    val cnt = Search.count(dh, parsed)
    parsed.foreach(q => assert(cnt(q.queryId) == live.count(d => liveSat(d, q)).toLong,
      s"[${q.queryId}] deleted-count"))
    // facets: per-value counts over live docs only
    val fc = Search.facets(dh, parsed, (col("docId") % 10).cast("string"), 100)
    parsed.foreach { q =>
      val want = live.toSeq.filter(d => liveSat(d, q))
        .groupBy(d => (d % 10).toString)
        .map { case (v, ds) => (v, ds.length.toLong) }.toSeq
        .sortBy { case (v, n) => (-n, v) }
      assert(fc(q.queryId) == want, s"[${q.queryId}] deleted-facets")
    }
    // collapse: group bests drawn from live docs only (exact scores —
    // the deleted index keeps LIVE df, so impacts change vs `oracle`;
    // assert docIds against the per-group-best of the deleted ranking)
    val ck = Wand.Collapse(col("docId") % 100)
    val got = Search.search(dh, parsed, Wand.Ranked(10, ck))
    val plain = Search.search(dh, parsed, Wand.Ranked(500))
    parsed.foreach { q =>
      val seen = scala.collection.mutable.Set.empty[Long]
      val want = plain(q.queryId).filter { case (_, d) => seen.add(d % 100) }.take(10)
      assert(got(q.queryId).toSeq == want.toSeq, s"[${q.queryId}] deleted-collapse")
      got(q.queryId).foreach { case (_, d) =>
        assert(live(d), s"[${q.queryId}] tombstoned doc $d surfaced")
      }
    }
  }

  // --------------------------------------------------------------- synonyms

  test("synonyms: rewrite semantics per clause role") {
    val syn = QuerySet.synTable
    // scoring expansion at the clause weight; explicit weight wins
    val q = syn.rewrite(QueryParser.parse(1, "scan filter^2.0", analyzer))
    assert(q.scoring == Seq("scan" -> 1.0, "filter" -> 2.0, "query" -> 1.0))
    // +required relaxes to any-of-group; members score
    val q2 = syn.rewrite(QueryParser.parse(2, "+batch slow", analyzer))
    assert(q2.required.isEmpty)
    assert(q2.requiredAny == Seq(Seq("batch", "stream")))
    assert(q2.scoring.map(_._1) == Seq("batch", "slow", "stream"))
    // -excluded covers the whole group
    val q3 = syn.rewrite(QueryParser.parse(3, "-batch merge", analyzer))
    assert(q3.excluded.sorted == Seq("batch", "stream"))
    // phrase terms do not expand; an ungrouped query is untouched
    val q4 = syn.rewrite(QueryParser.parse(4, "\"merge join\" scan", analyzer))
    assert(q4.phrases == Seq(Phrase(Seq("merge", "join"))))
    assert(q4.scoring.map(_._1) == Seq("merge", "join", "scan", "filter", "query"))
    assert(syn.rewrite(QueryParser.parse(5, "merge slow", analyzer)) ==
      QueryParser.parse(5, "merge slow", analyzer))
    // msm × synonym-bearing terms refuses loudly
    assertThrows[QueryParser.ParseException](
      syn.rewrite(QueryParser.parse(6, "scan merge msm:2", analyzer)))
    // expansion-manufactured contradiction (scoring member of an excluded
    // group → always-empty query) refuses loudly, like the parser's own
    // explicit-contradiction rule
    assertThrows[QueryParser.ParseException](
      syn.rewrite(QueryParser.parse(7, "-batch stream", analyzer)))
    assertThrows[QueryParser.ParseException](
      syn.rewrite(QueryParser.parse(8, "quick -fast merge", analyzer)))
    // construction validation: non-normal member, overlapping groups
    assertThrows[IllegalArgumentException](
      Synonyms(analyzer, Seq(Seq("fast", "Top-K"))))
    assertThrows[IllegalArgumentException](
      Synonyms(analyzer, Seq(Seq("fast", "quick"), Seq("quick", "slow"))))
    assertThrows[IllegalArgumentException](Synonyms(analyzer, Seq(Seq("fast"))))
  }

  test("synonym retrieval: rank- and score-identical to the rewritten brute force") {
    val got = Search.search(handle, QueryParser.parseAll(QuerySet.synonyms, analyzer), Wand.Ranked(10),
      synonyms = Some(QuerySet.synTable))
    QuerySet.synonyms.foreach { case (qid, s) =>
      val q = Search.expand(handle,
        QuerySet.synTable.rewrite(QueryParser.parse(qid, s, analyzer)))
      val w = want(q, 10)
      val g = got(qid)
      assert(g.length == w.length, s"[$s] size: got ${g.length} want ${w.length}")
      g.zip(w).foreach { case ((gs, gd), (ws, wd)) =>
        assert(gd == wd && gs == ws, s"[$s] got ($gs,$gd) want ($ws,$wd)")
      }
    }
    // counts see the same expansion
    val cnt = Search.count(handle, QueryParser.parseAll(Seq(1 -> "scan window"), analyzer),
      synonyms = Some(QuerySet.synTable))(1)
    val q = QuerySet.synTable.rewrite(QueryParser.parse(1, "scan window", analyzer))
    assert(cnt == allDocs.count(d =>
      q.scoring.exists(t => hasTerm(d, t._1)) && satisfies(d, q)).toLong)
  }

  test("repeated-term phrase (\"batch batch\") verifies true adjacency") {
    val q = QueryParser.parse(1, "\"batch batch\"", analyzer)
    assert(q.phrases == Seq(Phrase(Seq("batch", "batch"))))
    val got = Search.search(handle, Seq(q), Wand.Ranked(40))
    val matching = allDocs.filter(d => hasPhrase(d, Phrase(Seq("batch", "batch"))))
    assert(got(1).map(_._2).toSet == matching.take(40).toSet ||
      got(1).map(_._2).forall(matching.contains), "every hit must contain the doubled term adjacently")
    // and the full constrained-oracle equality
    assertIdentical(Seq(1 -> "\"batch batch\""), 40)
  }

  // ------------------------------------------------------- hybrid retrieval

  test("RRF fusion math: both-list sum, single-list coalesce, ties, cutoff") {
    val bm: Map[Int, Seq[Long]] = Map(1 -> Seq(10L, 20L, 30L))
    val vec: Map[Int, Seq[Long]] = Map(1 -> Seq(20L, 40L), 2 -> Seq(5L))
    val fused = Hybrid.rrf(Seq(bm, vec), k = 10, c = 60)
    // doc 20: rank 2 in bm + rank 1 in vec
    val f1 = fused(1).toMap.map(_.swap)
    assert(f1(20L) == 1.0 / 62 + 1.0 / 61)
    assert(f1(10L) == 1.0 / 61 && f1(30L) == 1.0 / 63 && f1(40L) == 1.0 / 62)
    // both-list doc outranks every single-list doc here
    assert(fused(1).head._2 == 20L)
    // exact tie (10 in bm rank1 only vs nothing) — ties break docId asc:
    // 30 (1/63) vs nothing else at that value; construct a real tie:
    val tied = Hybrid.rrf(Seq(Map(1 -> Seq(7L)), Map(1 -> Seq(3L))), k = 10)
    assert(tied(1).map(_._2).toSeq == Seq(3L, 7L)) // equal 1/61, docId asc
    // query present in only one list still fuses
    assert(fused(2).toSeq == Seq((1.0 / 61, 5L)))
    // k cutoff
    assert(Hybrid.rrf(Seq(bm, vec), k = 2)(1).length == 2)
  }

  test("rescore: bigram-adjacency bonus == tokenizer-ground-truth recomputation") {
    def r6(s: Double) = BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Rescore.topK(handle, QuerySet.rescore, analyzer, k = 10)
    var anyBonus = false
    QuerySet.rescore.foreach { case (qid, s) =>
      val q = QueryParser.parse(qid, s, analyzer)
      // base window: the spec's exact brute ranking, re-ranked by the
      // rounded comparison key (the engine's window-cut discipline)
      val window = want(q, Int.MaxValue).toSeq
        .map { case (sc, d) => (d, sc) }
        .sortBy { case (d, sc) => (-r6(sc), d) }
        .take(20)
      // bonus from the spec's own tokenizer-derived positions map (ground
      // truth independent of the index's positional decode)
      val ts = q.scoring.map(_._1)
      val bgs = ts.zip(ts.drop(1)).distinct
      def adjacent(d: Long, a: String, b: String): Boolean = {
        val pa = positions.getOrElse((d, a), Array.empty[Int])
        val pb = positions.getOrElse((d, b), Array.empty[Int]).toSet
        pa.exists(p => pb.contains(p + 1))
      }
      val want10 = window.map { case (d, sc) =>
        val n = bgs.count { case (a, b) => adjacent(d, a, b) }
        if (n > 0) anyBonus = true
        (sc + 2.0 * n, d)
      }.sortBy { case (fs, d) => (-r6(fs), d) }.take(10)
      assert(got(qid).toSeq == want10,
        s"[$s] rescore: got ${got(qid).toSeq} want $want10")
      if (qid == 6) { // OOV bigram member → pure base ranking inside the window
        assert(got(qid).toSeq == window.take(10).map { case (d, sc) => (sc, d) })
      }
    }
    assert(anyBonus, "fixture must exercise a nonzero bonus somewhere")
    // the bonus actually reorders at least one window (a no-op rescorer
    // would pass the equality above vacuously if bonuses never fired)
    val reordered = QuerySet.rescore.exists { case (qid, s) =>
      val q = QueryParser.parse(qid, s, analyzer)
      val base10 = want(q, Int.MaxValue).toSeq
        .map { case (sc, d) => (d, sc) }
        .sortBy { case (d, sc) => (-r6(sc), d) }.take(10).map(_._1)
      got(qid).map(_._2).toSeq != base10
    }
    assert(reordered, "the bonus must reorder at least one fixture window")
  }

  test("significant terms: JLH over the match window == ground-truth recomputation") {
    def r6(s: Double) = BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Significant.terms(handle, QuerySet.significant, analyzer, topN = 10)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      .groupBy(_._1)
    val n = allDocs.size.toDouble
    val vocab = positions.keysIterator.map(_._2).toSet
    def df(t: String): Long = allDocs.count(d => hasTerm(d, t)).toLong
    QuerySet.significant.foreach { case (qid, s) =>
      val q = Search.expand(handle, QueryParser.parse(qid, s, analyzer))
      val window = want(q, Int.MaxValue).toSeq
        .map { case (sc, d) => (d, sc) }
        .sortBy { case (d, sc) => (-r6(sc), d) }
        .take(20).map(_._1)
      val wn = window.length.toDouble
      val expected = vocab.toSeq.map { t =>
        val fg = window.count(d => hasTerm(d, t)).toLong
        (t, fg)
      }.filter(_._2 >= 2).map { case (t, fg) =>
        val fgRate = fg.toDouble / wn
        val bgRate = df(t).toDouble / n
        (t, fg, (fgRate - bgRate) * (fgRate / bgRate))
      }.sortBy { case (t, _, sc) => (-r6(sc), t) }.take(10)
      val g = got.getOrElse(qid, Array.empty).sortBy(_._2).toSeq
      assert(g.length == expected.length, s"[$s] size: got ${g.length} want ${expected.length}")
      g.zip(expected).zipWithIndex.foreach { case (((_, rk, gt, gfg, gsc), (wt, wfg, wsc)), i) =>
        assert(rk == i + 1 && gt == wt && gfg == wfg,
          s"[$s] rank ${i + 1}: got ($gt,$gfg) want ($wt,$wfg)")
        assert(math.abs(gsc -
          BigDecimal(wsc).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) <= 1e-4,
          s"[$s] rank ${i + 1}: score got $gsc want $wsc")
      }
      if (qid == 5) assert(g.isEmpty, "OOV query must produce no significant terms")
      // the query's own terms surface as significant (sanity of the contrast)
      if (qid == 1) assert(g.map(_._3).toSet.intersect(Set("merge", "join")).nonEmpty)
    }
  }

  test("percolate: reverse search == ground-truth constraint evaluation") {
    val docs = Pages.cleaned(Pages.withInjections(spark, sfDir))
    val parsed = QuerySet.percolate.map { case (qid, s) =>
      QueryParser.parse(qid, s, analyzer) }
    val got = Percolate.matches(docs, parsed, analyzer)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val want = (for {
      q <- parsed
      d <- allDocs
      if q.scoring.exists(t => hasTerm(d, t._1)) && satisfies(d, q)
    } yield (q.queryId, d)).toSet
    assert(got == want, s"percolate mismatch: extra=${got -- want} missing=${want -- got}")
    // the zero-match shapes really produce nothing
    assert(!got.exists(p => p._1 == 8 || p._1 == 9))
    // a percolate hit IS a search hit after indexing (membership duality)
    val cnt = Search.count(handle, parsed)
    parsed.foreach(q => assert(
      got.count(_._1 == q.queryId).toLong == cnt(q.queryId),
      s"[${q.queryId}] percolate count != index count"))
    // synonyms thread the same pure rewrite
    val sg = Percolate.matches(docs, Seq(QueryParser.parse(1, "scan window", analyzer)),
      analyzer, synonyms = Some(QuerySet.synTable))
      .collect().map(_.getLong(1)).toSet
    val sq = QuerySet.synTable.rewrite(QueryParser.parse(1, "scan window", analyzer))
    assert(sg == allDocs.filter(d =>
      sq.scoring.exists(t => hasTerm(d, t._1)) && satisfies(d, sq)))
    // vocabulary-expanding clauses are refused loudly
    intercept[IllegalArgumentException] {
      Percolate.matches(docs, Seq(QueryParser.parse(1, "wind* batch", analyzer)), analyzer)
    }
    intercept[IllegalArgumentException] {
      Percolate.matches(docs, Seq(QueryParser.parse(1, "joi~1 batch", analyzer)), analyzer)
    }
    // raw-crawl-record hygiene: a null url fails every url filter (SQL
    // NULL semantics — excluded, never an NPE); a null text matches nothing
    import spark.implicits._
    val weird = Seq(
      (900001L, null.asInstanceOf[String], "merge join batch"),
      (900002L, "https://example.org/42/2", null.asInstanceOf[String]))
      .toDF("doc_id", "url", "text")
    val wq = Seq(QueryParser.parse(1, "merge join url:2/1", analyzer),
      QueryParser.parse(2, "merge join", analyzer))
    val wGot = Percolate.matches(weird, wq, analyzer)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(wGot == Set(2 -> 900001L), s"null-hygiene: got $wGot")
  }

  test("percolate query index: a 10k stored-query set matches identically") {
    // the candidate index must change NOTHING about the match set: the
    // fixture queries buried in 10,000 synthetic saved searches (whose
    // scoring terms are disjoint from the corpus vocabulary, so they can
    // never be candidates for any doc) yield exactly the fixture-only rows,
    // and a real-vocabulary synthetic slice agrees with per-query runs
    val docs = Pages.cleaned(Pages.withInjections(spark, sfDir))
    val fixture = QuerySet.percolate.map { case (qid, s) =>
      QueryParser.parse(qid, s, analyzer) }
    val oov = (1000 until 11000).map(i =>
      QueryParser.parse(i, s"zzq$i +zzr$i", analyzer))
    val vocab = positions.keysIterator.map(_._2).toSet.toSeq.sorted
    val rnd = new scala.util.Random(7)
    val synth = (20000 until 20100).map { i =>
      val ts = Seq.fill(2)(vocab(rnd.nextInt(vocab.size))).distinct
      QueryParser.parse(i, ts.mkString(" "), analyzer)
    }
    val all = fixture ++ oov ++ synth
    val got = Percolate.matches(docs, all, analyzer)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val fixtureOnly = Percolate.matches(docs, fixture, analyzer)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val synthOnly = synth.flatMap { q =>
      Percolate.matches(docs, Seq(q), analyzer)
        .collect().map(r => (r.getInt(0), r.getLong(1)))
    }.toSet
    assert(got == fixtureOnly ++ synthOnly,
      s"large-set percolation diverges: extra=${(got -- fixtureOnly -- synthOnly).take(5)}")
    assert(!got.exists(p => p._1 >= 1000 && p._1 < 11000), "an OOV saved search matched")
    assert(synthOnly.nonEmpty, "synthetic real-vocabulary slice must match something")
  }

  test("sort-by-field: match set ordered by a doc value == ground truth") {
    import org.apache.spark.sql.functions.{col, lpad}
    // per-doc term counts from the spec's tokenizer ground truth
    val doclens: Map[Long, Int] =
      positions.toSeq.groupBy(_._1._1).map { case (d, vs) => d -> vs.map(_._2.length).sum }
    val key = lpad(col("docLen").cast("string"), 10, "0")
    val got = Search.search(handle, QueryParser.parseAll(QuerySet.percolate, analyzer), Wand.SortBy(key, 10))
    val desc = Ordering.Tuple2(Ordering.String.reverse, Ordering.Long)
    QuerySet.percolate.foreach { case (qid, s) =>
      val q = QueryParser.parse(qid, s, analyzer)
      val want = allDocs.toSeq
        .filter(d => q.scoring.exists(t => hasTerm(d, t._1)) && satisfies(d, q))
        .map(d => (f"${doclens(d)}%010d", d))
        .sorted(desc)
        .take(10)
      assert(got(qid) == want, s"[$s] sort-by: got ${got(qid)} want $want")
    }
    // the zero-match shapes sort to empty
    assert(got(8).isEmpty && got(9).isEmpty)
  }

  test("hybrid BM25 ∪ vector RRF == independent recomposition of both modalities") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def r6(s: Double) = BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val emb = graft.pipeline.Similarity.embeddings(spark, sfDir)
    val got = Hybrid.topK(handle, QuerySet.hybrid, emb, analyzer, k = 10)
    // independent cosine recompute in plain Scala (same left-fold order)
    val vecs: Map[Long, Array[Double]] = emb
      .select(col("vec_id"), col("emb")).as[(Long, Array[Double])]
      .collect().toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    QuerySet.hybrid.foreach { case (qid, s) =>
      // bm window: the spec's own exact brute ranking, re-ranked by the
      // rounded comparison key (the engine's fusion-feeding discipline)
      val q = Search.expand(handle, QueryParser.parse(qid, s, analyzer))
      val bmW = want(q, Int.MaxValue).toSeq
        .map { case (sc, d) => (d, sc) }
        .sortBy { case (d, sc) => (-r6(sc), d) }
        .take(20).map(_._1)
      // vec window: rounded-before-ranked cosine vs probe vec_id == qid
      val probe = vecs(qid.toLong)
      val vecW = vecs.toSeq.filter(_._1 != qid.toLong)
        .map { case (id, v) => (id, r6(cos(probe, v))) }
        .sortBy { case (id, c0) => (-c0, id) }
        .take(20).map(_._1)
      val want10 = (bmW.zipWithIndex.toMap.keySet ++ vecW.toSet).toSeq.map { d =>
        val b = bmW.indexOf(d); val v = vecW.indexOf(d)
        val sc = (if (b >= 0) 1.0 / (60 + b + 1) else 0.0) +
          (if (v >= 0) 1.0 / (60 + v + 1) else 0.0)
        (sc, d)
      }.sortBy { case (sc, d) => (-sc, d) }.take(10)
      assert(got(qid).toSeq == want10,
        s"[$s] hybrid fusion: got ${got(qid).toSeq} want $want10")
      if (qid == 7) { // OOV text side → pure-vector fallthrough
        assert(got(qid).map(_._2).toSeq == vecW.take(10))
        got(qid).zipWithIndex.foreach { case ((sc, _), i) =>
          assert(sc == 1.0 / (60 + i + 1)) }
      }
    }
  }
}
