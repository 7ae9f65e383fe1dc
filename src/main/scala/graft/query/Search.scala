package graft.query

import graft.index.{PostingBlock, Postings}
import graft.tokenize.TokenizerStrategy
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

/** The search-box surface: parsed query strings → exact constrained BM25
  * top-k, compiled onto the ONE WAND driver ([[Wand.search]]).
  *
  * Semantics per [[ParsedQuery]]: BM25 over the scoring terms (with
  * `term^w` boosts folded into effective idf), restricted to docs that
  * contain every `+required` term, every `"quoted phrase"` at consecutive
  * positions, none of the `-excluded` terms, none of the `-"excluded
  * phrases"`, and whose metadata satisfies every `field:value` filter.
  * Scoring statistics stay corpus-global (constraints narrow the result
  * set, they do not re-weight terms — the same discipline as
  * [[Wand.topKFiltered]]).
  *
  * Scale shape: term constraints add NO extra Spark pass — excluded
  * terms'/phrases' postings ride the same termId-pushdown block fetch,
  * membership and phrase-adjacency checks are bucket-local binary searches
  * over the already-decoded blocks (positions decoded lazily, once per
  * block), and only docs surviving the WAND pivot + block-max gates are
  * ever verified. Metadata filters compile to the [[Wand.topKFiltered]]
  * docFilter (one codegen'd predicate on the bucket-pruned docstats scan);
  * the batch executes as one WAND pass per DISTINCT filter signature —
  * filterless queries share one pass, which is the common case (a search
  * box runs one filter context at a time). Threshold seeding disables per
  * constrained query and per filtered group (their df-guaranteed docs may
  * fail the constraints); block-max pruning is unaffected.
  *
  * Reference analog: the tokenizer's vocab→token-sequence query utilities
  * (midi_tokenizer.py:1676-1750) expose one string-shaped user surface over
  * the learned vocabulary; this is the retrieval-side equivalent.
  */
object Search {

  /** Default wildcard expansion cap (Lucene's maxExpansions analog);
    * exceeding it is a loud error, never a silent truncation. */
  final val MaxExpansions = 64

  /** Resolve a query's `pre*` wildcards and `term~1` fuzzies against the
    * index dictionary. A wildcard costs one prefix RANGE scan (the
    * StartsWith predicate pushes to the parquet dictionary, so cost is
    * the expansion's term range, not the vocabulary); fuzzies resolve
    * through the SymSpell deletion-key join — pass `fuzzyMap` (one
    * [[IndexHandle.expandFuzzy]] job for the whole batch, as [[page]]
    * does) or let this compute its own for the single query. Expansion
    * semantics (see [[ParsedQuery]]): bare and `+` expansions score at
    * the clause weight — explicit terms and earlier clauses win
    * collisions (wildcards before fuzzies, each in clause order); a `+`
    * clause additionally adds its expansion set as a `requiredAny` group
    * (empty = unsatisfiable → the kernel empties the query); a `-`
    * clause's expansions join `excluded` (empty = no-op). Already-
    * expanded queries pass through untouched. */
  def expand(index: IndexHandle, q: ParsedQuery,
      maxExpansions: Int = MaxExpansions,
      fuzzyMap: Option[Map[String, Seq[String]]] = None,
      prefixMap: Option[Map[String, Seq[String]]] = None): ParsedQuery =
    if (q.wildcards.isEmpty && q.fuzzies.isEmpty) q
    else {
      val fm = fuzzyMap.getOrElse(
        index.expandFuzzy(q.fuzzies.map(_.term), maxExpansions))
      val pm = prefixMap.getOrElse(
        index.expandPrefixes(q.wildcards.map(_.prefix), maxExpansions))
      val scoring = scala.collection.mutable.LinkedHashMap(q.scoring: _*)
      val excluded = scala.collection.mutable.ArrayBuffer(q.excluded: _*)
      val requiredAny = scala.collection.mutable.ArrayBuffer(q.requiredAny: _*)
      def fold(exp: Seq[String], weight: Double, op: Char): Unit = op match {
        case '-' => excluded ++= exp
        case op2 =>
          exp.foreach(t => if (!scoring.contains(t)) scoring(t) = weight)
          if (op2 == '+') requiredAny += exp
      }
      // self-healing on a caller-supplied map missing a prefix (the batch
      // compile always passes complete maps; a partial one falls back to
      // the per-prefix job rather than an opaque NoSuchElementException)
      q.wildcards.foreach(w => fold(
        pm.getOrElse(w.prefix, index.expandPrefix(w.prefix, maxExpansions)),
        w.weight, w.op))
      q.fuzzies.foreach(f => fold(fm.getOrElse(f.term, Seq.empty), f.weight, f.op))
      q.copy(scoring = scoring.toSeq, excluded = excluded.distinct.toSeq,
        requiredAny = requiredAny.toSeq, wildcards = Seq.empty, fuzzies = Seq.empty)
    }

  /** Parse raw query strings with the index's analyzer and run them.
    * Returns queryId → ranked (score, docId), exactly like [[Wand.topK]]. */
  def topKRaw(index: IndexHandle, raw: Seq[(Int, String)], k: Int,
      analyzer: TokenizerStrategy,
      metrics: Option[Wand.WandMetrics] = None,
      collapse: Option[Column] = None,
      synonyms: Option[Synonyms] = None): Map[Int, Array[(Double, Long)]] =
    topK(index, raw.map { case (qid, s) => QueryParser.parse(qid, s, analyzer) }, k,
      metrics, collapse, synonyms)

  /** One `field:value` filter → a Column over the docstats row. The only
    * field [[QueryParser]] admits is `url` (raw substring). */
  private def filterColumn(f: FieldFilter): Column = {
    val base = col(f.field).contains(lit(f.value))
    if (f.negated) !base else base
  }

  /** Run already-parsed queries: one WAND pass per distinct filter
    * signature, queryIds preserved across the regrouping. `collapse`
    * (a Column over the docstats row, e.g. a site key from url) switches
    * the whole batch to one-result-per-group ranking — see
    * [[Wand.topKCollapsed]]. */
  def topK(index: IndexHandle, queries: Seq[ParsedQuery], k: Int,
      metrics: Option[Wand.WandMetrics] = None,
      collapse: Option[Column] = None,
      synonyms: Option[Synonyms] = None): Map[Int, Array[(Double, Long)]] =
    page(index, queries, k, after = Map.empty, metrics, collapse, synonyms)

  /** DEEP PAGINATION over the full DSL surface: the next k results
    * strictly after each query's `(score, docId)` cursor (its previous
    * page's last row), with every constraint and filter still applied —
    * see [[Wand.topKAfter]] for the cursor semantics and cost shape.
    * Queries absent from `after` return their first page. */
  def page(index: IndexHandle, queries00: Seq[ParsedQuery], k: Int,
      after: Map[Int, (Double, Long)],
      metrics: Option[Wand.WandMetrics] = None,
      collapse: Option[Column] = None,
      synonyms: Option[Synonyms] = None): Map[Int, Array[(Double, Long)]] =
    perSignature(index, ranked(k, after, collapse), compile(index, queries00, synonyms), metrics)

  /** The ranked mode of the DSL surface: a collapsed ranking has no
    * stable per-doc cursor, so a cursor under collapse is refused. */
  private def ranked(k: Int, after: Map[Int, (Double, Long)],
      collapse: Option[Column]): Wand.Ranked = {
    require(after.isEmpty || collapse.isEmpty,
      "collapse does not compose with search_after (no stable per-doc cursor)")
    Wand.Ranked(k, collapse.fold[Wand.Order](Wand.ByScore(after))(Wand.Collapse))
  }

  /** Run one independent WAND pass per element of `groups` CONCURRENTLY
    * (optimization guide §2.6): filter-signature groups are disjoint query
    * sets over the same index, so their passes share no state and one
    * pass's straggler tail back-fills the others' tasks. Driver threads
    * only — each pass still issues its own jobs. */
  private def inParallel[G, R](groups: Iterator[G])(run: G => Map[Int, R]): Map[Int, R] = {
    val gs = groups.toSeq
    if (gs.lengthCompare(1) <= 0) gs.headOption.fold(Map.empty[Int, R])(run)
    else graft.index.Overlap.all(gs.map(g => () => run(g))).flatten.toMap
  }

  /** One `mode` pass of an already-compiled batch per filter signature,
    * the passes run concurrently. */
  private def perSignature[R](index: IndexHandle, mode: Wand.Mode[R],
      queries: Seq[ParsedQuery], metrics: Option[Wand.WandMetrics] = None): Map[Int, R] =
    inParallel(grouped(queries)) { case (docFilter, group, cons) =>
      Wand.search(Seq(index -> 1.0), group.map(_.toQuerySpec), mode, docFilter, cons,
        metrics = metrics)
    }

  /** Shared batch compile: synonym rewrite first (a pure rewrite — it
    * neither consults the dictionary nor expands wildcard/fuzzy
    * products), then ONE batched fuzzy-needle expansion job and ONE
    * batched wildcard-prefix expansion job for the whole batch
    * ([[IndexHandle.expandPrefixes]] — previously one dictionary-scan job
    * per wildcard CLAUSE), then per-query dictionary expansion. */
  private def compile(index: IndexHandle, queries00: Seq[ParsedQuery],
      synonyms: Option[Synonyms]): Seq[ParsedQuery] = {
    val queries0 = synonyms.fold(queries00)(s => queries00.map(s.rewrite))
    val needles = queries0.flatMap(_.fuzzies.map(_.term)).distinct
    val fm =
      if (needles.isEmpty) Map.empty[String, Seq[String]]
      else index.expandFuzzy(needles, MaxExpansions)
    val prefixes = queries0.flatMap(_.wildcards.map(_.prefix)).distinct
    val pm =
      if (prefixes.isEmpty) Map.empty[String, Seq[String]]
      else index.expandPrefixes(prefixes, MaxExpansions)
    queries0.map(expand(index, _, MaxExpansions, Some(fm), Some(pm)))
  }

  /** Batch compile: group by canonical filter signature (so `url:a -url:b`
    * == `-url:b url:a` share a WAND pass), each group carrying its compiled
    * docFilter Column and per-query constraint set. */
  private def grouped(queries: Seq[ParsedQuery])
      : Iterator[(Option[Column], Seq[ParsedQuery], Map[Int, Wand.Constraints])] = {
    def signature(q: ParsedQuery): Seq[FieldFilter] =
      q.filters.distinct.sortBy(f => (f.field, f.value, f.negated))
    queries.groupBy(signature).iterator.map { case (sig, group) =>
      val cons = group.flatMap { q =>
        val c = Wand.Constraints(q.required, q.excluded, q.phrases,
          q.excludedPhrases, q.requiredAny, minMatch = q.minShouldMatch,
          scoringTerms =
            if (q.minShouldMatch > 0) q.scoring.map(_._1) else Seq.empty)
        if (c.nonEmpty) Some(q.queryId -> c) else None
      }.toMap
      val docFilter: Option[Column] =
        if (sig.isEmpty) None else Some(sig.map(filterColumn).reduce(_ && _))
      (docFilter, group, cons)
    }
  }

  /** Exact TOTAL HITS per query — the "About N results" figure, exact:
    * documents containing at least one scoring term AND satisfying every
    * constraint and metadata filter (Lucene totalHits semantics for a
    * bool-should query). Same compile path as [[topK]] (wildcard/fuzzy
    * expansion first, one pass per distinct filter signature), but the
    * kernel runs in count mode: no scoring flops, no heap, and each
    * bucket ships ONE partial-count row — the shuffle is O(candidate
    * buckets), not O(matching docs), which is what makes an exact count
    * affordable at 10^12 docs. OOV-only queries and unsatisfiable
    * constraints count 0. */
  def countRaw(index: IndexHandle, raw: Seq[(Int, String)],
      analyzer: TokenizerStrategy,
      synonyms: Option[Synonyms] = None): Map[Int, Long] =
    count(index, raw.map { case (qid, s) => QueryParser.parse(qid, s, analyzer) },
      synonyms)

  def count(index: IndexHandle, queries00: Seq[ParsedQuery],
      synonyms: Option[Synonyms] = None): Map[Int, Long] =
    perSignature(index, Wand.Count, compile(index, queries00, synonyms))

  /** EXACT FACET COUNTS over each query's match set — the SERP facet
    * panel: per facet value (any Column over the docstats row, like
    * collapse keys), the number of matching docs, top-N values by
    * (count desc, value asc). Match-set semantics and compile path are
    * [[count]]'s; the kernel emits one partial row per (bucket, value
    * present), so the shuffle is O(buckets × present values), never
    * O(matching docs). Zero-hit queries facet to an empty list. */
  def facetsRaw(index: IndexHandle, raw: Seq[(Int, String)],
      analyzer: TokenizerStrategy, facetKey: Column, topN: Int,
      synonyms: Option[Synonyms] = None): Map[Int, Seq[(String, Long)]] =
    facets(index,
      raw.map { case (qid, s) => QueryParser.parse(qid, s, analyzer) },
      facetKey, topN, synonyms)

  def facets(index: IndexHandle, queries00: Seq[ParsedQuery], facetKey: Column,
      topN: Int, synonyms: Option[Synonyms] = None): Map[Int, Seq[(String, Long)]] =
    perSignature(index, Wand.Facets(facetKey, topN), compile(index, queries00, synonyms))
      .map { case (qid, (_, fs)) => qid -> fs }

  /** SORT-BY-FIELD over the full DSL surface: each query's match set
    * ordered by a sortable-string-encoded doc-value key instead of
    * relevance — see [[Wand.SortBy]] for the encoding contract and the
    * O(buckets × k) cost shape. Compile path is [[count]]'s. */
  def sortByRaw(index: IndexHandle, raw: Seq[(Int, String)],
      analyzer: TokenizerStrategy, sortKey: Column, k: Int,
      synonyms: Option[Synonyms] = None): Map[Int, Seq[(String, Long)]] =
    sortBy(index,
      raw.map { case (qid, s) => QueryParser.parse(qid, s, analyzer) },
      sortKey, k, synonyms)

  def sortBy(index: IndexHandle, queries00: Seq[ParsedQuery], sortKey: Column,
      k: Int, synonyms: Option[Synonyms] = None): Map[Int, Seq[(String, Long)]] =
    perSignature(index, Wand.SortBy(sortKey, k), compile(index, queries00, synonyms))

  /** One SERP request: the query string plus every knob of the surface. */
  final case class SearchRequest(
      query: String,
      k: Int = 10,
      collapse: Option[Column] = None,
      facetKey: Option[Column] = None,
      facetTopN: Int = 10,
      synonyms: Option[Synonyms] = None,
      after: Option[(Double, Long)] = None)

  /** One SERP response: ranked hits, EXACT total, facet panel, and the
    * cursor for the next page (absent under collapse — a collapsed
    * ranking has no stable per-doc cursor — or on an empty page). Under
    * collapse, `total` still counts matching DOCS, not groups. */
  final case class SearchResponse(
      hits: Array[(Double, Long)],
      total: Long,
      facets: Seq[(String, Long)],
      nextCursor: Option[(Double, Long)])

  /** THE search endpoint — one request, one response, ONE WAND pass
    * ([[Wand.Serp]]): each candidate bucket runs the ranked kernel (with
    * constraints/filters/collapse/cursor) and the exhaustive match walk
    * over the same decoded blocks, so one pass yields the hits, the exact
    * total and, when `facetKey` is set, the facet panel (the per-value
    * counts partition the match set, so their sum is the total). Measured
    * on 4 cores over seven one-per-shape requests with a facet panel, all
    * in [[Wand.search]]'s driver placement: 3 Spark jobs per plain request
    * (lookup, blocks, docstats), 5 with a wildcard, 6 with a fuzzy term. */
  def run(index: IndexHandle, req: SearchRequest,
      analyzer: TokenizerStrategy): SearchResponse = {
    val compiled = compile(index,
      Seq(QueryParser.parse(1, req.query, analyzer)), req.synonyms)
    serve(index, compiled, req.k, req.after.map(1 -> _).toMap, req.collapse,
      req.facetKey.map(_ -> req.facetTopN))(1)
  }

  /** THE BATCHED SERP ENDPOINT: N requests sharing one knob set (k,
    * facetKey, facetTopN, synonyms) answered with ONE [[Wand.Serp]] pass
    * per distinct filter signature — instead of [[run]]'s one pass PER
    * REQUEST. The signatures are served one at a time, so one pass is in
    * flight whatever the number of signatures. The underlying driver
    * ([[Wand.search]]) batches arbitrarily many queries per pass and
    * evaluates them independently, so each request's hits, exact total,
    * facet panel and cursor are IDENTICAL to its solo [[run]] (SearchSpec
    * asserts runAll == N × run). This is the shape a service answering
    * concurrent search requests must take: per-request job dispatch costs
    * O(requests) Spark jobs of pure driver overhead, batched dispatch costs
    * O(distinct filter signatures). */
  def runAll(index: IndexHandle, reqs: Seq[(Int, String)], k: Int,
      facetKey: Option[Column], facetTopN: Int,
      analyzer: TokenizerStrategy,
      synonyms: Option[Synonyms] = None): Map[Int, SearchResponse] = {
    val compiled = compile(index,
      reqs.map { case (qid, s) => QueryParser.parse(qid, s, analyzer) }, synonyms)
    serve(index, compiled, k, after = Map.empty, collapse = None,
      facetKey.map(_ -> facetTopN))
  }

  /** The SERP core of [[run]] and [[runAll]]: one [[Wand.Serp]] pass per
    * filter signature, in turn. `facet` is (key, topN). */
  private def serve(index: IndexHandle, compiled: Seq[ParsedQuery], k: Int,
      after: Map[Int, (Double, Long)], collapse: Option[Column],
      facet: Option[(Column, Int)]): Map[Int, SearchResponse] = {
    val mode = Wand.Serp(ranked(k, after, collapse), facet)
    grouped(compiled).flatMap { case (docFilter, group, cons) =>
      Wand.search(Seq(index -> 1.0), group.map(_.toQuerySpec), mode, docFilter, cons)
        .map { case (qid, (h, total, fs)) =>
          val cursor = if (collapse.isDefined) None else h.lastOption.filter(_ => h.length == k)
          qid -> SearchResponse(h, total, fs, cursor)
        }
    }.toMap
  }

  /** Cut a `fetch`-deep EXACT result to a `window`-deep window by the
    * ROUNDED comparison key — (round(score, 6) desc, docId asc), the
    * oracle's ordering — guarding the cut: if the fetch came back full
    * and a rounded tie could span the window boundary, fail LOUDLY
    * instead of silently diverging from an oracle's window. The shared
    * window discipline of [[Hybrid]], [[Rescore]], [[Significant]], and
    * the SERP driver row. Returns (docId, exactScore) in window order. */
  def windowByRoundedKey(arr: Array[(Double, Long)], fetch: Int,
      window: Int, what: String): Seq[(Long, Double)] = {
    def r6(s: Double) = BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ranked = arr.toSeq.map { case (s, d) => (d, s) }
      .sortBy { case (d, s) => (-r6(s), d) }
    if (arr.length == fetch && ranked.length > window)
      require(r6(ranked(window - 1)._2) != r6(arr.last._1),
        s"$what: rounded-score tie spans the window W=$window — raise headroom")
    ranked.take(window)
  }

  /** [[explain]] for a BATCH of (query, doc) pairs in THREE jobs total —
    * one term-pruned dictionary lookup, one docstats point-lookup scan, one
    * postings probe with an OR-of-bucket-ranges predicate — instead of
    * three jobs PER pair. Rows per pair are identical to the solo
    * [[explain]]'s (same resolution, same ascending-termId order, same
    * doubles; SearchSpec asserts it). Returns (queryId, docId) → rows of
    * (term, weight, tf, df, idf, doc_len, impact). */
  def explainAll(index: IndexHandle, pairs: Seq[(ParsedQuery, Long)])
      : Map[(Int, Long), Seq[(String, Double, Int, Long, Double, Int, Double)]] = {
    import graft.query.{Bm25 => B}
    val m = index.manifest
    val dict = index.lookupTerms(pairs.flatMap(_._1.scoring.map(_._1)).distinct)
    val resolvedByPair = pairs.map { case (q, d) =>
      (q.queryId, d) -> q.scoring.map(_._1).flatMap(t => dict.get(t)).sortBy(_.termId)
    }.toMap
    val docIds = pairs.map(_._2).distinct
    val docLens: Map[Long, Int] =
      if (docIds.isEmpty || resolvedByPair.valuesIterator.forall(_.isEmpty)) Map.empty
      else index.docstats // LIVE: tombstoned docs vanish
        .filter(col("docId").isin(docIds.map(Long.box): _*))
        .collect().map(s => s.docId -> s.docLen).toMap
    val allIds = resolvedByPair.valuesIterator.flatten.map(_.termId).toSeq.distinct
    val blocks =
      if (allIds.isEmpty || docLens.isEmpty) Array.empty[PostingBlock]
      else index.postings
        .filter(col("termId").isin(allIds.map(Int.box): _*) &&
          Postings.inBuckets(m, docIds.map(_ / m.bucketRange)))
        .collect()
    // per (termId, bucket): blocks sorted by firstDocId for the point probe
    val byTermBucket = blocks.groupBy(b => (b.termId, b.blockId / m.blocksPerBucket))
      .map { case (k, bs) => k -> bs.sortBy(_.firstDocId) }
    def tfOf(tid: Int, doc: Long): Option[Int] =
      byTermBucket.getOrElse((tid, doc / m.bucketRange), Array.empty[PostingBlock])
        .iterator.filter(_.firstDocId <= doc).flatMap(Postings.tfAt(_, doc)).nextOption()
    pairs.map { case (q, d) =>
      val weights = q.scoring.toMap
      val rows = docLens.get(d) match {
        case None => Seq.empty[(String, Double, Int, Long, Double, Int, Double)]
        case Some(dl) =>
          resolvedByPair((q.queryId, d)).flatMap { e =>
            tfOf(e.termId, d).map { tf =>
              val w = weights(e.term)
              val idf = B.idf(m.nDocs, e.df)
              val impact = B.scoreWithIdf(w * idf, tf, dl, m.avgdl)
              (e.term, w, tf, e.df, idf, dl, impact)
            }
          }
      }
      (q.queryId, d) -> rows
    }.toMap
  }

  /** EXPLAIN: the per-term score breakdown of one (query, doc) — the
    * Lucene `explain()` of this engine. One row per scoring term with a
    * posting in the doc: (term, weight, tf, df, idf, doc_len, impact),
    * where impact = weight · idf · BM25-tf-norm and the ascending-termId
    * sum of `impact` is BIT-IDENTICAL to the doc's [[topK]] score (same
    * addends, same order — SearchSpec asserts it). Everything is read
    * from the index: the dictionary lookup is term-pruned, the postings
    * probe is one bucket × |terms| blocks (termId pushdown + the doc's
    * bucket blockId range), the norm one docstats point lookup — cost is
    * independent of corpus size. A tombstoned or absent doc yields zero
    * rows (nothing to explain). */
  def explain(index: IndexHandle, q: ParsedQuery, docId: Long): DataFrame = {
    val spark = index.spark
    import spark.implicits._
    val m = index.manifest
    val dict = index.lookupTerms(q.scoring.map(_._1))
    val weights = q.scoring.toMap
    val resolved = q.scoring.map(_._1).flatMap(t => dict.get(t)).sortBy(_.termId)
    if (resolved.isEmpty)
      return Seq.empty[(String, Double, Int, Long, Double, Int, Double)]
        .toDF("term", "weight", "tf", "df", "idf", "doc_len", "impact")
    val ids = resolved.map(_.termId)
    val docLen: Option[Int] = index.docstats // LIVE: tombstoned docs vanish
      .filter(col("docId") === docId).limit(1).collect().headOption.map(_.docLen)
    docLen match {
      case None =>
        Seq.empty[(String, Double, Int, Long, Double, Int, Double)]
          .toDF("term", "weight", "tf", "df", "idf", "doc_len", "impact")
      case Some(dl) =>
        val tfs: Map[Int, Int] = index.postings
          .filter(col("termId").isin(ids.map(Int.box): _*) &&
            Postings.inBuckets(m, Seq(docId / m.bucketRange)) && col("firstDocId") <= docId)
          .collect()
          .flatMap(b => Postings.tfAt(b, docId).map(b.termId -> _)).toMap
        resolved.flatMap { e =>
          tfs.get(e.termId).map { tf =>
            val w = weights(e.term)
            val idf = Bm25.idf(m.nDocs, e.df)
            val impact = Bm25.scoreWithIdf(w * idf, tf, dl, m.avgdl)
            (e.term, w, tf, e.df, idf, dl, impact)
          }
        }.toDF("term", "weight", "tf", "df", "idf", "doc_len", "impact")
    }
  }
}
