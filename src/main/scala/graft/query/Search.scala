package graft.query

import graft.index.{PostingBlock, Postings}
import graft.tokenize.TokenizerStrategy
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}

/** The search-box surface: parsed query strings → exact constrained BM25,
  * compiled onto the ONE WAND driver ([[Wand.search]]) through one entry,
  * [[Search.search]], in any [[Wand.Mode]].
  *
  * Semantics per [[ParsedQuery]]: BM25 over the scoring terms (with
  * `term^w` boosts folded into effective idf), restricted to docs that
  * contain every `+required` term, every `"quoted phrase"` at consecutive
  * positions, none of the `-excluded` terms, none of the `-"excluded
  * phrases"`, and whose metadata satisfies every `field:value` filter.
  * Scoring statistics stay corpus-global (constraints narrow the result
  * set, they do not re-weight terms — the same discipline as
  * [[Wand.search]]'s `docFilter`).
  *
  * Scale shape: term constraints add NO extra Spark pass — excluded
  * terms'/phrases' postings ride the same termId-pushdown block fetch,
  * membership and phrase-adjacency checks are bucket-local binary searches
  * over the already-decoded blocks (positions decoded lazily, once per
  * block), and only docs surviving the WAND pivot + block-max gates are
  * ever verified. Metadata filters compile to [[Wand.search]]'s docFilter
  * (one codegen'd predicate on the bucket-pruned docstats scan); the
  * batch executes as one WAND pass per DISTINCT filter signature, one
  * after another — filterless queries share one pass, which is the common
  * case (a search box runs one filter context at a time). Threshold
  * seeding disables per constrained query and per filtered group (their
  * df-guaranteed docs may fail the constraints); block-max pruning is
  * unaffected.
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
    * index dictionary — [[expandAll]] for one query. */
  def expand(index: IndexHandle, q: ParsedQuery,
      maxExpansions: Int = MaxExpansions): ParsedQuery =
    expandAll(index, Seq(q), maxExpansions).head

  /** Resolve a batch's wildcards and fuzzies: ONE narrow dictionary scan
    * for all its prefixes and needles ([[IndexHandle.expand]]), skipped
    * when the batch has none, then per-query folding. Expansion semantics
    * (see [[ParsedQuery]]): bare and `+` expansions score at the clause
    * weight — explicit terms and earlier clauses win collisions (wildcards before
    * fuzzies, each in clause order); a `+` clause additionally adds its
    * expansion set as a `requiredAny` group (empty = unsatisfiable → the
    * kernel empties the query); a `-` clause's expansions join `excluded`
    * (empty = no-op). Already-expanded queries pass through untouched. */
  private def expandAll(index: IndexHandle, queries: Seq[ParsedQuery],
      maxExpansions: Int): Seq[ParsedQuery] = {
    val (pm, fm) = index.expand(queries.flatMap(_.wildcards.map(_.prefix)),
      queries.flatMap(_.fuzzies.map(_.term)), maxExpansions)
    queries.map { q =>
      if (q.wildcards.isEmpty && q.fuzzies.isEmpty) q
      else {
        val scoring = scala.collection.mutable.LinkedHashMap(q.scoring: _*)
        val excluded = scala.collection.mutable.ArrayBuffer(q.excluded: _*)
        val requiredAny = scala.collection.mutable.ArrayBuffer(q.requiredAny: _*)
        def fold(exp: Seq[String], weight: Double, op: Char): Unit = op match {
          case '-' => excluded ++= exp
          case op2 =>
            exp.foreach(t => if (!scoring.contains(t)) scoring(t) = weight)
            if (op2 == '+') requiredAny += exp
        }
        q.wildcards.foreach(w => fold(pm(w.prefix), w.weight, w.op))
        q.fuzzies.foreach(f => fold(fm.getOrElse(f.term, Seq.empty), f.weight, f.op))
        q.copy(scoring = scoring.toSeq, excluded = excluded.distinct.toSeq,
          requiredAny = requiredAny.toSeq, wildcards = Seq.empty, fuzzies = Seq.empty)
      }
    }
  }

  /** One `field:value` filter → a Column over the docstats row. The only
    * field [[QueryParser]] admits is `url` (raw substring). */
  private def filterColumn(f: FieldFilter): Column = {
    val base = col(f.field).contains(lit(f.value))
    if (f.negated) !base else base
  }

  /** THE query entry over parsed queries: one `mode` pass of
    * [[Wand.search]] per distinct filter signature, one after another, so
    * one pass is in flight whatever the number of signatures; queryIds are
    * preserved across the regrouping. The batch compiles once first: the
    * synonym rewrite (a pure rewrite — it neither consults the dictionary
    * nor expands wildcard/fuzzy products), then [[expandAll]]. */
  def search[R](index: IndexHandle, queries: Seq[ParsedQuery], mode: Wand.Mode[R],
      synonyms: Option[Synonyms] = None): Map[Int, R] = {
    val compiled = expandAll(index, synonyms.fold(queries)(s => queries.map(s.rewrite)),
      MaxExpansions)
    grouped(compiled).flatMap { case (docFilter, group) =>
      Wand.search(Seq(index -> 1.0), group.map(_.toQuerySpec), mode, docFilter)
    }.toMap
  }

  /** Batch compile: group by canonical filter signature (so `url:a -url:b`
    * == `-url:b url:a` share a WAND pass), each group carrying its compiled
    * docFilter Column; each query's constraints ride in its own
    * [[QuerySpec]]. */
  private def grouped(queries: Seq[ParsedQuery]): Iterator[(Option[Column], Seq[ParsedQuery])] = {
    def signature(q: ParsedQuery): Seq[FieldFilter] =
      q.filters.distinct.sortBy(f => (f.field, f.value, f.negated))
    queries.groupBy(signature).iterator.map { case (sig, group) =>
      (if (sig.isEmpty) None else Some(sig.map(filterColumn).reduce(_ && _)), group)
    }
  }

  /** Exact TOTAL HITS per query — the "About N results" figure:
    * [[search]] in [[Wand.Count]]. OOV-only queries and unsatisfiable
    * constraints count 0. */
  def count(index: IndexHandle, queries: Seq[ParsedQuery],
      synonyms: Option[Synonyms] = None): Map[Int, Long] =
    search(index, queries, Wand.Count, synonyms)

  /** EXACT FACET COUNTS over each query's match set — the SERP facet
    * panel: [[search]] in [[Wand.Facets]], without the total. Zero-hit
    * queries facet to an empty list. */
  def facets(index: IndexHandle, queries: Seq[ParsedQuery], facetKey: Column,
      topN: Int, synonyms: Option[Synonyms] = None): Map[Int, Seq[(String, Long)]] =
    search(index, queries, Wand.Facets(facetKey, topN), synonyms)
      .map { case (qid, (_, fs)) => qid -> fs }

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
    require(req.after.isEmpty || req.collapse.isEmpty,
      "collapse does not compose with search_after (no stable per-doc cursor)")
    val order = req.collapse.fold[Wand.Order](Wand.ByScore(req.after.map(1 -> _).toMap))(Wand.Collapse)
    serp(index, Seq(QueryParser.parse(1, req.query, analyzer)), Wand.Ranked(req.k, order),
      req.facetKey.map(_ -> req.facetTopN), req.synonyms)(1)
  }

  /** THE BATCHED SERP ENDPOINT: N requests sharing one knob set (k,
    * facetKey, facetTopN, synonyms) answered with ONE [[Wand.Serp]] pass
    * per distinct filter signature — instead of [[run]]'s one pass PER
    * REQUEST. The underlying driver ([[Wand.search]]) batches arbitrarily
    * many queries per pass and evaluates them independently, so each
    * request's hits, exact total, facet panel and cursor are IDENTICAL to
    * its solo [[run]] (SearchSpec asserts runAll == N × run). This is the
    * shape a service answering concurrent search requests must take:
    * per-request job dispatch costs O(requests) Spark jobs of pure driver
    * overhead, batched dispatch costs O(distinct filter signatures). */
  def runAll(index: IndexHandle, reqs: Seq[(Int, String)], k: Int,
      facetKey: Option[Column], facetTopN: Int,
      analyzer: TokenizerStrategy,
      synonyms: Option[Synonyms] = None): Map[Int, SearchResponse] =
    serp(index, QueryParser.parseAll(reqs, analyzer), Wand.Ranked(k),
      facetKey.map(_ -> facetTopN), synonyms)

  /** The SERP core of [[run]] and [[runAll]]: [[search]] in [[Wand.Serp]],
    * each result with its next-page cursor. `facet` is (key, topN). */
  private def serp(index: IndexHandle, queries: Seq[ParsedQuery], ranked: Wand.Ranked,
      facet: Option[(Column, Int)], synonyms: Option[Synonyms]): Map[Int, SearchResponse] = {
    val collapsed = ranked.order.isInstanceOf[Wand.Collapse]
    search(index, queries, Wand.Serp(ranked, facet), synonyms).map { case (qid, (h, total, fs)) =>
      val cursor = if (collapsed) None else h.lastOption.filter(_ => h.length == ranked.k)
      qid -> SearchResponse(h, total, fs, cursor)
    }
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
    def r6(s: Double) = halfUp(s, 6)
    val ranked = arr.toSeq.map { case (s, d) => (d, s) }
      .sortBy { case (d, s) => (-r6(s), d) }
    if (arr.length == fetch && ranked.length > window)
      require(r6(ranked(window - 1)._2) != r6(arr.last._1),
        s"$what: rounded-score tie spans the window W=$window — raise headroom")
    ranked.take(window)
  }

  /** `x` rounded half-up to `places` decimals — the oracle's ROUND, which
    * every reported score and rounded comparison key uses. */
  def halfUp(x: Double, places: Int): Double =
    BigDecimal(x).setScale(places, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** EXPLAIN: the per-term score breakdown of (query, doc) pairs — the
    * Lucene `explain()` of this engine. One row per scoring term with a
    * posting in the doc: (term, weight, tf, df, idf, doc_len, impact),
    * where impact = weight · idf · BM25-tf-norm and the ascending-termId
    * sum of `impact` is BIT-IDENTICAL to the doc's ranked score (same
    * addends, same order — SearchSpec asserts it). A whole batch costs
    * THREE jobs — one term-pruned dictionary lookup, one docstats
    * point-lookup scan, one postings probe with an OR-of-bucket-ranges
    * predicate — independent of corpus size. A tombstoned or absent doc,
    * or an OOV-only query, yields zero rows (nothing to explain). Returns
    * (queryId, docId) → rows. */
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
}
