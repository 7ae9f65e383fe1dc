package graft.query

import graft.tokenize.TokenizerStrategy

/** One metadata (field) filter clause of a parsed query: `field:value` /
  * `-field:value`. The only queryable field is `url` (the one metadata
  * column the index's docstats carry — the `site:` of a web search box);
  * match is raw substring over the stored url, NOT analyzed. */
final case class FieldFilter(field: String, value: String, negated: Boolean)

/** One positional phrase constraint: `terms` must occur in order with
  * every consecutive position gap in `[1, 1 + slop]` (slop 0 = exact
  * adjacency — the plain quoted phrase; `"a b"~2` allows up to two
  * intervening tokens between each consecutive pair). Ordered-window
  * semantics: simpler than Lucene's move-count slop, SQL-replicable, and
  * monotone (raising slop only adds matches). */
final case class Phrase(terms: Seq[String], slop: Int = 0) {
  require(slop >= 0, s"negative slop: $slop")
}

/** One unexpanded wildcard clause: `pre*` (trailing star only — the cheap,
  * dictionary-range-scannable Lucene subset; leading/embedded stars are
  * loud parse errors, not silent text). `op` mirrors the clause operator:
  * ' ' bare (expansions score at `weight`), '+' required (a doc must
  * contain AT LEAST ONE expansion — Lucene's wildcard-subquery-must-match;
  * expansions also score), '-' excluded (a doc must contain NO expansion;
  * never scores — weight is ignored, matching `-term^w`). Expansion is
  * index-time work ([[Search.expand]]): the parser stays driver-side and
  * dictionary-free. */
final case class WildcardClause(prefix: String, weight: Double = 1.0, op: Char = ' ') {
  require(prefix.nonEmpty, "empty wildcard prefix")
  require(op == ' ' || op == '+' || op == '-', s"bad wildcard op '$op'")
  require(weight > 0.0, s"non-positive wildcard weight: $weight")
}

/** One unexpanded fuzzy clause: `term~1` — every dictionary term within
  * edit distance 1 of `term` (including the term itself when in-vocab).
  * Expansion probes SymSpell deletion keys inside the batch's one narrow
  * dictionary scan ([[IndexHandle.expand]], shared with the batch's
  * wildcards), exact-verified by code-point edit distance. Only distance
  * 1 is supported — the distance the deletion-key index scales to; `~2` is a LOUD error, never a silent weakening
  * (Lucene's bare `~` defaults to 2, so bare `~` is an error too, not a
  * quietly different default). `~0` degrades to the plain exact term at
  * parse time. Role semantics (`op`) mirror [[WildcardClause]] exactly. */
final case class FuzzyClause(term: String, weight: Double = 1.0, op: Char = ' ') {
  require(term.nonEmpty, "empty fuzzy term")
  require(op == ' ' || op == '+' || op == '-', s"bad fuzzy op '$op'")
  require(weight > 0.0, s"non-positive fuzzy weight: $weight")
}

/** A parsed search-box query: the compile target of [[QueryParser]] and the
  * input of [[Search.search]].
  *
  * Semantics (the Lucene-practical subset, recast for this engine):
  *  - `scoring` terms contribute BM25 impact (weight × idf folds into the
  *    cursor's effective idf exactly like [[QuerySpec.boosts]]);
  *  - a result doc MUST contain every `required` term, every `phrases`
  *    sequence at consecutive positions, NONE of the `excluded` terms,
  *    NONE of the `excludedPhrases` at consecutive positions, and must
  *    satisfy every `filters` metadata clause;
  *  - required and phrase terms also score (they are in `scoring`);
  *    excluded terms/phrases and filters never score.
  *
  * OOV discipline mirrors the boolean operators: an out-of-vocabulary
  * required or phrase term empties the query (the constraint cannot be
  * satisfied); an OOV excluded term — or an excluded phrase containing
  * one — is a no-op (the pattern cannot occur); an OOV bare term is
  * dropped from scoring. Filters probe metadata, not the vocabulary, so
  * OOV does not apply; a query with filters but no in-vocabulary scoring
  * term is empty (filters narrow candidates, they never generate them).
  *
  * `wildcards` are UNEXPANDED `pre*` clauses — [[Search.expand]] resolves
  * them against the index dictionary (one narrow term scan, capped) before
  * the kernel runs: bare/required expansions join `scoring` at the clause
  * weight (explicit and earlier-clause weights win on collision), a
  * required wildcard adds its expansion set to `requiredAny` (the doc must
  * contain AT LEAST ONE member — the disjunctive sibling of `required`;
  * an EMPTY group is unsatisfiable, so a zero-expansion `+pre*` empties
  * the query), and an excluded wildcard's expansions join `excluded`
  * (zero expansions = no-op, mirroring OOV exclusion). `fuzzies`
  * (`term~1`) expand identically — the expansion set is the dictionary's
  * edit-distance-1 neighborhood instead of a prefix range; wildcards
  * expand before fuzzies, each in clause order, and earlier expansions
  * win weight collisions.
  */
final case class ParsedQuery(
    queryId: Int,
    scoring: Seq[(String, Double)],
    required: Seq[String] = Seq.empty,
    excluded: Seq[String] = Seq.empty,
    phrases: Seq[Phrase] = Seq.empty,
    excludedPhrases: Seq[Phrase] = Seq.empty,
    filters: Seq[FieldFilter] = Seq.empty,
    wildcards: Seq[WildcardClause] = Seq.empty,
    requiredAny: Seq[Seq[String]] = Seq.empty,
    fuzzies: Seq[FuzzyClause] = Seq.empty,
    minShouldMatch: Int = 0) {
  require(scoring.map(_._1).distinct.length == scoring.length,
    s"duplicate scoring term in $scoring")
  require(scoring.forall(_._2 > 0.0), s"non-positive weight in $scoring")
  require(minShouldMatch >= 0, s"negative minShouldMatch: $minShouldMatch")

  def toQuerySpec: QuerySpec =
    QuerySpec(queryId, scoring.map(_._1),
      scoring.filter(_._2 != 1.0).toMap)
}

/** Search-box query-string parser — the user-facing query language over the
  * index, compiled onto the engine's existing retrieval machinery (ranked
  * WAND + the boolean/positional constraint verifiers). Grammar, applied
  * per whitespace-separated clause after quoted segments are carved out:
  *
  * {{{
  *   query   := clause*
  *   clause  := '+' atom        // required (must match, also scores)
  *            | '-' atom        // excluded (must not match, never scores)
  *            | atom
  *   atom    := '"' text '"'    // phrase: terms at consecutive positions
  *            | field ':' value // metadata filter (field ∈ {url}, raw
  *                              //   substring match, never analyzed)
  *            | text '*' ['^' w] // trailing-star wildcard: expands to all
  *                              //   dictionary terms with that prefix
  *            | text '~1' ['^' w] // fuzzy: expands to all dictionary terms
  *                              //   within edit distance 1 (~0 = exact)
  *            | text ('|' text)+ ['^' w] // OR group: `+a|b` = at least one
  *                              //   alternative required; `-a|b` = neither
  *            | 'msm:' N        // minimum-should-match directive: a doc
  *                              //   must contain ≥ N distinct scoring terms
  *            | text ['^' w]    // bare term, optional boost weight w > 0
  * }}}
  *
  * Every token of `text` is normalized through the INDEX's analyzer (the
  * same [[graft.tokenize.TokenizerStrategy]] the build used) — a query can
  * only ever probe the term space the index actually holds; a clause whose
  * text normalizes to nothing (punctuation-only) is dropped. A bare atom
  * normalizing to several analyzer terms (e.g. `top-k` under the
  * punctuation-stripping analyzer) contributes each term. A quoted phrase
  * of one term degrades to that term; `-"a b"` excludes docs containing
  * the phrase at consecutive positions (a single-term excluded phrase
  * degrades to an excluded term). A clause shaped `name:value` (alphabetic
  * name, non-empty value) is a metadata filter; an UNKNOWN field name is a
  * parse error, loudly, rather than a silent reinterpretation as text —
  * `+url:x` is the same as `url:x` (filters are already conjunctive) and
  * `-url:x` negates. Duplicate scoring mentions keep the LAST boost.
  *
  * The parser is deterministic, driver-side, and query-sized — parse cost
  * never touches the cluster.
  */
object QueryParser {

  final case class ParseException(msg: String) extends IllegalArgumentException(msg)

  def parse(queryId: Int, raw: String, analyzer: TokenizerStrategy): ParsedQuery = {
    if (raw == null) throw ParseException("null query")
    ParsedQueryBuilder.build(queryId, lex(raw), analyzer)
  }

  /** A batch of (queryId, raw query string) pairs, parsed in order. */
  def parseAll(raw: Seq[(Int, String)], analyzer: TokenizerStrategy): Seq[ParsedQuery] =
    raw.map { case (qid, s) => parse(qid, s, analyzer) }

  /** One lexed clause: (op, isPhrase, body, slop) with op ∈ {' ', '+', '-'};
    * slop is the `~N` suffix of a quoted segment (0 = exact adjacency). */
  private[query] final case class Clause(
      op: Char, isPhrase: Boolean, body: String, slop: Int = 0)

  /** Whitespace-splitting lexer with quoted-segment carving. An unclosed
    * quote is a loud error (a search UI should reject it, not guess). */
  private[query] def lex(raw: String): Seq[Clause] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Clause]
    var i = 0
    val n = raw.length
    while (i < n) {
      while (i < n && Character.isWhitespace(raw.charAt(i))) i += 1
      if (i < n) {
        var op = ' '
        val c = raw.charAt(i)
        if (c == '+' || c == '-') { op = c; i += 1 }
        if (i < n && raw.charAt(i) == '"') {
          val close = raw.indexOf('"', i + 1)
          if (close < 0) throw ParseException(s"unclosed quote in query: $raw")
          val body = raw.substring(i + 1, close)
          i = close + 1
          // optional ~N slop suffix, hugging the closing quote
          var slop = 0
          if (i < n && raw.charAt(i) == '~') {
            val start = i + 1
            var j = start
            while (j < n && Character.isDigit(raw.charAt(j))) j += 1
            if (j == start)
              throw ParseException(s"""bad slop after "$body" — expected ~<digits>""")
            slop = raw.substring(start, j).toInt
            i = j
          }
          out += Clause(op, isPhrase = true, body, slop)
        } else {
          val start = i
          while (i < n && !Character.isWhitespace(raw.charAt(i))) i += 1
          if (i > start) out += Clause(op, isPhrase = false, raw.substring(start, i))
        }
      }
    }
    out.toSeq
  }
}

private[query] object ParsedQueryBuilder {
  import QueryParser._

  /** The queryable metadata fields (docstats columns; url is the one
    * metadata column every index carries). */
  private val Fields = Set("url")
  private val FieldClause = "^([A-Za-z_]+):(.+)$".r

  def build(queryId: Int, clauses: Seq[Clause],
      analyzer: TokenizerStrategy): ParsedQuery = {
    val scoring = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val required = scala.collection.mutable.ArrayBuffer.empty[String]
    val excluded = scala.collection.mutable.ArrayBuffer.empty[String]
    val phrases = scala.collection.mutable.ArrayBuffer.empty[Phrase]
    val exPhrases = scala.collection.mutable.ArrayBuffer.empty[Phrase]
    val filters = scala.collection.mutable.ArrayBuffer.empty[FieldFilter]
    val wildcards = scala.collection.mutable.ArrayBuffer.empty[WildcardClause]
    val fuzzies = scala.collection.mutable.ArrayBuffer.empty[FuzzyClause]
    val requiredAnyGroups = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]

    // terms made positive EXPLICITLY (bare/required/phrase) — |-group
    // members are deliberately absent: a group member that is also
    // excluded is satisfiable via the other alternatives (the exclusion
    // vetoes its docs; the member just never contributes), exactly like a
    // wildcard expansion overlapping an explicit exclusion
    val explicitPositive = scala.collection.mutable.Set.empty[String]

    var minShouldMatch = 0 // the msm: directive (0 = absent)

    def addScoring(term: String, w: Double): Unit = { scoring(term) = w }

    def addExplicit(term: String, w: Double): Unit = {
      addScoring(term, w); explicitPositive += term
    }

    clauses.foreach { cl =>
      if (cl.isPhrase) {
        // a star inside a phrase is the match_phrase_prefix idiom — not
        // supported; the analyzer would silently strip it and run a plain
        // phrase (a quietly different query), so refuse loudly instead
        if (cl.body.contains('*'))
          throw ParseException(
            s"""wildcards are not supported inside phrases: "${cl.body}"""")
        val terms = analyzer.terms(cl.body).toSeq
        if (cl.op == '-') {
          // excluded phrase: docs containing it within the window are
          // vetoed; its terms never score. One term degrades to an
          // excluded term (slop is meaningless at length 1).
          if (terms.length >= 2) exPhrases += Phrase(terms, cl.slop)
          else if (terms.length == 1) excluded += terms.head
        } else if (terms.length >= 2) {
          phrases += Phrase(terms, cl.slop)
          // phrase terms score at weight 1 unless another clause boosted them
          terms.foreach(t => if (!scoring.contains(t)) addExplicit(t, 1.0))
          if (cl.op == '+') required ++= terms // redundant with the phrase, harmless
        } else if (terms.length == 1) {
          // single-term phrase degrades to the term
          if (!scoring.contains(terms.head)) addExplicit(terms.head, 1.0)
          if (cl.op == '+') required += terms.head
        } // empty after analysis → dropped
      } else if (FieldClause.findFirstMatchIn(cl.body).isDefined) {
        // metadata filter clause — loud on unknown fields (a silent
        // reinterpretation as text would score `url` and `x` for `urk:x`)
        val m = FieldClause.findFirstMatchIn(cl.body).get
        val name = m.group(1).toLowerCase(java.util.Locale.ROOT)
        if (name == "msm") {
          // minimum-should-match directive: a result doc must contain at
          // least N DISTINCT of the query's scoring terms. A directive,
          // not a filter — no operator applies
          if (cl.op != ' ')
            throw ParseException(s"'${cl.op}msm:' — msm is a directive, not a filter clause")
          if (minShouldMatch > 0)
            throw ParseException(s"duplicate msm: directive in '${cl.body}'")
          val n = try m.group(2).toInt catch {
            case _: NumberFormatException =>
              throw ParseException(s"msm value must be an integer: '${cl.body}'")
          }
          if (n <= 0) throw ParseException(s"msm value must be positive: '${cl.body}'")
          minShouldMatch = n
        } else {
          if (!Fields(name))
            throw ParseException(
              s"unknown field '$name' in '${cl.body}' — queryable fields: ${Fields.toSeq.sorted.mkString(", ")}")
          filters += FieldFilter(name, m.group(2), negated = cl.op == '-')
        }
      } else {
        // optional ^boost suffix (applies to the whole clause's terms)
        val (body, w) = cl.body.lastIndexOf('^') match {
          case -1 => (cl.body, 1.0)
          case ix =>
            val ws = cl.body.substring(ix + 1)
            val parsed =
              try ws.toDouble
              catch { case _: NumberFormatException =>
                throw ParseException(s"bad boost '$ws' in clause '${cl.body}'") }
            if (parsed <= 0.0 || parsed.isNaN || parsed.isInfinite)
              throw ParseException(s"boost must be a positive finite number: '${cl.body}'")
            (cl.body.substring(0, ix), parsed)
        }
        if (body.contains('|')) {
          // |-group (simple_query_string's OR): `+a|b` requires AT LEAST
          // ONE alternative (a parse-time requiredAny group — the same
          // disjunctive constraint wildcard expansion compiles to), bare
          // `a|b` scores both (OR is already the bare-term default), and
          // `-a|b` excludes both (De Morgan). Alternatives are plain
          // single-token terms; mixing in wildcards/fuzzies is refused.
          if (body.startsWith("|") || body.endsWith("|"))
            throw ParseException(s"empty |-alternative in '${cl.body}'")
          val parts = body.split('|').toSeq
          if (parts.length < 2 || parts.exists(_.isEmpty))
            throw ParseException(s"empty |-alternative in '${cl.body}'")
          if (parts.exists(p => p.contains('*') || p.contains('~')))
            throw ParseException(
              s"wildcards/fuzzies are not supported inside |-groups: '${cl.body}'")
          val alts = parts.map { p =>
            val ts = analyzer.terms(p).toSeq
            if (ts.length != 1)
              throw ParseException(
                s"each |-alternative must normalize to one token: '${cl.body}'")
            ts.head
          }.distinct
          cl.op match {
            case '-' => excluded ++= alts
            case '+' => alts.foreach(addScoring(_, w)); requiredAnyGroups += alts
            case _   => alts.foreach(addScoring(_, w))
          }
        } else if (body.contains('*')) {
          // trailing-star wildcard — anything else star-shaped is a loud
          // error (a leading/embedded star silently reinterpreted as text
          // would score the wrong terms)
          if (!body.endsWith("*") || body.length == 1 ||
              body.dropRight(1).contains('*'))
            throw ParseException(
              s"only a single trailing-* wildcard is supported: '${cl.body}'")
          val pre = analyzer.terms(body.dropRight(1)).toSeq
          if (pre.length != 1)
            throw ParseException(
              s"wildcard prefix must normalize to one token: '${cl.body}'")
          // '-pre*' never scores → weight ignored, matching '-term^w'
          wildcards += WildcardClause(pre.head, if (cl.op == '-') 1.0 else w, cl.op)
        } else if (body.contains('~')) {
          // fuzzy clause `term~N` — only N=1 is supported (the distance
          // the deletion-key expansion scales to); anything else tilde-
          // shaped is a loud error, incl. Lucene's bare `~` (whose default
          // distance is 2 — silently running it at 1 would be a quietly
          // different query)
          val ix = body.lastIndexOf('~')
          val base = body.substring(0, ix)
          val ds = body.substring(ix + 1)
          if (base.isEmpty || base.contains('~') || !ds.matches("[0-9]+"))
            throw ParseException(s"bad fuzzy clause '${cl.body}' — expected term~1")
          val edits = ds.toInt
          if (edits > 1)
            throw ParseException(
              s"only edit distance 1 is supported: '${cl.body}'")
          val toks = analyzer.terms(base).toSeq
          if (edits == 0) {
            // `term~0` IS the exact term — degrade at parse time
            cl.op match {
              case '-' => excluded ++= toks
              case '+' => toks.foreach { t => addExplicit(t, w); required += t }
              case _   => toks.foreach(addExplicit(_, w))
            }
          } else {
            if (toks.length != 1)
              throw ParseException(
                s"fuzzy term must normalize to one token: '${cl.body}'")
            fuzzies += FuzzyClause(toks.head, if (cl.op == '-') 1.0 else w, cl.op)
          }
        } else {
          val terms = analyzer.terms(body).toSeq
          cl.op match {
            case '-' => excluded ++= terms // excluded terms never score
            case '+' => terms.foreach { t => addExplicit(t, w); required += t }
            case _   => terms.foreach(addExplicit(_, w))
          }
        }
      }
    }
    // a term both excluded and scoring/required is contradictory — loud
    // (an excluded PHRASE sharing a term with scoring is fine: the doc may
    // contain the term, just not the phrase)
    val exSet = excluded.toSet
    val clash = scoring.keysIterator.find(t => exSet.contains(t) && explicitPositive.contains(t))
    clash.foreach(t => throw ParseException(
      s"term '$t' is both excluded and positive in the same query"))
    // msm counts DISTINCT scoring terms present; a dictionary expansion
    // (wildcard/fuzzy) would grow that set index-dependently, making the
    // directive's meaning shift with the vocabulary — refused loudly
    if (minShouldMatch > 0 && (wildcards.nonEmpty || fuzzies.nonEmpty))
      throw ParseException("msm: cannot combine with wildcard or fuzzy clauses")
    if (minShouldMatch > 0 && scoring.isEmpty)
      throw ParseException("msm: requires at least one scoring term")
    ParsedQuery(queryId, scoring.toSeq,
      required.distinct.toSeq, excluded.distinct.toSeq, phrases.toSeq,
      exPhrases.toSeq, filters.toSeq, wildcards.toSeq,
      requiredAny = requiredAnyGroups.toSeq, fuzzies = fuzzies.toSeq,
      minShouldMatch = minShouldMatch)
  }
}
