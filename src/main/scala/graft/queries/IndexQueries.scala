package graft.queries

import graft.corpus.Pages
import graft.index._
import graft.query._
import graft.tokenize.Tokenizers
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Shared per-sfDir index cache: builds each index once per JVM into a fresh
  * temp dir (stale on-disk state from older code versions is wiped). */
object IndexCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, IndexHandle]()

  def handle(spark: SparkSession, sfDir: String): IndexHandle =
    cache.computeIfAbsent(sfDir, { _ =>
      val dir = s"/tmp/graft_index/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
      deleteRecursively(new java.io.File(dir))
      IndexBuilder.build(spark, sfDir, dir, IndexConfig())
      IndexReader.load(spark, dir)
    })

  /** Fixture-dir cleanup, routed through the storage layer (the File-typed
    * signature is kept for the many spec call sites). */
  def deleteRecursively(f: java.io.File): Unit = graft.index.Store.delete(f.getPath)
}

/** Two shard indexes over the docId-space halves — the federated-search
  * fixture (built once per JVM per sfDir; same corpus as IndexCache's
  * single index, so q_bm25_sharded shares q_bm25_topk's oracle). */
object ShardedIndexCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Seq[IndexHandle]]()

  def shards(spark: SparkSession, sfDir: String): Seq[IndexHandle] =
    cache.computeIfAbsent(sfDir, { _ =>
      val base = s"/tmp/graft_shard_index/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
      IndexCache.deleteRecursively(new java.io.File(base))
      val pages = Pages.withInjections(spark, sfDir)
      val mid = pages.agg(org.apache.spark.sql.functions.max(col("doc_id"))).head().getLong(0) / 2
      // the two shard builds are independent (separate dirs) — overlap them
      // (guide §2.6; Overlap quiesces the background build on failure)
      graft.index.Overlap.overlap(
        IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") <= mid), s"$base/low", IndexConfig()))(
        IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") > mid), s"$base/high", IndexConfig()))
      Seq(IndexReader.load(spark, s"$base/low"), IndexReader.load(spark, s"$base/high"))
    })
}

/** Dedicated index copy with docIds [DelLo, DelHi) tombstone-deleted —
  * shared by the q_delete_* queries (one build + one delete per JVM); the
  * compacted stage (tombstones physically dropped, generation 1) backs
  * q_compact_stats. */
object DeletedIndexCache {
  final val DelLo = 100L
  final val DelHi = 300L
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, IndexHandle]()
  private val compacted = new java.util.concurrent.ConcurrentHashMap[String, IndexHandle]()

  def dirFor(sfDir: String): String =
    s"/tmp/graft_del_q/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"

  def get(spark: SparkSession, sfDir: String): IndexHandle =
    cache.computeIfAbsent(sfDir, { _ =>
      import spark.implicits._
      val dir = dirFor(sfDir)
      IndexCache.deleteRecursively(new java.io.File(dir))
      IndexBuilder.build(spark, sfDir, dir, IndexConfig())
      val h0 = IndexReader.load(spark, dir)
      val ids = h0.docstats
        .filter(col("docId") >= DelLo && col("docId") < DelHi)
        .map(_.docId).collect().toSeq
      IndexBuilder.delete(spark, dir, ids)
      IndexReader.load(spark, dir)
    })

  /** The same index AFTER compaction. Ordering: the tombstoned handle is
    * built first (get), then compaction bumps the generation in place —
    * the pre-compaction handle's manifest still points at generation 0, so
    * both stages stay queryable within one JVM. */
  def getCompacted(spark: SparkSession, sfDir: String): IndexHandle =
    compacted.computeIfAbsent(sfDir, { _ =>
      get(spark, sfDir)
      IndexBuilder.compact(spark, dirFor(sfDir))
      IndexReader.load(spark, dirFor(sfDir))
    })
}

/** Fielded (title/body) sub-index pair backing q_bm25f_topk — the
  * multi-vocabulary analog of the reference's Octuple/CPWord parallel token
  * streams (octuple.py:173-203, cp_word.py:319-416). The fields derive
  * DETERMINISTICALLY from the cleaned corpus: title = the first
  * [[FieldedIndexCache.TitleLen]] tokens, body = the rest (a doc with ≤
  * TitleLen tokens has no body and simply doesn't appear in the body
  * sub-index — its score comes from the title field alone). Each field is
  * a full engine index (own dictionary, postings, norms, stats); built once
  * per JVM. */
object FieldedIndexCache {
  final val TitleLen = 8
  final val TitleWeight = 2.0
  final val BodyWeight = 1.0
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(IndexHandle, Double)]]()

  /** The canonical title/body field spec (shared with the specs). */
  def fieldSpecs: Seq[graft.index.FieldSpec] = Seq(
    graft.index.FieldSpec("title", TitleWeight, "title_text"),
    graft.index.FieldSpec("body", BodyWeight, "body_text"))

  /** Derive the title/body fielded page columns from cleaned pages — ONE
    * tokenize pass emits both field columns. */
  def fieldedPages(spark: SparkSession, cleanedPages: DataFrame): DataFrame = {
    import spark.implicits._
    val tok = Tokenizers.default
    cleanedPages
      .select(col("doc_id").cast("long"), col("url"), col("warc_ts"),
        col("text"), col("lang"))
      .as[(Long, String, java.sql.Timestamp, String, String)]
      .map { case (id, url, ts, text, lang) =>
        val terms = tok.terms(text)
        (id, url, ts, terms.take(TitleLen).mkString(" "),
          terms.drop(TitleLen).mkString(" "), lang)
      }
      .toDF("doc_id", "url", "warc_ts", "title_text", "body_text", "lang")
  }

  /** Build the pair through the public [[graft.index.FieldedIndex]] API —
    * weights are manifest-recorded and [[graft.index.FieldedIndex.load]]
    * round-trips them (also the spec entry point, so the short-doc/
    * missing-field shape is testable on synthetic corpora). */
  def buildPair(spark: SparkSession, cleanedPages: DataFrame, base: String): Seq[(IndexHandle, Double)] = {
    graft.index.Store.delete(base)
    graft.index.FieldedIndex.build(spark, fieldedPages(spark, cleanedPages), base, fieldSpecs)
    graft.index.FieldedIndex.load(spark, base)
  }

  def get(spark: SparkSession, sfDir: String): Seq[(IndexHandle, Double)] =
    cache.computeIfAbsent(sfDir, { _ =>
      buildPair(spark, Pages.cleaned(Pages.withInjections(spark, sfDir)),
        s"/tmp/graft_bm25f_q/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}")
    })
}

/** The fixed benchmark/correctness query set (FIXTURES.md §6): head, torso,
  * tail and OOV terms over the synthetic corpus vocabulary. */
object QuerySet {
  val queries: Seq[QuerySpec] = Seq(
    QuerySpec(1, Seq("spark")),
    QuerySpec(2, Seq("merge", "join")),
    QuerySpec(3, Seq("window", "batch", "stream")),
    QuerySpec(4, Seq("vector", "quantum")), // quantum = OOV
    QuerySpec(5, Seq("zzzoov")),            // all OOV → empty
    QuerySpec(6, Seq("customer", "order", "line", "agg", "hash")),
    QuerySpec(7, Seq("the", "a"))           // stopword-ish head terms
  )

  /** SQL VALUES list for the DuckDB oracle. */
  def sqlValues: String =
    queries.flatMap(q => q.terms.map(t => s"(${q.queryId},'$t')")).mkString(", ")

  /** The same query set with deterministic per-term boosts (term i gets
    * weight 1 + i/2 — exactly representable doubles, so the SQL oracle's
    * literals match bit-for-bit). */
  val boosted: Seq[QuerySpec] = queries.map { q =>
    q.copy(boosts = q.terms.distinct.zipWithIndex
      .map { case (t, i) => t -> (1.0 + 0.5 * i) }.toMap)
  }

  /** (query_id, term, weight) VALUES rows mirroring [[boosted]]. */
  def sqlBoostedValues: String =
    boosted.flatMap(q => q.terms.distinct.map(t =>
      s"(${q.queryId},'$t',${q.boost(t)})")).mkString(", ")

  /** The search-box DSL fixture (q_search_dsl) — every grammar feature of
    * [[graft.query.QueryParser]]: bare/boosted terms, `+required`,
    * `-excluded`, quoted phrases (incl. a repeated-term one), excluded
    * phrases (`-"a b"`), slop/proximity phrases (`"a b"~N`, positive,
    * negated, and 3-term), `url:` metadata filters (positive and negated,
    * mixing filter signatures in one batch), and OOV in every role (OOV
    * excluded = no-op; OOV required = empty query; OOV excluded phrase =
    * no-op). */
  val dsl: Seq[(Int, String)] = Seq(
    1 -> "spark",
    2 -> "merge join fast",
    3 -> "window batch^2.5 stream^0.5",
    4 -> "merge join -batch",
    5 -> "+key merge slow",
    6 -> "\"merge join\" vector",
    7 -> "+vector -zzzoov \"the fast key\" a^1.5",
    8 -> "\"batch batch\"",
    9 -> "+quantum spark",
    10 -> "merge -\"the fast\"",
    11 -> "url:2/1 merge join",
    12 -> "-url:/7 spark batch^2.0",
    13 -> "\"merge join\" -\"key order\" url:2/4",
    14 -> "spark -\"zzzoov merge\"",
    15 -> "\"merge fast\"~2 join",
    16 -> "-\"the key\"~3 spark",
    17 -> "\"the fast key\"~1 order^1.5")

  /** The wildcard fixture (q_wildcard) — every `pre*` role over the known
    * vocabulary prefix families (s→6 expansions, c/b/v/f/d→2, zz→0):
    * pure/bare/boosted scoring wildcards, required (`+pre*` = at least one
    * expansion), excluded (`-pre*` = none), all three zero-expansion
    * disciplines, an expansion overlapping an explicit exclusion, and
    * composition with phrases and metadata filters. */
  val wildcard: Seq[(Int, String)] = Seq(
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
    12 -> "s* url:2/1")        // wildcard + metadata filter

  /** The fuzzy fixture (q_fuzzy) — `term~1` in every clause role over
    * known edit-distance-1 neighborhoods of the vocabulary (mergee→merge,
    * joi→join, betch→batch, sow→{row, slow}, zzz→∅), plus an in-vocab
    * needle (merge~1 includes itself at distance 0), expansion overlapping
    * an explicit exclusion, and composition with phrases and filters. */
  val fuzzy: Seq[(Int, String)] = Seq(
    1 -> "mergee~1",            // pure fuzzy, OOV needle
    2 -> "joi~1 batch",         // fuzzy + plain term
    3 -> "+betch~1 merge",      // required fuzzy (at-least-one-of)
    4 -> "merge -betch~1",      // excluded fuzzy
    5 -> "sow~1^2.0 key",       // boosted multi-expansion {row, slow}
    6 -> "zzz~1 merge",         // zero-expansion bare → merge alone
    7 -> "+zzz~1 merge",        // zero-expansion required → empty
    8 -> "merge -zzz~1",        // zero-expansion excluded → no-op
    9 -> "merge~1 join",        // in-vocab needle: neighborhood ∋ itself
    10 -> "sow~1 -row",         // expansion overlapping an explicit exclusion
    11 -> "joi~1 \"merge join\"", // fuzzy + phrase constraint
    12 -> "betch~1 url:2/1",    // fuzzy + metadata filter
    13 -> "s* joi~1")           // wildcard × fuzzy in one query

  /** The |-group fixture (q_or_group) — `a|b` in every clause role
    * (simple_query_string's OR): bare groups score all alternatives,
    * `+a|b` is an at-least-one-of constraint, `-a|b` excludes every
    * alternative, plus boosts, OOV members (partial and total), a group
    * member overlapping an explicit exclusion, duplicate alternatives,
    * and composition with phrases and metadata filters. */
  val orGroup: Seq[(Int, String)] = Seq(
    1 -> "merge|join",             // bare group: both score
    2 -> "+merge|join fast",       // required-any group + plain term
    3 -> "-batch|stream merge",    // excluded group: neither
    4 -> "spark|quantum^2.0 key",  // boosted group
    5 -> "zzzoov|spark merge",     // bare group with an OOV member
    6 -> "+zzzoov|merge join",     // required group, one member OOV
    7 -> "+zzzoov|zzzoow merge",   // all-OOV required group → empty
    8 -> "merge -zzzoov|zzzoow",   // all-OOV excluded group → no-op
    9 -> "+batch|stream -batch",   // group member explicitly excluded
    10 -> "merge|merge|join",      // duplicate alternatives collapse
    11 -> "+key|order \"merge join\"", // group + phrase constraint
    12 -> "batch|slow url:2/1")    // group + metadata filter

  /** The minimum-should-match fixture (q_msm) — `msm:N` over fixed scoring
    * sets: the constraint tightening as N rises through the same term set,
    * N == |terms| degrading to all-required, OOV scoring terms (which can
    * never count toward N), unsatisfiable N > in-vocab count (empty),
    * boosts (scoring weights don't affect the count), and composition with
    * required/excluded terms, phrases, and metadata filters. */
  val msm: Seq[(Int, String)] = Seq(
    1 -> "merge join fast msm:2",        // classic 2-of-3
    2 -> "merge join fast msm:3",        // N == |terms| → all must match
    3 -> "merge join batch stream msm:2", // 2-of-4
    4 -> "merge join zzzoov msm:2",      // OOV term can't count → 2-of-2 live
    5 -> "merge zzzoov msm:2",           // only 1 in-vocab term → empty
    6 -> "window^3.0 batch stream msm:2", // boost doesn't change the count
    7 -> "+key merge slow msm:2",        // required term counts toward N
    8 -> "merge join fast -batch msm:2", // msm × exclusion
    9 -> "\"merge join\" vector msm:3",  // phrase terms count toward N
    10 -> "merge join batch msm:2 url:2/1") // msm × metadata filter

  /** The collapse fixture (q_collapse) — the DSL surface re-ranked
    * one-result-per-group (group = docId % 100, the site-key stand-in on
    * this single-host synthetic corpus): bare OR, boosts, required,
    * excluded, phrases, metadata filters, OR groups, msm, and a wildcard
    * expansion, each now returning each group's best doc ranked by group
    * bests. */
  val collapse: Seq[(Int, String)] = Seq(
    1 -> "merge join",                // bare OR, many matching groups
    2 -> "window^3.0 batch stream",   // boosts change which doc wins a group
    3 -> "+key merge slow",           // required conjunction
    4 -> "merge join -batch",         // exclusion
    5 -> "\"merge join\" vector",     // phrase constraint
    6 -> "batch stream url:2/1",      // metadata filter × collapse
    7 -> "merge|join window",         // OR group
    8 -> "merge join fast msm:2",     // msm × collapse
    9 -> "wind* batch",               // wildcard expansion × collapse
    10 -> "fast -\"slow merge\"")     // excluded phrase

  /** The total-hits fixture (q_hits) — exact match counts over the whole
    * constraint surface, including two zero-hit shapes (OOV-only scoring,
    * unsatisfiable required term). */
  val hits: Seq[(Int, String)] = Seq(
    1 -> "merge join",            // plain OR union
    2 -> "+key merge slow",       // conjunction narrows
    3 -> "merge join -batch",     // exclusion
    4 -> "\"merge join\" vector", // phrase constraint
    5 -> "batch stream url:2/1",  // metadata filter
    6 -> "merge join fast msm:2", // msm count constraint
    7 -> "wind* batch",           // wildcard widens the union
    8 -> "joi~1 stream",          // fuzzy widens the union
    9 -> "merge|join window",     // OR group
    10 -> "zzzoov",               // OOV-only scoring → 0
    11 -> "+zzzoov merge",        // unsatisfiable required → 0
    12 -> "fast -\"slow merge\"") // excluded phrase

  /** The hybrid-retrieval fixture (q_hybrid_rrf) — plain scoring queries
    * fused with a vector probe (`vec_id == query_id`; the embedding and
    * document id spaces align 1:1 in the testdata). Fixture 7 is
    * OOV-only on the text side, pinning the pure-vector fallthrough. */
  val hybrid: Seq[(Int, String)] = Seq(
    1 -> "merge join",
    2 -> "batch stream window",
    3 -> "key scan",
    4 -> "fast slow",
    5 -> "vector merge",
    6 -> "window batch",
    7 -> "zzzoov")

  /** The rescore fixture (q_rescore) — plain scoring queries whose
    * consecutive bigrams sometimes occur adjacently in docs (the bonus
    * must actually reorder windows to test anything). Fixture 6 has an
    * OOV bigram member (no bonus on either side). */
  val rescore: Seq[(Int, String)] = Seq(
    1 -> "merge join",
    2 -> "batch stream window",
    3 -> "key merge slow",
    4 -> "slow merge",
    5 -> "vector merge join",
    6 -> "zzzoov merge")

  /** The significant-terms fixture (q_sig_terms) — match windows with
    * enough docs for the min-fg floor to bite; fixture 5 is OOV (empty
    * window → no rows on either side). */
  val significant: Seq[(Int, String)] = Seq(
    1 -> "merge join",
    2 -> "batch stream",
    3 -> "window",
    4 -> "key scan slow",
    5 -> "zzzoov")

  /** The percolation fixture (q_percolate) — the constraint surface
    * minus vocabulary-expanding clauses (wildcards/fuzzies are refused:
    * no dictionary to expand against), incl. two zero-match shapes. */
  val percolate: Seq[(Int, String)] = Seq(
    1 -> "merge join",
    2 -> "+key merge slow",
    3 -> "merge join -batch",
    4 -> "\"merge join\" vector",
    5 -> "batch stream url:2/1",
    6 -> "merge join fast msm:2",
    7 -> "merge|join window",
    8 -> "zzzoov",
    9 -> "+zzzoov merge",
    10 -> "fast -\"slow merge\"")

  /** The fixture synonym table (q_synonyms): one OOV member (`quick`
    * matches no posting — the harmless-OOV discipline), one 3-way in-vocab
    * group, one 2-way group exercised in required/excluded roles. */
  lazy val synTable: graft.query.Synonyms =
    graft.query.Synonyms(Tokenizers.default, Seq(
      Seq("fast", "quick"),
      Seq("scan", "filter", "query"),
      Seq("batch", "stream")))

  /** The synonym fixture — every clause role under expansion. */
  val synonyms: Seq[(Int, String)] = Seq(
    1 -> "fast merge",          // OOV member rides along, changes nothing
    2 -> "scan window",         // 3-way expansion widens the union
    3 -> "scan filter^2.0",     // member collision: explicit weight wins
    4 -> "+batch slow",         // required relaxes to any-of-group
    5 -> "-batch merge join",   // exclusion covers the whole group
    6 -> "\"merge join\" scan", // phrase terms do NOT expand
    7 -> "batch key url:2/1",   // metadata filter × synonyms
    8 -> "+scan merge|key")     // DSL OR group + synonym requiredAny
}

/** Core index-engine queries + their DuckDB oracles.
  *
  * Oracle discipline: the cleaned corpus equals
  * `documents WHERE text IS NOT NULL AND length(text)>0` because the
  * injected stale-dup/corrupt rows (Pages.withInjections) are exactly the
  * rows the cleaning stage removes. Tokenization on this corpus equals
  * `string_split(lower(text), ' ')` (letters+spaces only), which separate
  * assertions in ScalaTest pin down.
  */
object IndexQueries {

  /** Shared SQL prelude: tokens / doc lengths / df / tf / global stats.
    * `extraWhere` narrows the corpus (e.g. the delete-oracle's minus-range). */
  private def corpusCteWhere(extraWhere: String): String =
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE text IS NOT NULL AND length(text) > 0$extraWhere
      |),""".stripMargin + """
      |tok AS (
      |  SELECT doc_id,
      |         unnest(string_split(lower(text), ' ')) AS term,
      |         unnest(generate_series(1, len(string_split(lower(text), ' ')))) AS pos
      |  FROM corpus
      |),
      |doclen AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY doc_id),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
      |dft AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY term),
      |gstats AS (
      |  SELECT count(*) AS n, sum(doc_len) AS total,
      |         CAST(sum(doc_len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      |  FROM doclen
      |)""".stripMargin

  private val corpusCte: String = corpusCteWhere("")

  /** The delete-oracle corpus: everything except the tombstoned range. */
  private val corpusCteDeleted: String = corpusCteWhere(
    s" AND NOT (doc_id >= ${DeletedIndexCache.DelLo} AND doc_id < ${DeletedIndexCache.DelHi})")

  /** BM25 impact expression (MUST mirror graft.query.Bm25 op-for-op). */
  private def bm25Sql(tf: String, df: String, docLen: String): String =
    s"ln((n - $df + 0.5) / ($df + 0.5) + 1.0) * ($tf * (1.2 + 1.0)) / " +
      s"($tf + 1.2 * (1.0 - 0.75 + 0.75 * $docLen / avgdl))"

  /** The parsed-DSL oracle: scoring/boost/required/excluded/phrase/filter/
    * wildcard semantics regenerated in SQL from the SAME ParsedQuery
    * objects the engine runs — one source of truth for the grammar's
    * meaning. Wildcards stay UNEXPANDED here: the oracle re-derives each
    * expansion as `term LIKE 'pre%'` over the term dictionary (scoring) and
    * as doc-membership [NOT] IN subqueries (`+pre*` / `-pre*`), so the
    * engine's dictionary expansion is itself under test. The
    * `[rankLo, rankHi]` window selects a result PAGE (ranks relabel to
    * 1-based within the window), which is exactly what the search_after
    * cursor must reproduce. */
  private def searchDslOracle(fixtures: Seq[(Int, String)],
      rankLo: Int, rankHi: Int, collapseSql: Option[String] = None,
      synonyms: Option[graft.query.Synonyms] = None): String = {
    val branches = dslScoreBranches(fixtures, synonyms)
    // under collapse, a per-(query, group) window keeps each group's best
    // doc first (same rounded-score ordering discipline as the global
    // rank), then the global ranking runs over the group bests only.
    // Residual comparison risk, same class as the pagination oracle's
    // 6dp-collision guard: the engine selects a group's best by EXACT
    // doubles while this window compares at round-6 — two same-group
    // docs whose exact scores differ only below 1e-6 (without being an
    // exact tie) would pick different representatives and fail the row
    // LOUDLY (never silently wrong); exact ties agree (docId asc both
    // sides)
    val rankSrc = collapseSql match {
      case None => "scores"
      case Some(g) =>
        s"""(SELECT query_id, doc_id, score FROM (
           |  SELECT query_id, doc_id, score,
           |         row_number() OVER (PARTITION BY query_id, ($g)
           |                            ORDER BY round(score, 6) DESC, doc_id) AS grank
           |  FROM scores) WHERE grank = 1)""".stripMargin
    }
    s"""WITH $corpusCte,
       |scores AS (
       |${branches.mkString("\nUNION ALL\n")}
       |),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 6) DESC, doc_id) AS rank
       |  FROM $rankSrc
       |)
       |SELECT CAST(query_id AS INTEGER) AS query_id,
       |       CAST(rank - ${rankLo - 1} AS INTEGER) AS rank,
       |       doc_id, round(score, 4) AS score
       |FROM ranked WHERE rank >= $rankLo AND rank <= $rankHi
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The facet oracle: per-(query, facet value) counts of the brute-force
    * match rows, top-N by (count desc, value asc); zero-hit queries
    * contribute no rows (the engine's empty facet list). */
  private def searchDslFacetOracle(fixtures: Seq[(Int, String)],
      facetSql: String, topN: Int): String = {
    val branches = dslScoreBranches(fixtures)
    s"""WITH $corpusCte,
       |scores AS (
       |${branches.mkString("\nUNION ALL\n")}
       |),
       |fc AS (
       |  SELECT query_id, CAST($facetSql AS VARCHAR) AS facet, count(*) AS hits
       |  FROM scores GROUP BY 1, 2
       |),
       |rankedf AS (
       |  SELECT query_id, facet, hits,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY hits DESC, facet) AS rn
       |  FROM fc
       |)
       |SELECT CAST(query_id AS INTEGER) AS query_id, facet,
       |       CAST(hits AS BIGINT) AS hits
       |FROM rankedf WHERE rn <= $topN
       |ORDER BY query_id, hits DESC, facet""".stripMargin
  }

  /** The count oracle: exact hits per query — count of the same
    * per-(query, doc) brute-force branch rows, zero-filled per fixture id
    * so no-match queries still compare. */
  private def searchDslCountOracle(fixtures: Seq[(Int, String)]): String = {
    val branches = dslScoreBranches(fixtures)
    val vals = fixtures.map(f => s"(${f._1})").mkString(", ")
    s"""WITH $corpusCte,
       |scores AS (
       |${branches.mkString("\nUNION ALL\n")}
       |)
       |SELECT CAST(v.query_id AS INTEGER) AS query_id,
       |       CAST(coalesce(h.hits, 0) AS BIGINT) AS hits
       |FROM (VALUES $vals) AS v(query_id)
       |LEFT JOIN (SELECT query_id, count(*) AS hits FROM scores GROUP BY query_id) h
       |  ON h.query_id = v.query_id
       |ORDER BY v.query_id""".stripMargin
  }

  /** The SERP oracle: one long-format result for [[graft.query.Search.run]]
    * — the ranked page (kind='hit'), the exact total per fixture id
    * (kind='total', zero-filled), and the facet panel (kind='facet') all
    * derived from the SAME brute-force score CTE the component oracles
    * use, composed by UNION ALL so a drift in any one surface of the
    * endpoint fails the single row. */
  private def searchDslSerpOracle(fixtures: Seq[(Int, String)],
      facetSql: String, topN: Int): String = {
    val branches = dslScoreBranches(fixtures)
    val vals = fixtures.map(f => s"(${f._1})").mkString(", ")
    s"""WITH $corpusCte,
       |scores AS (
       |${branches.mkString("\nUNION ALL\n")}
       |),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 6) DESC, doc_id) AS rank
       |  FROM scores
       |),
       |fc AS (
       |  SELECT query_id, CAST($facetSql AS VARCHAR) AS facet, count(*) AS hits
       |  FROM scores GROUP BY 1, 2
       |),
       |rankedf AS (
       |  SELECT query_id, facet, hits,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY hits DESC, facet) AS rn
       |  FROM fc
       |)
       |SELECT * FROM (
       |  SELECT CAST(query_id AS INTEGER) AS query_id, 'hit' AS kind,
       |         CAST(rank AS INTEGER) AS rank, CAST(doc_id AS VARCHAR) AS item,
       |         round(score, 4) AS val
       |  FROM ranked WHERE rank <= 10
       |  UNION ALL
       |  SELECT CAST(v.query_id AS INTEGER), 'total', 0, '',
       |         CAST(coalesce(h.hits, 0) AS DOUBLE)
       |  FROM (VALUES $vals) AS v(query_id)
       |  LEFT JOIN (SELECT query_id, count(*) AS hits FROM scores GROUP BY query_id) h
       |    ON h.query_id = v.query_id
       |  UNION ALL
       |  SELECT CAST(query_id AS INTEGER), 'facet', CAST(rn AS INTEGER), facet,
       |         CAST(hits AS DOUBLE)
       |  FROM rankedf WHERE rn <= $topN
       |)
       |ORDER BY query_id, kind, rank, item""".stripMargin
  }

  /** The hybrid oracle: RRF over the two component oracles' OWN rank
    * derivations — the brute-force BM25 CTE windowed to `window` ranks
    * (rounded-key ordering, same as the ranked oracle) FULL OUTER JOINed
    * with the brute-force cosine CTE at the same window (rounded before
    * ranking, same as q_ann_brute; probes are `vec_id == query_id`,
    * self-excluded), RRF = coalesce(1/(c+bm_rank), 0) +
    * coalesce(1/(c+vec_rank), 0) summed in the engine's list order so
    * the doubles are bit-identical; fused ties break by doc_id. */
  private def hybridRrfOracle(fixtures: Seq[(Int, String)], window: Int,
      c: Int, k: Int): String = {
    val branches = dslScoreBranches(fixtures)
    val probes = fixtures.map(_._1).mkString(", ")
    s"""WITH $corpusCte,
       |scores AS (
       |${branches.mkString("\nUNION ALL\n")}
       |),
       |bm AS (
       |  SELECT query_id, doc_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 6) DESC, doc_id) AS rank
       |  FROM scores
       |),
       |e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |),
       |q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id IN ($probes)),
       |vscored AS (
       |  SELECT q.query_id, e.vec_id,
       |         round(
       |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |               list_transform(generate_series(1, len(e.emb)), i -> q.qemb[i] * e.emb[i])),
       |             (acc, x) -> acc + x)
       |           / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |                 list_transform(q.qemb, x -> x * x)), (acc, x) -> acc + x))
       |              * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |                  list_transform(e.emb, x -> x * x)), (acc, x) -> acc + x))), 6) AS cos
       |  FROM q JOIN e ON e.vec_id <> q.query_id
       |),
       |vr AS (
       |  SELECT query_id, vec_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, vec_id) AS rk
       |  FROM vscored
       |),
       |fused AS (
       |  SELECT coalesce(b.query_id, v.query_id) AS query_id,
       |         coalesce(b.doc_id, v.vec_id) AS doc_id,
       |         coalesce(1.0 / ($c + b.rank), 0.0) + coalesce(1.0 / ($c + v.rk), 0.0) AS rrf
       |  FROM (SELECT * FROM bm WHERE rank <= $window) b
       |  FULL OUTER JOIN (SELECT * FROM vr WHERE rk <= $window) v
       |    ON v.query_id = b.query_id AND v.vec_id = b.doc_id
       |),
       |fr AS (
       |  SELECT query_id, doc_id, rrf,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY rrf DESC, doc_id) AS rank
       |  FROM fused
       |)
       |SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rank AS INTEGER) AS rank,
       |       doc_id, round(rrf, 6) AS rrf
       |FROM fr WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** The rescore oracle: the brute-force ranked CTE cut to the same
    * W-rank window (rounded-key ordering), then per fixture one
    * adjacency-EXISTS over `tok` per deduped consecutive bigram —
    * fscore = score + β × Σ CASE — re-ranked by (round(fscore, 6),
    * doc_id). OOV bigram members never match tok, contributing 0 like
    * the engine's failed dictionary lookup. */
  private def rescoreOracle(fixtures: Seq[(Int, String)], window: Int,
      k: Int, beta: Double): String = {
    val branches = dslScoreBranches(fixtures)
    val parsed = fixtures.map { case (qid, s) =>
      graft.query.QueryParser.parse(qid, s, Tokenizers.default) }
    val finals = parsed.map { q =>
      val ts = q.scoring.map(_._1)
      val bgs = ts.zip(ts.drop(1)).distinct
      val bonus =
        if (bgs.isEmpty) "0"
        else bgs.map { case (a, b) =>
          s"""(CASE WHEN EXISTS (SELECT 1 FROM tok p0
             |      JOIN tok p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
             |        AND p1.term = '$b'
             |      WHERE p0.doc_id = w.doc_id AND p0.term = '$a') THEN 1 ELSE 0 END)""".stripMargin
        }.mkString(" + ")
      s"""  SELECT w.query_id, w.doc_id, w.score + $beta * ($bonus) AS fscore
         |  FROM win w WHERE w.rank <= $window AND w.query_id = ${q.queryId}""".stripMargin
    }
    s"""WITH $corpusCte,
       |scores AS (
       |${branches.mkString("\nUNION ALL\n")}
       |),
       |win AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 6) DESC, doc_id) AS rank
       |  FROM scores
       |),
       |final AS (
       |${finals.mkString("\nUNION ALL\n")}
       |),
       |fr AS (
       |  SELECT query_id, doc_id, fscore,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(fscore, 6) DESC, doc_id) AS rank
       |  FROM final
       |)
       |SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rank AS INTEGER) AS rank,
       |       doc_id, round(fscore, 4) AS score
       |FROM fr WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** The significant-terms oracle: the ranked CTE's W-window joined to
    * `tok` for foreground counts (count DISTINCT doc per term == the
    * engine's one-pair-per-posting count), dft/gstats for the background
    * rate, the JLH score expression op-for-op identical to the engine's
    * column tree, ranked by (round(score, 6) desc, term). */
  private def significantOracle(fixtures: Seq[(Int, String)], window: Int,
      topN: Int, minFg: Long): String = {
    val branches = dslScoreBranches(fixtures)
    s"""WITH $corpusCte,
       |scores AS (
       |${branches.mkString("\nUNION ALL\n")}
       |),
       |win AS (
       |  SELECT query_id, doc_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 6) DESC, doc_id) AS rank
       |  FROM scores
       |),
       |sample AS (SELECT query_id, doc_id FROM win WHERE rank <= $window),
       |wsz AS (SELECT query_id, count(*) AS w_n FROM sample GROUP BY query_id),
       |fgt AS (
       |  SELECT s.query_id, t.term, count(DISTINCT t.doc_id) AS fg
       |  FROM sample s JOIN tok t ON t.doc_id = s.doc_id
       |  GROUP BY s.query_id, t.term
       |  HAVING count(DISTINCT t.doc_id) >= $minFg
       |),
       |scoredt AS (
       |  SELECT f.query_id, f.term, f.fg,
       |         (CAST(f.fg AS DOUBLE) / CAST(z.w_n AS DOUBLE)
       |            - CAST(d.df AS DOUBLE) / CAST(g.n AS DOUBLE))
       |         * ((CAST(f.fg AS DOUBLE) / CAST(z.w_n AS DOUBLE))
       |            / (CAST(d.df AS DOUBLE) / CAST(g.n AS DOUBLE))) AS score
       |  FROM fgt f
       |  JOIN wsz z ON z.query_id = f.query_id
       |  JOIN dft d ON d.term = f.term
       |  CROSS JOIN gstats g
       |),
       |rk AS (
       |  SELECT query_id, term, fg, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 6) DESC, term) AS rank
       |  FROM scoredt
       |)
       |SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rank AS INTEGER) AS rank,
       |       term, CAST(fg AS BIGINT) AS fg, round(score, 4) AS score
       |FROM rk WHERE rank <= $topN ORDER BY query_id, rank""".stripMargin
  }

  /** One per-(query, doc) brute-force score branch per fixture — the
    * shared body of the ranked and the count oracles. Synonym expansion,
    * when given, applies the engine's OWN pure rewrite post-parse (the one
    * source of truth for its semantics — it consults no index state, so
    * unlike wildcards there is nothing index-side to re-derive in SQL;
    * what the oracle then independently checks is the expanded query's
    * retrieval). */
  private def dslScoreBranches(fixtures: Seq[(Int, String)],
      synonyms: Option[graft.query.Synonyms] = None): Seq[String] = {
    val parsed0 = fixtures.map { case (qid, s) =>
      graft.query.QueryParser.parse(qid, s, Tokenizers.default)
    }
    val parsed = synonyms.fold(parsed0)(syn => parsed0.map(syn.rewrite))
    parsed.map { q =>
      // scoring source: explicit VALUES ∪ one dictionary-LIKE SELECT per
      // scoring wildcard, minus explicit terms and earlier wildcards'
      // ranges (the engine's "explicit and earlier clauses win" weights)
      val explicit = q.scoring.map { case (t, w) => s"(${q.queryId},'$t',$w)" }
      val scoringWc = q.wildcards.filter(_.op != '-')
      val scoringFz = q.fuzzies.filter(_.op != '-')
      q.wildcards.foreach(w => require(w.prefix.matches("[a-z0-9]+"),
        s"oracle cannot LIKE-escape wildcard prefix '${w.prefix}'"))
      q.fuzzies.foreach(f => require(f.term.matches("[a-z0-9]+"),
        s"oracle cannot SQL-quote fuzzy term '${f.term}'"))
      val notExplicit =
        if (q.scoring.isEmpty) ""
        else s" AND term NOT IN (${q.scoring.map(t => s"'${t._1}'").mkString(", ")})"
      val wcFrags = scoringWc.zipWithIndex.map { case (w, i) =>
        val notEarlier = scoringWc.take(i)
          .map(e => s" AND term NOT LIKE '${e.prefix}%'").mkString
        s"SELECT ${q.queryId} AS query_id, term, CAST(${w.weight} AS DOUBLE) AS w" +
          s" FROM dft WHERE term LIKE '${w.prefix}%'$notExplicit$notEarlier"
      }
      // fuzzies expand AFTER wildcards (the engine's clause order): each
      // fragment excludes explicit terms, every wildcard's range, and
      // earlier fuzzies' neighborhoods — "earlier clauses win weights"
      val fzFrags = scoringFz.zipWithIndex.map { case (f, i) =>
        val notWc = scoringWc.map(w => s" AND term NOT LIKE '${w.prefix}%'").mkString
        val notEarlier = scoringFz.take(i)
          .map(e => s" AND levenshtein(term, '${e.term}') > 1").mkString
        s"SELECT ${q.queryId} AS query_id, term, CAST(${f.weight} AS DOUBLE) AS w" +
          s" FROM dft WHERE levenshtein(term, '${f.term}') <= 1$notExplicit$notWc$notEarlier"
      }
      val valuesFrag =
        if (explicit.isEmpty) Seq.empty
        else Seq(s"SELECT * FROM (VALUES ${explicit.mkString(", ")}) AS v(query_id, term, w)")
      val scoringSrc = (valuesFrag ++ wcFrags ++ fzFrags).mkString("\n  UNION ALL\n  ")
      require(scoringSrc.nonEmpty, s"query ${q.queryId} has no scoring source")
      val conds = new StringBuilder
      q.required.foreach { t =>
        conds ++= s"\n    AND tf.doc_id IN (SELECT r.doc_id FROM tf r WHERE r.term = '$t')"
      }
      q.excluded.foreach { t =>
        conds ++= s"\n    AND tf.doc_id NOT IN (SELECT x.doc_id FROM tf x WHERE x.term = '$t')"
      }
      // ordered-window phrase: each consecutive gap in [1, 1 + slop]
      // (slop 0 = exact adjacency, where the window is a single position)
      def phraseExists(ph: graft.query.Phrase): String = {
        val joins = (1 until ph.terms.length).map(i =>
          s"JOIN tok p$i ON p$i.doc_id = p${i - 1}.doc_id" +
            s" AND p$i.pos > p${i - 1}.pos AND p$i.pos <= p${i - 1}.pos + ${1 + ph.slop}" +
            s" AND p$i.term = '${ph.terms(i)}'")
          .mkString("\n      ")
        s"EXISTS (SELECT 1 FROM tok p0\n      $joins" +
          s"\n      WHERE p0.doc_id = tf.doc_id AND p0.term = '${ph.terms.head}')"
      }
      q.phrases.foreach(ph => conds ++= s"\n    AND ${phraseExists(ph)}")
      q.excludedPhrases.foreach(ph => conds ++= s"\n    AND NOT ${phraseExists(ph)}")
      q.filters.foreach { f =>
        // the engine's stored url is a pure function of doc_id
        // (Pages.base), so the oracle re-derives it inline
        val expr =
          s"contains('https://example.org/42/' || CAST(tf.doc_id AS VARCHAR), '${f.value}')"
        conds ++= s"\n    AND ${if (f.negated) "NOT " else ""}$expr"
      }
      q.wildcards.foreach { w =>
        // '+pre*': at least one expansion present; '-pre*': none. A
        // zero-expansion prefix makes IN () false (query empties) and
        // NOT IN () true (no-op) — the engine's discipline, for free.
        if (w.op == '+')
          conds ++= s"\n    AND tf.doc_id IN (SELECT r.doc_id FROM tf r WHERE r.term LIKE '${w.prefix}%')"
        else if (w.op == '-')
          conds ++= s"\n    AND tf.doc_id NOT IN (SELECT x.doc_id FROM tf x WHERE x.term LIKE '${w.prefix}%')"
      }
      q.fuzzies.foreach { f =>
        // same membership discipline over the edit-distance-1 neighborhood
        if (f.op == '+')
          conds ++= s"\n    AND tf.doc_id IN (SELECT r.doc_id FROM tf r WHERE levenshtein(r.term, '${f.term}') <= 1)"
        else if (f.op == '-')
          conds ++= s"\n    AND tf.doc_id NOT IN (SELECT x.doc_id FROM tf x WHERE levenshtein(x.term, '${f.term}') <= 1)"
      }
      // parse-time requiredAny groups (`+a|b`): at least one member present;
      // an all-OOV group yields an empty IN-set → empty result, like the engine
      q.requiredAny.foreach { g =>
        val in = g.map(t => s"'$t'").mkString(", ")
        conds ++= s"\n    AND tf.doc_id IN (SELECT r.doc_id FROM tf r WHERE r.term IN ($in))"
      }
      // msm:N — at least N DISTINCT scoring terms present; OOV scoring
      // terms never occur in tok, so they can never count, like the engine
      if (q.minShouldMatch > 0) {
        val in = q.scoring.map(t => s"'${t._1}'").mkString(", ")
        conds ++= s"\n    AND tf.doc_id IN (SELECT m.doc_id FROM tf m WHERE m.term IN ($in)" +
          s" GROUP BY m.doc_id HAVING count(DISTINCT m.term) >= ${q.minShouldMatch})"
      }
      s"""  SELECT w.query_id, tf.doc_id,
         |         sum(w.w * (${bm25Sql("tf.tf", "dft.df", "doclen.doc_len")})) AS score
         |  FROM (
         |  $scoringSrc
         |  ) w
         |  JOIN tf ON tf.term = w.term
         |  JOIN dft ON dft.term = w.term
         |  JOIN doclen ON doclen.doc_id = tf.doc_id
         |  CROSS JOIN gstats
         |  WHERE 1=1$conds
         |  GROUP BY w.query_id, tf.doc_id""".stripMargin
    }
  }

  private def cleanedDocs(spark: SparkSession, sfDir: String): DataFrame =
    Pages.cleaned(Pages.withInjections(spark, sfDir))

  // ------------------------------------------------------------------ Spark

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // E1: the tokenizer strategy as a flatMap Generator
    "q_tokenize" -> ((spark, sfDir) => {
      import spark.implicits._
      val tok = Tokenizers.default
      cleanedDocs(spark, sfDir)
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) => tok.tokenize(text).map { case (t, p) => (id, p, t) } }
        .toDF("doc_id", "pos", "term")
        .orderBy("doc_id", "pos")
    }),

    // E1/§2.11 second strategy: the char-trigram (subword) tokenization —
    // same Generate shape, different strategy behind the config surface
    "q_tokenize_ngram" -> ((spark, sfDir) => {
      import spark.implicits._
      val tok = Tokenizers(graft.tokenize.TokenizerConfig(strategy = "chargram"))
      cleanedDocs(spark, sfDir)
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) => tok.tokenize(text).map { case (t, p) => (id, p, t) } }
        .toDF("doc_id", "pos", "term")
        .orderBy("doc_id", "pos")
    }),

    // A1: the frequency-driven dictionary build (dense df-ordered termIds)
    "q_dictionary" -> ((spark, sfDir) => {
      IndexCache.handle(spark, sfDir).dictionary.toDF()
        .select(col("termId").as("term_id"), col("term"), col("df"), col("cf"))
        .orderBy("term_id")
    }),

    // Order statistics at scale: EXACT doc-length percentiles via the
    // GlobalRank machinery (range exchange + broadcast rank join) —
    // integer-arithmetic target ranks so the SQL oracle agrees bit-for-bit
    "q_doclen_quantiles" -> ((spark, sfDir) => {
      import spark.implicits._
      val tok = Tokenizers.default
      val dl = cleanedDocs(spark, sfDir)
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .map { case (id, t) => (id, tok.termCount(t)) }
        .toDF("doc_id", "doc_len")
        .filter(col("doc_len") > 0) // == the oracle's tok-derived doclen
      graft.plans.GlobalRank.exactPercentiles(
          dl, Seq(col("doc_len").asc, col("doc_id").asc), col("doc_len"),
          Seq(25, 50, 75, 90, 99, 100))
        .orderBy("pct")
    }),

    // A7: per-document stats (norms)
    "q_docstats" -> ((spark, sfDir) => {
      IndexCache.handle(spark, sfDir).docstats.toDF()
        .select(col("docId").as("doc_id"), col("docLen").as("doc_len"))
        .orderBy("doc_id")
    }),

    // A7/E6: per-document max-tf attribute (+ its argmax term) — the
    // per-doc attribute-control analog (track_attribute_controls.py:19-305)
    "q_a7_doc_maxtf" -> ((spark, sfDir) => {
      val tok = Tokenizers.default
      val td = IndexBuilder.termDocs(cleanedDocs(spark, sfDir), tok)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("docId").orderBy(col("tf").desc, col("term").asc)
      td.toDF()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("docId").as("doc_id"), col("term").as("top_term"), col("tf").as("max_tf"))
        .orderBy("doc_id")
    }),

    // E4 + A8 + O1 + J4: block structure after the full SPIMI build —
    // per term: postings count (must equal df), block count, first docId,
    // the round-trip-decoded docId sum, and the decoded POSITION sum
    // (proves the docId, tf, and positional codecs are all lossless
    // through the whole build → write → read cycle).
    "q_postings_stats" -> ((spark, sfDir) =>
      decodedTermStats(IndexCache.handle(spark, sfDir)).orderBy("term_id")),

    // The LOSSLESS INVERSE (decode): reconstruct the ordered per-document
    // term stream of a docId range FROM THE INDEX ALONE — the reference's
    // core contract that decode(encode(x)) == preprocessed x
    // (midi_tokenizer.py:1927-1991; round-trip tests
    // tests/test_tokenize.py:201-250). The oracle tokenizes the raw text,
    // so a green row proves corpus → index → decode loses nothing.
    // DecodeSpec additionally asserts FULL-corpus reconstruction equality.
    "q_decode" -> ((spark, sfDir) =>
      decodeRange(spark, IndexCache.handle(spark, sfDir), DecodeLo, DecodeHi)
        .orderBy("doc_id", "pos")),

    // Positional retrieval: exact phrase match answered FROM the index —
    // decode (docId, positions) for the phrase's terms only (termId
    // pushdown prunes the postings scan), then equi-join successive terms
    // on (doc_id, start). The reference's per-document token streams are
    // positional and losslessly decodable (classes.py:118-307, decode
    // midi_tokenizer.py:1927-1991); this is the query that needs them.
    "q_phrase" -> ((spark, sfDir) => phraseMatch(spark, sfDir)),

    // Positional proximity retrieval: ordered term pairs within a 3-token
    // window, counted per doc — the second consumer of the positional
    // payload (doc_id equi-join + range filter; postings-bounded shuffle)
    "q_near" -> ((spark, sfDir) => nearMatch(spark, sfDir)),

    // Index-native snippet generation: a ±window token context around each
    // query term's FIRST occurrence per doc, reconstructed purely from the
    // positional index (no access to the original text) — the search-result
    // page operator. Candidate docs are a fixed range here standing in for
    // a top-k result set; cost is O(candidates), independent of corpus size
    // (termId pushdown for the hits, bucket-pruned decode for the context).
    "q_snippets" -> ((spark, sfDir) => snippets(spark, sfDir)),

    // E7: the index invariant validator — summary row (block count from the
    // on-disk index, violation count MUST be 0; oracle recomputes the
    // expected block count from raw text)
    "q_validate" -> ((spark, sfDir) => {
      import spark.implicits._
      val h = IndexCache.handle(spark, sfDir)
      val nBlocks = h.postings.count()
      val nViolations = IndexValidator.validate(h).count()
      Seq((nBlocks, nViolations)).toDF("n_blocks", "n_violations")
    }),

    // Head/tail vocabulary split (the frequency-driven vocab cap): build
    // with vocabCap=10 — ONLY the 10 most-document-frequent terms get
    // posting lists (tail terms are OOV; the FULL dictionary still
    // persists). Output: the indexed head, with df recomputed from the
    // postings themselves (proves the capped index carries exactly the
    // head's postings, nothing more, nothing less).
    "q_vocab_cap" -> ((spark, sfDir) => {
      import spark.implicits._
      val base = s"/tmp/graft_cap_q/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
      IndexCache.deleteRecursively(new java.io.File(base))
      IndexBuilder.buildFrom(spark, Pages.withInjections(spark, sfDir), base,
        graft.index.IndexConfig(vocabCap = Some(10)))
      val h = graft.query.IndexReader.load(spark, base)
      val dfFromPostings = h.postings
        .map(b => (b.termId, b.nDocs.toLong))
        .toDF("term_id", "n")
        .groupBy("term_id").agg(sum(col("n")).as("df_postings"))
      h.dictionary.toDF()
        .join(dfFromPostings, col("termId") === col("term_id"), "inner")
        .select(col("term"), col("df_postings"))
        .orderBy("term")
    }),

    // Incremental append, oracle-checked: build over the first half of the
    // docId space, APPEND the second half, and report the final dictionary
    // as (term, df, cf) — which must equal the full-corpus statistics
    // (termIds are append-order-dependent by design, so keyed by term).
    "q_append_dict" -> ((spark, sfDir) => {
      val base = s"/tmp/graft_append_q/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
      IndexCache.deleteRecursively(new java.io.File(base))
      val pages = Pages.withInjections(spark, sfDir)
      val mid = pages.agg(max(col("doc_id"))).head().getLong(0) / 2
      val cfg = graft.index.IndexConfig()
      IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") <= mid), base, cfg)
      IndexBuilder.append(spark, pages.filter(col("doc_id") > mid), base, cfg)
      graft.query.IndexReader.load(spark, base).dictionary.toDF()
        .select(col("term"), col("df"), col("cf"))
        .orderBy("term")
    }),

    // Index MERGE, oracle-checked: build two INDEPENDENT indexes over the
    // two halves of the docId space (each with its own dictionary and
    // termId assignment), merge the high one into the low one — no text
    // re-read, no block re-encode, only a termId remap — and report the
    // merged dictionary as (term, df, cf), which must equal the
    // full-corpus statistics (termIds are merge-order-dependent by
    // design, exactly like append's, so keyed by term).
    "q_merge_dict" -> ((spark, sfDir) => {
      val base = s"/tmp/graft_merge_q/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
      IndexCache.deleteRecursively(new java.io.File(base))
      val pages = Pages.withInjections(spark, sfDir)
      val mid = pages.agg(max(col("doc_id"))).head().getLong(0) / 2
      val cfg = graft.index.IndexConfig()
      // independent half-builds overlapped (guide §2.6), then the merge
      graft.index.Overlap.overlap(
        IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") <= mid), s"$base/low", cfg))(
        IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") > mid), s"$base/high", cfg))
      IndexBuilder.merge(spark, s"$base/low", s"$base/high")
      graft.query.IndexReader.load(spark, s"$base/low").dictionary.toDF()
        .select(col("term"), col("df"), col("cf"))
        .orderBy("term")
    }),

    // Tombstone delete, dictionary side: build a dedicated index copy,
    // DELETE docIds [DelLo, DelHi), and report the live dictionary —
    // df/cf must equal the statistics of the corpus minus the deleted
    // docs exactly (df-0 rows, terms living only in deleted docs, drop
    // out). termIds stay stable (no renumber on delete), so keyed by term.
    "q_delete_dict" -> ((spark, sfDir) => {
      val h = DeletedIndexCache.get(spark, sfDir)
      h.dictionary.toDF()
        .filter(col("df") > 0)
        .select(col("term"), col("df"), col("cf"))
        .orderBy("term")
    }),

    // Tombstone delete, scoring side: BM25 top-10 over the deleted index
    // must be rank- AND score-identical to the oracle computed over the
    // corpus minus the deleted docs — live N/avgdl from the manifest,
    // decremented df in idf, tombstoned docs skipped inside the WAND
    // bucket cogroup (docLen = -1 sentinels), stale block bounds merely
    // conservative.
    "q_bm25_after_delete" -> ((spark, sfDir) =>
      wandReport(spark, DeletedIndexCache.get(spark, sfDir))),

    // Compaction: after physically dropping the tombstoned rows
    // (generation-1 rewrite through the same salted block assembly as the
    // build), the decoded per-term postings content must equal the
    // statistics of the corpus minus the deleted docs EXACTLY — df, cf,
    // docId sums, decoded position sums, block counts. Keyed by term
    // (termIds stay stable but the oracle re-derives its own ids).
    "q_compact_stats" -> ((spark, sfDir) => {
      val h = DeletedIndexCache.getCompacted(spark, sfDir)
      decodedTermStats(h)
        .join(h.dictionary.toDF().select(col("termId").as("term_id"), col("term")), "term_id")
        .select(col("term"), col("df"), col("cf"), col("docid_sum"), col("pos_sum"), col("n_blocks"))
        .orderBy("term")
    }),

    // LSM maintenance, oracle-checked end-to-end: a crawl-shaped index
    // (base build over doc_id < 160 in two chunks, then appends of
    // [160, 320) and [320, 480) — four live segments) is folded back to
    // <= 2 segments by the size-tiered merge policy (IndexBuilder.maintain:
    // smallest adjacent run by on-disk bytes, merged via slice-local
    // compactRange; untouched segments' files never rewritten). The report
    // DECODES every posting of the maintained index — per-term df/cf/
    // docId-sum/position-sum must equal the doc_id < 480 corpus statistics,
    // proving the merge lost and corrupted nothing. Small bucketRange so
    // the fixture spans multiple buckets and the merge is genuinely
    // slice-local (MaintainSpec asserts the file-level byte-identity).
    "q_maintain_stats" -> ((spark, sfDir) => {
      val base = s"/tmp/graft_maintain_q/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
      IndexCache.deleteRecursively(new java.io.File(base))
      val pages = Pages.withInjections(spark, sfDir)
      val cfg = graft.index.IndexConfig(blockSize = 16, bucketRange = 64,
        nChunks = 2, postingsBuckets = 2)
      IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < 160), base, cfg)
      IndexBuilder.append(spark,
        pages.filter(col("doc_id") >= 160 && col("doc_id") < 320), base, cfg)
      IndexBuilder.append(spark,
        pages.filter(col("doc_id") >= 320 && col("doc_id") < 480), base, cfg)
      val m = IndexBuilder.maintain(spark, base, maxSegments = 2)
      require(m.segments.length <= 2,
        s"maintain(maxSegments = 2) left ${m.segments.length} segments")
      val h = graft.query.IndexReader.load(spark, base)
      decodedTermStats(h)
        .join(h.dictionary.toDF().select(col("termId").as("term_id"), col("term")), "term_id")
        .select(col("term"), col("df"), col("cf"), col("docid_sum"), col("pos_sum"))
        .orderBy("term")
    }),

    // The flagship: block-max WAND top-10 BM25 over the on-disk index
    "q_bm25_topk" -> ((spark, sfDir) => bm25TopK(spark, sfDir, useWand = true)),

    // FEDERATED ranked retrieval: the SAME query set over two UNMERGED
    // shard indexes built independently over the docId-space halves (each
    // with its own dictionary and termIds). Global statistics — nDocs,
    // avgdl, per-term df — derive from the shards' manifests + live
    // dictionaries at query time, so the federated ranking equals the
    // single-index BM25 oracle exactly (identical idf/avgdl doubles;
    // per-doc addend sums are shard-local). The query-side dual of
    // q_merge_dict: search the shards without ever merging them.
    "q_bm25_sharded" -> ((spark, sfDir) =>
      rankedReport(spark,
        Wand.topKSharded(ShardedIndexCache.shards(spark, sfDir), QuerySet.queries, k = 40),
        kWand = 40)),

    // FUNCTION SCORE (doc-value boost): BM25 × a per-doc multiplier from
    // the docstats row (1 + docId % 3 here, standing in for recency /
    // quality / pagerank boosts), exact under WAND — every term and
    // block bound scales by the asserted maxBoost, so pruning weakens by
    // the boost spread but never misses a boosted doc. The boost value
    // rides the docstats url slot into the cogroup (one codegen'd
    // expression); per-doc values are validated against maxBoost loudly.
    "q_bm25_func" -> ((spark, sfDir) =>
      rankedReport(spark,
        Wand.topKBoosted(IndexCache.handle(spark, sfDir), QuerySet.queries, k = 40,
          boost = lit(1.0) + (col("docId") % 3).cast("double"), maxBoost = 3.0),
        kWand = 40)),

    // FILTERED ranked retrieval: BM25 top-10 restricted to a document
    // metadata predicate (doc_id % 3 = 0 here, standing in for the
    // site:/lang/date-range filters of a search result page). Exact among
    // matching docs; idf/avgdl/N stay corpus-global (a filter narrows the
    // result set, it does not re-weight terms); non-matching docs become
    // docLen = -1 skip sentinels inside the bucket cogroup — the tombstone
    // mechanism reused, one codegen'd when() on the bucket-pruned norms
    // scan, no extra pass or shuffle. Threshold seeding disables (unsound
    // under a filter); block-max pruning still applies.
    "q_bm25_filtered" -> ((spark, sfDir) =>
      rankedReport(spark,
        Wand.topKFiltered(IndexCache.handle(spark, sfDir), QuerySet.queries,
          k = 40, filter = col("docId") % 3 === 0), kWand = 40)),

    // FILTERED FEDERATION: the same metadata predicate over the two
    // unmerged shard indexes — global stats, shard-local skip sentinels;
    // must equal the filtered single-index oracle exactly.
    "q_bm25_sharded_filtered" -> ((spark, sfDir) =>
      rankedReport(spark,
        Wand.topKShardedFiltered(ShardedIndexCache.shards(spark, sfDir), QuerySet.queries,
          k = 40, filter = col("docId") % 3 === 0), kWand = 40)),

    // BOOSTED ranked retrieval: query-time per-term weights (the `term^w`
    // search-box syntax; fixture weights 1, 1.5, 2, ... per term). BM25
    // impact is linear in idf, so a boost folds into the cursor's effective
    // idf at query-plan time — block-max bounds, pruning and threshold
    // seeding all scale consistently and the WAND kernel is untouched
    // (the same linearity that powers BM25F's w_f·idf_f field weights).
    "q_bm25_boosted" -> ((spark, sfDir) =>
      rankedReport(spark,
        Wand.topK(IndexCache.handle(spark, sfDir), QuerySet.boosted, k = 40),
        kWand = 40)),

    // MORE LIKE THIS: rank the corpus against a query derived from a
    // source document's own term statistics, everything read from the
    // index — (term, tf) decoded from the doc's bucket, tf·idf top-5
    // selection (6 dp rounding, term-asc ties), then the standard WAND
    // driver with a docId != source filter. The oracle re-derives the
    // selection from the raw text, so a green row proves profile decode,
    // selection AND retrieval end-to-end.
    "q_mlt" -> ((spark, sfDir) =>
      rankedReport(spark,
        Map(1 -> mlt(spark, IndexCache.handle(spark, sfDir),
          MltDoc, MltTermCount, k = 40)), kWand = 40)),

    // SEARCH-BOX DSL: raw query strings through QueryParser → exact
    // constrained BM25 (required/excluded/phrase verified bucket-locally
    // inside the one WAND driver; seeding off per constrained query). The
    // oracle re-derives each parsed query's semantics in SQL from the SAME
    // ParsedQuery objects — parser and engine are checked as one surface.
    "q_search_dsl" -> ((spark, sfDir) =>
      rankedReport(spark,
        Search.topKRaw(IndexCache.handle(spark, sfDir), QuerySet.dsl, k = 40,
          Tokenizers.default), kWand = 40)),

    // WILDCARD retrieval (`pre*`): expansion is ONE dictionary prefix range
    // scan per clause (StartsWith pushdown — autocomplete's plan), capped
    // loudly (Lucene's TooManyClauses analog); expansions then ride the
    // standard WAND driver as ordinary weighted cursors — `+pre*` adds an
    // at-least-one-of (requiredAny) group to the bucket-local verifier,
    // `-pre*` folds into the excluded set. The oracle re-derives the
    // expansion itself (term LIKE) plus every constraint in SQL.
    "q_wildcard" -> ((spark, sfDir) =>
      rankedReport(spark,
        Search.topKRaw(IndexCache.handle(spark, sfDir), QuerySet.wildcard, k = 40,
          Tokenizers.default), kWand = 40)),

    // FUZZY retrieval (`term~1`): the batch's needles expand in ONE
    // SymSpell deletion-key join (both sides explode to {self} ∪ del1
    // keys — pure codegen, broadcast needle side — then exact levenshtein
    // verify; the spell-correction plan reused as query-time expansion);
    // expansions then ride the WAND driver exactly like wildcards (same
    // weights / requiredAny / excluded roles). Oracle re-derives each
    // neighborhood with DuckDB's levenshtein.
    "q_fuzzy" -> ((spark, sfDir) =>
      rankedReport(spark,
        Search.topKRaw(IndexCache.handle(spark, sfDir), QuerySet.fuzzy, k = 40,
          Tokenizers.default), kWand = 40)),

    // OR GROUPS (`a|b` — simple_query_string's default OR): alternatives
    // are resolved at PARSE time (no dictionary pass needed): bare groups
    // just score every alternative (OR is the bare-term default), `+a|b`
    // rides the same requiredAny at-least-one-of verifier wildcard
    // expansion uses, `-a|b` folds into the excluded set (De Morgan). The
    // oracle re-derives the group constraint as a term-IN membership
    // subquery from the SAME ParsedQuery objects.
    "q_or_group" -> ((spark, sfDir) =>
      rankedReport(spark,
        Search.topKRaw(IndexCache.handle(spark, sfDir), QuerySet.orGroup, k = 40,
          Tokenizers.default), kWand = 40)),

    // MINIMUM SHOULD MATCH (`msm:N`): a result doc must contain at least
    // N DISTINCT of the query's scoring terms — the bool-should knob
    // between pure OR (N=1, the default) and pure AND (N=|terms|). The
    // count runs in the same bucket-local verifier as requiredAny (an
    // early-exit membership count over the already-fetched scoring
    // postings); buckets holding fewer than N of the terms are skipped
    // wholesale. The oracle re-derives the count as a HAVING subquery.
    "q_msm" -> ((spark, sfDir) =>
      rankedReport(spark,
        Search.topKRaw(IndexCache.handle(spark, sfDir), QuerySet.msm, k = 40,
          Tokenizers.default), kWand = 40)),

    // RESULT COLLAPSING (field collapse / site dedup): the DSL fixture
    // set re-ranked one-result-per-group — each group's best doc, top-k
    // groups by their bests. The group key is ONE codegen'd Column over
    // the docstats row (docId % 100 here — the site-key stand-in on this
    // single-host corpus; a host regexp over url in production) riding
    // the url slot that already ships to the bucket cogroup: no extra
    // pass, no extra shuffle. Exactness is two-level (bucket-local
    // group-aware WAND threshold + group-aware global reduce —
    // Wand.topKCollapsed); the oracle re-derives it as a per-(query,
    // group) best-doc window under the same brute-force score CTE.
    "q_collapse" -> ((spark, sfDir) =>
      rankedReport(spark,
        Search.topKRaw(IndexCache.handle(spark, sfDir), QuerySet.collapse, k = 40,
          Tokenizers.default,
          collapse = Some(col("docId") % 100)), kWand = 40)),

    // TOTAL HITS ("About N results", exact): match counts over the full
    // DSL constraint surface. Count mode strips scoring and the heap from
    // the WAND kernel — each bucket counts the admitted union of its
    // scoring-term postings and ships ONE partial-count row, so the
    // shuffle is O(candidate buckets), not O(matching docs). The oracle
    // counts the same brute-force branch rows, zero-filled per query.
    "q_hits" -> ((spark, sfDir) => {
      import spark.implicits._
      Search.countRaw(IndexCache.handle(spark, sfDir), QuerySet.hits,
          Tokenizers.default)
        .toSeq.sortBy(_._1).toDF("query_id", "hits")
        .orderBy("query_id")
    }),

    // FACET COUNTS over the match set (the SERP facet panel, exact):
    // per-facet-value match counts for every DSL fixture query, top-5
    // values by (count desc, value asc). The facet key (docId % 10 —
    // standing in for lang/host) rides the collapse slot into the bucket
    // cogroup; the kernel counts per value per bucket and ships one
    // partial row per (bucket, value) — never O(matching docs). The
    // oracle re-groups the brute-force match rows.
    "q_facets" -> ((spark, sfDir) => {
      import spark.implicits._
      Search.facetsRaw(IndexCache.handle(spark, sfDir), QuerySet.hits,
          Tokenizers.default, (col("docId") % 10).cast("string"), topN = 5)
        .toSeq.sortBy(_._1)
        .flatMap { case (qid, fs) => fs.map { case (v, n) => (qid, v, n) } }
        .toDF("query_id", "facet", "hits")
        .orderBy(col("query_id"), col("hits").desc, col("facet"))
    }),

    // THE SERP ENDPOINT (Search.run): one request per fixture → ranked
    // hits + EXACT total + facet panel in TWO passes (the ranked WAND
    // pass, plus one count-mode pass whose per-value counts partition
    // the match set so the total falls out of the same reduce). Reported
    // long-format — kind ∈ {hit, total, facet} — against a composite
    // oracle sharing ONE brute-force score CTE, so drift in any surface
    // of the endpoint fails this single row. k=40 headroom + re-rank by
    // the rounded comparison key, same discipline as rankedReport.
    "q_serp" -> ((spark, sfDir) => {
      import spark.implicits._
      val h = IndexCache.handle(spark, sfDir)
      def r4(s: Double) = BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      // BATCHED endpoint (Search.runAll): one ranked-count-facet pass per
      // distinct filter signature across ALL requests — per-request
      // results identical to Search.run's (SearchSpec asserts it), but the
      // fixture drops from |requests| passes to |signatures| passes.
      val responses = Search.runAll(h, QuerySet.hits, k = 40,
        facetKey = Some((col("docId") % 10).cast("string")), facetTopN = 5,
        Tokenizers.default)
      val rows = QuerySet.hits.flatMap { case (qid, _) =>
        val r = responses(qid)
        val hitRows = Search.windowByRoundedKey(r.hits, 40, 10, s"query $qid serp")
          .zipWithIndex.map { case ((d, sc), i) =>
            (qid, "hit", i + 1, d.toString, r4(sc)) }
        val totalRow = Seq((qid, "total", 0, "", r.total.toDouble))
        val facetRows = r.facets.zipWithIndex.map { case ((v, n), i) =>
          (qid, "facet", i + 1, v, n.toDouble) }
        hitRows ++ totalRow ++ facetRows
      }
      rows.toDF("query_id", "kind", "rank", "item", "val")
        .orderBy("query_id", "kind", "rank", "item")
    }),

    // HYBRID RETRIEVAL (BM25 ∪ dense-vector cosine, RRF-fused): the
    // modern two-modality search surface. Each modality contributes a
    // W=20 rank window (BM25 via WAND with the rounded-key re-rank +
    // boundary guard; cosine via the brute probe path, rounded before
    // ranking on BOTH sides), fused by reciprocal-rank fusion
    // score(d) = Σ 1/(60 + rank). The fusion is O(queries × W) driver
    // work over already-reduced lists — no new scan or shuffle; at scale
    // the vector side swaps to IVF/PQ unchanged (fusion consumes ranks,
    // not scores). Fixture 7 is OOV-only on the text side (pure-vector
    // fallthrough). The oracle recomposes BOTH component oracles' CTEs
    // and the same coalesce-summed RRF.
    "q_hybrid_rrf" -> ((spark, sfDir) => {
      import spark.implicits._
      val fused = Hybrid.topK(IndexCache.handle(spark, sfDir), QuerySet.hybrid,
        graft.pipeline.Similarity.embeddings(spark, sfDir), Tokenizers.default,
        k = 10)
      fused.toSeq.sortBy(_._1).flatMap { case (qid, arr) =>
        arr.zipWithIndex.map { case ((s, d), i) =>
          (qid, i + 1, d,
            BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.toDF("query_id", "rank", "doc_id", "rrf").orderBy("query_id", "rank")
    }),

    // TWO-STAGE RESCORING (the Lucene/ES rescore-window pattern): exact
    // BM25 cuts a W=20 window (rounded-key re-rank + boundary guard);
    // stage 2 adds β=2.0 per distinct query bigram occurring ADJACENTLY
    // in the doc and re-ranks the window. Stage 2 decodes positional
    // postings for the candidate BUCKETS only — (termId, bucket) both
    // pushed to the postings scan, so decode cost scales with the
    // window, not the posting lists. Oracle: the same window from the
    // ranked CTE + one adjacency-EXISTS per bigram over tok.
    "q_rescore" -> ((spark, sfDir) => {
      import spark.implicits._
      val got = Rescore.topK(IndexCache.handle(spark, sfDir), QuerySet.rescore,
        Tokenizers.default, k = 10)
      got.toSeq.sortBy(_._1).flatMap { case (qid, arr) =>
        arr.zipWithIndex.map { case ((s, d), i) =>
          (qid, i + 1, d,
            BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.toDF("query_id", "rank", "doc_id", "score").orderBy("query_id", "rank")
    }),

    // SIGNIFICANT TERMS over the match window (the search-analytics
    // aggregation behind "related searches"): terms overrepresented in
    // the TOP-W matched docs vs the corpus, JLH-scored
    // (fgRate−bgRate)×(fgRate/bgRate), min-fg ≥ 2, top-10 by (rounded
    // score, term). Forward terms of the sample docs decode from posting
    // blocks in the sample BUCKETS only (cost ∝ W×bucketRange/corpus);
    // fg counting is one hash agg; the dictionary streams once per batch
    // against the broadcast fg side. Oracle: the ranked CTE's window
    // joined to tok, the same score expression op-for-op.
    "q_sig_terms" -> ((spark, sfDir) =>
      Significant.terms(IndexCache.handle(spark, sfDir), QuerySet.significant,
        Tokenizers.default, topN = 10)),

    // PERCOLATION (reverse search): stored queries broadcast, ONE map
    // pass over the docs — tokenize once, evaluate every query against
    // the doc-local term→positions map. No index, no join, no shuffle:
    // the alerting/routing surface of a streaming crawl loop. Match
    // membership is IDENTICAL to the index path's (≥ 1 scoring term +
    // all constraints), which the oracle states directly: the distinct
    // (query, doc) rows of the shared brute-force CTE.
    "q_percolate" -> ((spark, sfDir) => {
      val docs = Pages.cleaned(Pages.withInjections(spark, sfDir))
      val parsed = QuerySet.percolate.map { case (qid, s) =>
        QueryParser.parse(qid, s, Tokenizers.default) }
      Percolate.matches(docs, parsed, Tokenizers.default)
    }),

    // SORT-BY-FIELD retrieval: the match set ordered by a DOC VALUE
    // instead of relevance (the `sort: [{date: desc}]` surface; here
    // doc length — "longest matching docs first"). The key is one
    // zero-padded codegen'd expression riding the collapse slot; each
    // bucket ships its top-10 admitted (key, docId) rows — shuffle
    // O(buckets × k), never O(matching docs) — and the global reduce
    // cuts the same (key desc, docId asc) order. Oracle: the shared
    // brute-force CTE's distinct match rows joined to doclen, the same
    // lpad key, the same rank window.
    "q_sort_by" -> ((spark, sfDir) => {
      import spark.implicits._
      val key = lpad(col("docLen").cast("string"), 10, "0")
      val got = Search.sortByRaw(IndexCache.handle(spark, sfDir),
        QuerySet.percolate, Tokenizers.default, key, k = 10)
      got.toSeq.sortBy(_._1).flatMap { case (qid, rows) =>
        rows.zipWithIndex.map { case ((k0, d), i) => (qid, i + 1, d, k0) }
      }.toDF("query_id", "rank", "doc_id", "key")
        .orderBy("query_id", "rank")
    }),

    // QUERY-TIME SYNONYMS: the fixture table expanded onto every clause
    // role by the pure Synonyms.rewrite (scoring members at the clause
    // weight, `+term` relaxed to any-of-group, `-term` excluding the
    // group), then ranked by the unchanged kernel — expansion adds terms,
    // never machinery. The oracle applies the SAME rewrite (it consults
    // no index state) and re-derives the expanded retrieval brute-force.
    "q_synonyms" -> ((spark, sfDir) =>
      rankedReport(spark,
        Search.topKRaw(IndexCache.handle(spark, sfDir), QuerySet.synonyms, k = 40,
          Tokenizers.default, synonyms = Some(QuerySet.synTable)), kWand = 40)),

    // DEEP PAGINATION (search_after): page 2 of the DSL fixture set — run
    // page 1 at k=10 (exact), cursor on its last (score, docId), fetch the
    // next 10 strictly after it. The oracle is ranked rows 11..20 of the
    // SAME regenerated SQL. The engine pages in EXACT-double order while
    // the oracle ranks by round(score, 6); the guard below makes any 6dp
    // collision among reported rows loud unless it is an exact tie (exact
    // ties order by docId asc in BOTH systems, so they compare equal).
    "q_search_page2" -> ((spark, sfDir) => {
      val h = IndexCache.handle(spark, sfDir)
      val parsed = QuerySet.dsl.map { case (qid, s) =>
        QueryParser.parse(qid, s, Tokenizers.default) }
      val p1 = Search.topK(h, parsed, 10)
      val after = p1.collect { case (qid, rows) if rows.nonEmpty => qid -> rows.last }
      // k=11: the 11th row extends the guard below past the window's FAR
      // edge (oracle rank 20 vs 21); only 10 are reported
      val p2 = Search.page(h, parsed, 11, after)
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // Guard: the engine pages in EXACT-double order, the oracle ranks by
      // round(score, 6). The two orders coincide iff every 6dp collision
      // inside exact ranks 1..21 is an EXACT tie (exact ties sort docId-asc
      // in both systems; rounding is monotone, so adjacent-pair checking
      // covers whole collision groups). A collision crossing the unfetched
      // 21/22 edge cannot move rows INSIDE the 11..20 window, so 21 rows
      // suffice. Non-exact collisions are a loud error, not a wrong answer.
      parsed.foreach { q =>
        val both = p1(q.queryId) ++ p2(q.queryId)
        both.sliding(2).foreach {
          case Array((s1, _), (s2, _)) =>
            require(s1 == s2 || r6(s1) != r6(s2),
              s"query ${q.queryId}: 6dp score collision without exact tie across pages — raise oracle precision")
          case _ => ()
        }
      }
      rankedReport(spark, p2.map { case (qid, rows) => qid -> rows.take(10) }, kWand = 11)
    }),

    // EXPLAIN (the Lucene-explain analog as a driver row): for each boosted
    // fixture query, take the rank-1 doc under the oracle's ordering
    // (round(score,6) desc, docId asc — rankedReport's re-sort), then emit
    // Search.explain's per-term breakdown for that (query, doc). The oracle
    // re-derives the SAME rank-1 doc in SQL and recomputes every component
    // (tf, df, doc_len, idf, impact) from raw text, so a green row proves
    // the published breakdown IS the truth of the ranking, not a parallel
    // formula. idf/impact rounded to 4dp on both sides (the proven oracle
    // precision); the engine-side EXACT sum==score identity is SearchSpec's.
    "q_explain" -> ((spark, sfDir) => {
      import spark.implicits._
      val h = IndexCache.handle(spark, sfDir)
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val top1 = Wand.topK(h, QuerySet.boosted, k = 40).collect {
        case (qid, arr) if arr.nonEmpty =>
          qid -> arr.toSeq.sortBy { case (s, d) => (-r6(s), d) }.head._2
      }
      val byId = QuerySet.boosted.map(q => q.queryId ->
        ParsedQuery(q.queryId, q.terms.distinct.map(t => t -> q.boost(t)))).toMap
      // BATCHED breakdown (Search.explainAll): 3 jobs for the whole fixture
      // set instead of 3 per (query, doc) — rows identical to the solo
      // explain's (SearchSpec asserts it)
      val pairs = top1.toSeq.sortBy(_._1).map { case (qid, doc) => (byId(qid), doc) }
      val explained = Search.explainAll(h, pairs)
      val rows = top1.toSeq.sortBy(_._1).flatMap { case (qid, doc) =>
        explained((qid, doc)).map { case (term, w, tf, df, idf, dl, impact) =>
          (qid, doc, term, w, tf, df, dl, r4(idf), r4(impact))
        }
      }
      rows.toDF("query_id", "doc_id", "term", "weight", "tf", "df",
        "doc_len", "idf", "impact").orderBy("query_id", "term")
    }),

    // Second ranking model over the SAME index read-path: Dirichlet-
    // smoothed query likelihood (mu=2000) — proves the scoring layer is
    // pluggable. score(q,d) = sum_t ln((tf + mu*p_t)/(dl + mu)), p_t =
    // cf_t/totalTokens, factored as present-term deltas + a per-query
    // constant so only matching postings are scanned (termId pushdown).
    "q_ql_topk" -> ((spark, sfDir) => qlTopK(spark, sfDir)),

    // Same result via the pure declarative DataFrame plan (Catalyst does
    // partial aggs + broadcast of the tiny stats) — proves WAND == plan
    "q_bm25_brute" -> ((spark, sfDir) => bm25TopK(spark, sfDir, useWand = false)),

    // FIELDED retrieval (multi-vocabulary documents): title/body sub-index
    // pair, BM25F = weighted per-field BM25 sum, evaluated by the SAME
    // bucket-cogroup WAND kernel with (field, term) cursors carrying
    // effective idf = w_f · idf_f — the Octuple/CPWord parallel-stream
    // analog. Oracle recomputes the per-field statistics (own df, nDocs,
    // avgdl per field) from raw text.
    "q_bm25f_topk" -> ((spark, sfDir) =>
      rankedReport(spark,
        graft.query.Bm25f.topK(FieldedIndexCache.get(spark, sfDir), QuerySet.queries, k = 40),
        kWand = 40)),

    // TIERED retrieval (the approximate fast path): same WAND kernel, but
    // block pruning bounds derive from the E6 tfP90 quantile metadata
    // instead of maxTf — an unsafe-by-design bound that may lose tf-outlier
    // docs at a measured recall cost (PruneSpec gates recall >= 0.9 against
    // exact topK on this exact configuration; evals-saved measured there
    // too). No SQL oracle BY DESIGN (approximate result, like q_ann_lsh):
    // the driver records a rows-only check, the spec carries the gate.
    "q_bm25_tiered" -> ((spark, sfDir) =>
      rankedReport(spark,
        graft.query.Wand.topKApprox(IndexCache.handle(spark, sfDir), QuerySet.queries,
          k = 40, boundKey = graft.index.TfQuantileComputer.TfP90Key),
        kWand = 40)),

    // TIME TRAVEL (Iceberg-snapshot-shaped): the tombstone delete committed
    // snapshot 1 on the q_delete fixture; loading the SAME directory as of
    // snapshot 0 (Manifest.readAt → the archived pre-delete manifest) must
    // reproduce the FULL-corpus BM25 ranking exactly — q_bm25_topk's oracle,
    // answered by a post-delete index. Proves snapshots are immutable and
    // complete: dictionary v0, tombVersion=-1, and the original segment set
    // all remain addressable until vacuum retention expires them.
    "q_timetravel" -> ((spark, sfDir) => {
      DeletedIndexCache.get(spark, sfDir) // commits snapshot 0 (build) + 1 (delete)
      wandReport(spark, IndexReader.loadAt(spark, DeletedIndexCache.dirFor(sfDir), 0))
    }),

    // SNAPSHOT DIFF (the incremental-consumer verb): what changed between
    // two commits of one index, as (doc_id, change) rows. On the q_delete
    // fixture the 0→1 diff is exactly the tombstoned docId range projected
    // onto the cleaned corpus — SQL-oracle-expressible. Two anti-joins
    // over live docstats; output change-sized, nothing driver-side.
    "q_snapshot_diff" -> ((spark, sfDir) => {
      DeletedIndexCache.get(spark, sfDir)
      val dir = DeletedIndexCache.dirFor(sfDir)
      graft.query.SnapshotDiff.diff(
        IndexReader.loadAt(spark, dir, 0), IndexReader.loadAt(spark, dir, 1))
        .orderBy("doc_id")
    })
  )

  /** q_decode's fixed docId range (a few buckets' worth of docs). */
  final val DecodeLo = 64L
  final val DecodeHi = 320L

  /** Decode: (doc_id, pos, term) for every token of docIds in [lo, hi),
    * reconstructed purely from the positional index. Scale shape: the
    * postings scan is pruned to the range's docId BUCKETS via a blockId
    * range predicate (blocks never span buckets, so
    * `blockId ∈ [loBucket·bpb, (hiBucket+1)·bpb)` is exact and pushes to
    * parquet); per-posting rows are emitted only for in-range docs; the
    * term strings come from a distributed dictionary join on termId — no
    * driver-side vocabulary. Cost is O(range's tokens + dictionary scan),
    * independent of corpus size. */
  def decodeRange(spark: SparkSession, h: graft.query.IndexHandle, lo: Long, hi: Long): DataFrame = {
    val m = h.manifest
    val occ = occurrences(h, h.postings // bucket-exact, pushed down
        .filter(Postings.inBuckets(m, lo / m.bucketRange to (hi - 1) / m.bucketRange)))
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
    occ.join(h.dictionary.toDF().select(col("termId").as("term_id"), col("term")), "term_id")
      .select(col("doc_id"), col("pos"), col("term"))
  }

  /** MLT fixture: the source document and profile size. */
  final val MltDoc = 42L
  final val MltTermCount = 5

  /** "More like this" term selection, everything read FROM THE INDEX (no
    * access to the original text): decode the source doc's (term, tf)
    * vector from its bucket's postings (blockId range predicate —
    * bucket-exact parquet pushdown, cost independent of corpus size), join
    * the pruned dictionary for df, score tf·idf rounded to 6 dp (cross-
    * engine ln ulp), ties by term asc, keep the top `m` — the classic
    * Lucene MLT selection made deterministic for the oracle. Only the
    * selected m terms are ever collected. */
  def mltTerms(spark: SparkSession, h: graft.query.IndexHandle,
      docId: Long, m: Int): Seq[String] = {
    import spark.implicits._
    val mf = h.manifest
    val prof = Postings.decode(
        h.postings.filter(Postings.inBuckets(mf, Seq(docId / mf.bucketRange))), positions = false)
      .filter(col("docId") === docId)
      .select(col("termId").as("term_id"), col("tf"))
    prof
      .join(h.dictionary.toDF().select(col("termId").as("term_id"),
        col("term"), col("df")), "term_id")
      .withColumn("sc", round(col("tf") *
        log((lit(mf.nDocs).cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)), 6))
      .orderBy(col("sc").desc, col("term").asc)
      .limit(m)
      .select("term").as[String].collect().toSeq
  }

  /** MLT retrieval: the selected terms run through the UNCHANGED filtered
    * WAND driver with a docId != source predicate — one bucket-bounded
    * decode + one ≤m-term dictionary lookup + one standard top-k. */
  def mlt(spark: SparkSession, h: graft.query.IndexHandle,
      docId: Long, m: Int, k: Int): Array[(Double, Long)] = {
    val terms = mltTerms(spark, h, docId, m)
    if (terms.isEmpty) Array.empty
    else Wand.topKFiltered(h, Seq(QuerySpec(1, terms)), k,
      col("docId") =!= docId)(1)
  }

  /** The fixed phrase-query set: two bigrams (incl. a repeated-term one —
    * overlapping matches must all be reported) and two trigrams. */
  val Phrases: Seq[(Int, Seq[String])] = Seq(
    (1, Seq("merge", "join")),
    (2, Seq("batch", "batch")),
    (3, Seq("the", "fast", "key")),
    (4, Seq("slow", "hash", "batch")))

  /** Decoded (term_id, doc_id, pos) rows for the given termIds only — the
    * postings scan is pruned by termId pushdown, so row volume is bounded
    * by the looked-up terms' postings, never the corpus. */
  private def positionalOccurrences(h: graft.query.IndexHandle, termIds: Seq[Int]): DataFrame =
    occurrences(h, h.postings.filter(col("termId").isin(termIds.map(Int.box): _*))) // pruned point scan

  /** Live (term_id, doc_id, pos) rows, one per token occurrence, of the
    * given blocks. */
  private def occurrences(h: graft.query.IndexHandle, blocks: Dataset[PostingBlock]): DataFrame =
    Postings.decode(blocks, positions = true)
      .select(col("termId").as("term_id"), col("docId").as("doc_id"), explode(col("positions")).as("pos"))
      .transform(h.excludeDeleted(_, "doc_id"))

  /** Per-term decoded postings stats — df, cf, docId sum, position sum,
    * first and last docId, block count — for the build, compaction and
    * maintenance round-trip rows. */
  private def decodedTermStats(h: graft.query.IndexHandle): DataFrame = {
    val blocks = h.postings.groupBy(col("termId").as("term_id")).agg(count(lit(1)).as("n_blocks"))
    Postings.decode(h.postings, positions = true)
      .groupBy(col("termId").as("term_id"))
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"), sum("docId").as("docid_sum"),
        sum(aggregate(col("positions"), lit(0L), (acc, p) => acc + p)).as("pos_sum"),
        min("docId").as("first_doc"), max("docId").as("last_doc"))
      .join(blocks, "term_id")
  }

  /** Ordered proximity pairs: (first, second) with 1 <= pos2 - pos1 <= Window. */
  val NearPairs: Seq[(Int, String, String)] =
    Seq((1, "merge", "join"), (2, "the", "key"), (3, "batch", "stream"))
  final val NearWindow = 3

  /** Snippet fixture: query terms (incl. one OOV → zero rows) + half-window. */
  val SnippetTerms: Seq[String] = Seq("merge", "vector", "slow", "zzzoov")
  final val SnippetWindow = 3

  /** Index-native snippets: for each fixture term and each doc in
    * [DecodeLo, DecodeHi) containing it, the first hit position and the
    * space-joined tokens at positions [hit−w, hit+w], all decoded from the
    * index. Two prunings compose: the hit scan is termId-pushdown-bounded,
    * the context decode is bucket-pruned to the candidate range — so at
    * 10^12 docs the cost is the candidate set's tokens, nothing more. */
  def snippets(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val h = IndexCache.handle(spark, sfDir)
    val dict = h.lookupTerms(SnippetTerms)
    val entries = SnippetTerms.flatMap(t => dict.get(t).map(e => (e.termId, t)))
    val qdf = entries.toDF("term_id", "q_term")
    val hits = positionalOccurrences(h, entries.map(_._1))
      .filter(col("doc_id") >= lit(DecodeLo) && col("doc_id") < lit(DecodeHi))
      .groupBy("term_id", "doc_id")
      .agg(min(col("pos")).as("hit_pos"))
      .join(broadcast(qdf), "term_id")
    val toks = decodeRange(spark, h, DecodeLo, DecodeHi)
      .withColumnRenamed("doc_id", "t_doc")
      .withColumnRenamed("pos", "t_pos")
    hits.join(toks, col("t_doc") === col("doc_id") &&
        col("t_pos") >= col("hit_pos") - SnippetWindow &&
        col("t_pos") <= col("hit_pos") + SnippetWindow)
      .groupBy(col("q_term"), col("doc_id"), col("hit_pos"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("t_pos"), col("term")))),
          x => x.getField("term")), " ").as("snippet"))
      .orderBy("q_term", "doc_id")
  }

  /** Per-block posSpan metadata of one term — block rows only, NO payload
    * decode. Indexes built without the computer degrade to the un-prunable
    * span [1, ∞). Positions fit in int; spans are widened to long so the
    * `max_pos + window` comparison cannot overflow under ANSI. */
  private def blockSpans(h: graft.query.IndexHandle, termIds: Seq[Int]): DataFrame =
    h.postings.toDF()
      .filter(col("termId").isin(termIds.map(Int.box): _*))
      .select(col("termId"), col("blockId"),
        (col("blockId") / lit(h.manifest.blocksPerBucket)).cast("long").as("bucket"),
        coalesce(element_at(col("meta"), lit(graft.index.PosSpanComputer.MinPosKey)), lit(1))
          .cast("long").as("min_pos"),
        coalesce(element_at(col("meta"), lit(graft.index.PosSpanComputer.MaxPosKey)), lit(Int.MaxValue))
          .cast("long").as("max_pos"))

  /** The (t1-block, t2-block) pairs of `spans` ([[blockSpans]] rows) in one
    * bucket whose pos-spans allow a t2 position in [minPosA+1, maxPosA+window]. */
  private def spanPairs(spans: DataFrame, t1: Int, t2: Int, window: Int): DataFrame = {
    def side(t: Int, s: String) = spans.filter(col("termId") === t).select(col("blockId").as(s"block_$s"),
      col("bucket"), col("min_pos").as(s"min_$s"), col("max_pos").as(s"max_$s"))
    side(t1, "a").join(side(t2, "b"), Seq("bucket"))
      .filter(col("max_b") >= col("min_a") + 1 && col("min_b") <= col("max_a") + window)
  }

  /** E6 metadata as a pruning bound: the (t1-block, t2-block) pairs that
    * can possibly produce a `t1 .. t2 within window` match — same bucket
    * (positions only compare within a doc, docs live in one bucket) AND
    * pos-span overlap: some t2 position in [minPosA+1, maxPosA+window].
    * Returns the surviving blockIds per side; only those get decoded. */
  def proximitySurvivors(
      h: graft.query.IndexHandle,
      t1: Int,
      t2: Int,
      window: Int
  ): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val pairs = spanPairs(blockSpans(h, Seq(t1, t2)), t1, t2, window)
    (pairs.select(col("block_a").as("blockId")).distinct(),
      pairs.select(col("block_b").as("blockId")).distinct())
  }

  /** Per (pair, doc): how many proximity matches — positions from the
    * index; blocks are pruned by the E6 posSpan bound BEFORE any payload
    * decode (pruning is a conservative necessary condition, so a block
    * surviving for ANY pair of a term may be decoded for all of them —
    * extra occurrences never create false matches, the window filter is
    * exact). Batch shape: ONE block-metadata scan for all pair terms, ONE
    * decode scan of the union of surviving blocks, then per-pair doc_id
    * equi-joins + range filters — shuffle bounded by the surviving blocks'
    * postings. */
  private def nearMatch(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val h = IndexCache.handle(spark, sfDir)
    val dict = h.lookupTerms(NearPairs.flatMap(p => Seq(p._2, p._3)))
    val resolved = NearPairs.flatMap { case (pid, t1, t2) =>
      for (e1 <- dict.get(t1); e2 <- dict.get(t2)) yield (pid, e1.termId, e2.termId)
    }
    val empty = Seq.empty[(Int, Long, Long)].toDF("pair_id", "doc_id", "n_matches")
    if (resolved.isEmpty) return empty.orderBy("pair_id", "doc_id")
    val allIds = resolved.flatMap(p => Seq(p._2, p._3)).distinct
    // one metadata pass: (termId, blockId, bucket, posSpan) — block rows only
    val spans = blockSpans(h, allIds).localCheckpoint(true)
    // surviving (termId, blockId) union over all pairs
    val keep = resolved.flatMap { case (_, ta, tb) =>
      val pr = spanPairs(spans, ta, tb, NearWindow)
      Seq(pr.select(lit(ta).as("termId"), col("block_a").as("blockId")),
        pr.select(lit(tb).as("termId"), col("block_b").as("blockId")))
    }.reduce(_ unionByName _).distinct()
    // one decode pass over the surviving blocks only
    val occ = occurrences(h, h.postings
        .filter(col("termId").isin(allIds.map(Int.box): _*))
        .join(keep, Seq("termId", "blockId"), "left_semi")
        .as[PostingBlock])
      .localCheckpoint(true)
    val results = resolved.map { case (pid, ta, tb) =>
      val a = occ.filter(col("term_id") === ta).select(col("doc_id"), col("pos").as("pos_a"))
      val b = occ.filter(col("term_id") === tb).select(col("doc_id"), col("pos").as("pos_b"))
      a.join(b, Seq("doc_id"))
        .filter((col("pos_b") - col("pos_a")).between(1, NearWindow))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_matches"))
        .select(lit(pid).as("pair_id"), col("doc_id"), col("n_matches"))
    }
    (results :+ empty).reduce(_ unionByName _).orderBy("pair_id", "doc_id")
  }

  /** All (phrase_id, doc_id, start_pos) matches for [[Phrases]]. */
  private def phraseMatch(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val h = IndexCache.handle(spark, sfDir)
    val dict = h.lookupTerms(Phrases.flatMap(_._2))
    val allIds = Phrases.flatMap(_._2).distinct.flatMap(dict.get).map(_.termId)
    val occ = positionalOccurrences(h, allIds)
    val results = Phrases.map { case (pid, ts) =>
      val resolved = ts.map(dict.get)
      if (resolved.exists(_.isEmpty))
        Seq.empty[(Int, Long, Int)].toDF("phrase_id", "doc_id", "pos")
      else {
        val parts = resolved.map(_.get.termId).zipWithIndex.map { case (tid, i) =>
          occ.filter(col("term_id") === tid)
            .select(col("doc_id"), (col("pos") - i).as("start"))
        }
        parts.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
          .select(lit(pid).as("phrase_id"), col("doc_id"), col("start").as("pos"))
      }
    }
    results.reduce(_ unionByName _).orderBy("phrase_id", "doc_id", "pos")
  }

  /** Top-10 per query; ranked by (round(score,6) desc, doc_id) for
    * cross-engine float robustness; scores reported rounded to 4. */
  /** Dirichlet-smoothing pseudo-count (Zhai & Lafferty's standard mu). */
  final val QlMu = 2000.0

  /** Dirichlet query-likelihood top-10 from the index. OOV query terms are
    * dropped (all-OOV queries return nothing); candidate docs are those
    * containing >= 1 resolved term. The smoothed score over ALL resolved
    * terms factors into per-posting deltas ln(tf+mu*p_t) - ln(mu*p_t), a
    * per-query constant sum_t ln(mu*p_t) (folded in ascending-term order,
    * mirrored by the oracle's ordered list_reduce), and the length
    * normalizer -nq*ln(dl+mu) — so the scan touches only matching
    * postings (termId pushdown), like BM25. Rank by (round6 desc, docId);
    * report round4 (absorbs last-ulp ln and sum-order noise, the same
    * discipline as the BM25 rows). */
  private def qlTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val h = IndexCache.handle(spark, sfDir)
    val total = h.manifest.totalLen
    val dict = h.lookupTerms(QuerySet.queries.flatMap(_.terms))
    val resolved = QuerySet.queries.flatMap { q =>
      val es = q.terms.distinct.flatMap(dict.get).sortBy(_.term)
      if (es.isEmpty) None else Some((q.queryId, es))
    }
    val empty = Seq.empty[(Int, Int, Long, Double)].toDF("query_id", "rank", "doc_id", "score")
    if (resolved.isEmpty) return empty
    val qconst = resolved.map { case (qid, es) =>
      (qid, es.length,
        es.map(e => math.log(QlMu * (e.cf.toDouble / total.toDouble))).sum)
    }.toDF("query_id", "nq", "const_q")
    val qterms = resolved.flatMap { case (qid, es) =>
      es.map(e => (qid, e.termId, QlMu * (e.cf.toDouble / total.toDouble)))
    }.toDF("query_id", "term_id", "mu_p")
    val ids = resolved.flatMap(_._2.map(_.termId)).distinct
    val occ = Postings.decode(h.postings // termId pushed to row groups
        .filter(col("termId").isin(ids.map(Int.box): _*)), positions = false)
      .select(col("termId").as("term_id"), col("docId").as("doc_id"), col("tf"))
      .transform(h.excludeDeleted(_, "doc_id"))
    val scored = occ
      .join(broadcast(qterms), "term_id")
      .withColumn("delta",
        log(col("tf").cast("double") + col("mu_p")) - log(col("mu_p")))
      .groupBy("query_id", "doc_id")
      .agg(sum("delta").as("s"))
      .join(broadcast(qconst), "query_id")
      .join(h.docstats.toDF().select(col("docId").as("doc_id"), col("docLen")), "doc_id")
      .withColumn("score",
        col("s") + col("const_q") -
          col("nq").cast("double") * log(col("docLen").cast("double") + lit(QlMu)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(round(col("score"), 6).desc, col("doc_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("score"), 4).as("score"))
      .orderBy("query_id", "rank")
  }

  /** WAND top-10 report for a given index handle (k=40 headroom + the
    * rounded-tie-span guard; see q_bm25_topk's comment). */
  private def wandReport(spark: SparkSession, h: graft.query.IndexHandle): DataFrame =
    rankedReport(spark, Wand.topK(h, QuerySet.queries, k = 40), kWand = 40)

  /** Shared ranked-result report (WAND + BM25F): re-rank by the ROUNDED
    * score (the oracle comparison key) with headroom k and a guard that no
    * rounded tie spans the retrieval-k boundary. */
  private def rankedReport(spark: SparkSession, res: Map[Int, Array[(Double, Long)]],
      kWand: Int): DataFrame = {
    import spark.implicits._
    def r6(s: Double): Double = BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = res.toSeq.flatMap { case (qid, arr) =>
      val ranked = arr.toSeq
        .map { case (s, d) => (qid, d, s) }
        .sortBy { case (_, d, s) => (-r6(s), d) }
      if (arr.length == kWand && ranked.length > 10)
        require(r6(ranked(9)._3) != r6(arr.last._1),
          s"query $qid: rounded-score tie spans the WAND k=$kWand boundary — raise headroom")
      ranked
        .take(10)
        .zipWithIndex
        .map { case ((q, d, s), i) =>
          (q, i + 1, d, BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
    }
    rows.toDF("query_id", "rank", "doc_id", "score").orderBy("query_id", "rank")
  }

  private def bm25TopK(spark: SparkSession, sfDir: String, useWand: Boolean): DataFrame = {
    import spark.implicits._
    if (useWand) {
      // k=40 headroom over the reported 10: the report re-ranks by the
      // ROUNDED score (oracle comparison key); a rounded tie crossing the
      // WAND-k boundary could otherwise admit a doc WAND never returned.
      // The guard asserts no rounded tie spans that boundary.
      wandReport(spark, IndexCache.handle(spark, sfDir))
    } else {
      val tok = Tokenizers.default
      val cleaned = cleanedDocs(spark, sfDir)
      val td = IndexBuilder.termDocs(cleaned, tok)
      val tfDf = td.toDF()
      // N and total length from the CLEANED corpus (docstats semantics), not
      // from termDocs — a non-empty doc tokenizing to zero terms must still
      // count toward nDocs/avgdl, matching the WAND path's manifest stats
      val lens = cleaned.select(col("text")).as[String].map(t => tok.termCount(t).toLong).toDF("len")
      val stats = lens.agg(count(lit(1)).as("n"), sum(col("len")).as("total"))
      val dft = tfDf.groupBy("term").agg(count(lit(1)).as("df"))
      val qdf = QuerySet.queries
        .flatMap(q => q.terms.map(t => (q.queryId, t)))
        .toDF("query_id", "term")
      val scored = tfDf
        .join(broadcast(qdf), "term")
        .join(broadcast(dft), "term")
        .crossJoin(broadcast(stats))
        .withColumn("avgdl", col("total").cast("double") / col("n").cast("double"))
        .withColumn("impact",
          log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
            (col("tf") * (lit(1.2) + lit(1.0))) /
            (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("docLen") / col("avgdl"))))
        .groupBy("query_id", "docId")
        .agg(sum("impact").as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(round(col("score"), 6).desc, col("docId").asc)
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("rank"), col("docId").as("doc_id"),
          round(col("score"), 4).as("score"))
        .orderBy("query_id", "rank")
    }
  }

  // ----------------------------------------------------------------- oracle

  val oracles: Map[String, String] = {
    def bm25TopSql(cte: String, docWhere: String = "", boostSql: String = "1.0"): String =
      s"""WITH $cte,
         |q(query_id, term) AS (VALUES ${QuerySet.sqlValues}),
         |scores AS (
         |  SELECT q.query_id, tf.doc_id,
         |         ($boostSql) * sum(${bm25Sql("tf.tf", "dft.df", "doclen.doc_len")}) AS score
         |  FROM q
         |  JOIN tf ON tf.term = q.term
         |  JOIN dft ON dft.term = q.term
         |  JOIN doclen ON doclen.doc_id = tf.doc_id
         |  CROSS JOIN gstats$docWhere
         |  GROUP BY q.query_id, tf.doc_id
         |),
         |ranked AS (
         |  SELECT query_id, doc_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY round(score, 6) DESC, doc_id) AS rank
         |  FROM scores
         |)
         |SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rank AS INTEGER) AS rank,
         |       doc_id, round(score, 4) AS score
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

    val qlTop =
      s"""WITH $corpusCte,
         |q(query_id, term) AS (VALUES ${QuerySet.sqlValues}),
         |qres AS (SELECT DISTINCT q.query_id, q.term, dft.cf FROM q JOIN dft ON dft.term = q.term),
         |qstats AS (
         |  SELECT query_id, count(*) AS nq,
         |         list_reduce(
         |           list_prepend(0.0, list(ln($QlMu * (CAST(cf AS DOUBLE) / CAST(g.total AS DOUBLE)))
         |                                  ORDER BY term)),
         |           (a, b) -> a + b) AS const_q
         |  FROM qres CROSS JOIN gstats g GROUP BY query_id
         |),
         |deltas AS (
         |  SELECT r.query_id, tf.doc_id,
         |         sum(ln(CAST(tf.tf AS DOUBLE) + $QlMu * (CAST(r.cf AS DOUBLE) / CAST(g.total AS DOUBLE)))
         |             - ln($QlMu * (CAST(r.cf AS DOUBLE) / CAST(g.total AS DOUBLE)))) AS s
         |  FROM qres r JOIN tf ON tf.term = r.term CROSS JOIN gstats g
         |  GROUP BY r.query_id, tf.doc_id
         |),
         |scores AS (
         |  SELECT d.query_id, d.doc_id,
         |         d.s + qs.const_q
         |           - CAST(qs.nq AS DOUBLE) * ln(CAST(dl.doc_len AS DOUBLE) + $QlMu) AS score
         |  FROM deltas d JOIN qstats qs ON qs.query_id = d.query_id
         |  JOIN doclen dl ON dl.doc_id = d.doc_id
         |),
         |ranked AS (
         |  SELECT query_id, doc_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY round(score, 6) DESC, doc_id) AS rank
         |  FROM scores
         |)
         |SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rank AS INTEGER) AS rank,
         |       doc_id, round(score, 4) AS score
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

    // BM25F: per-field statistics recomputed from raw text — title = first
    // TitleLen tokens (fld 0), body = the rest (fld 1); each field has its
    // own df / nDocs / avgdl, and the score is the weighted per-field sum.
    val bm25fTop =
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE text IS NOT NULL AND length(text) > 0
         |),
         |tok AS (
         |  SELECT doc_id,
         |         unnest(string_split(lower(text), ' ')) AS term,
         |         unnest(generate_series(1, len(string_split(lower(text), ' ')))) AS pos
         |  FROM corpus
         |),
         |ftok AS (
         |  SELECT doc_id, term,
         |         CASE WHEN pos <= ${FieldedIndexCache.TitleLen} THEN 0 ELSE 1 END AS fld
         |  FROM tok
         |),
         |ftf AS (SELECT doc_id, fld, term, count(*) AS tf FROM ftok GROUP BY doc_id, fld, term),
         |fdoclen AS (SELECT doc_id, fld, count(*) AS dl FROM ftok GROUP BY doc_id, fld),
         |fdf AS (SELECT fld, term, count(*) AS df FROM ftf GROUP BY fld, term),
         |fstats AS (
         |  SELECT fld, count(*) AS n,
         |         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM fdoclen GROUP BY fld
         |),
         |q(query_id, term) AS (VALUES ${QuerySet.sqlValues}),
         |contrib AS (
         |  SELECT q.query_id, t.doc_id,
         |         (CASE WHEN t.fld = 0 THEN ${FieldedIndexCache.TitleWeight}
         |               ELSE ${FieldedIndexCache.BodyWeight} END) *
         |         (ln((st.n - fdf.df + 0.5) / (fdf.df + 0.5) + 1.0) * (t.tf * (1.2 + 1.0)) /
         |          (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS imp
         |  FROM q
         |  JOIN ftf t ON t.term = q.term
         |  JOIN fdf ON fdf.fld = t.fld AND fdf.term = t.term
         |  JOIN fdoclen dl ON dl.doc_id = t.doc_id AND dl.fld = t.fld
         |  JOIN fstats st ON st.fld = t.fld
         |),
         |scores AS (
         |  SELECT query_id, doc_id, sum(imp) AS score FROM contrib GROUP BY query_id, doc_id
         |),
         |ranked AS (
         |  SELECT query_id, doc_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY round(score, 6) DESC, doc_id) AS rank
         |  FROM scores
         |)
         |SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rank AS INTEGER) AS rank,
         |       doc_id, round(score, 4) AS score
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

    Map(
      "q_ql_topk" -> qlTop,
      "q_bm25f_topk" -> bm25fTop,
      "q_tokenize" ->
        s"""WITH $corpusCte
           |SELECT doc_id, CAST(pos AS INTEGER) AS pos, term
           |FROM tok ORDER BY doc_id, pos""".stripMargin,
      "q_tokenize_ngram" ->
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  WHERE text IS NOT NULL AND length(text) > 0
           |),
           |words AS (
           |  SELECT doc_id,
           |         unnest(string_split(lower(text), ' ')) AS w,
           |         unnest(generate_series(1, len(string_split(lower(text), ' ')))) AS wp
           |  FROM corpus
           |),
           |grams AS (
           |  SELECT doc_id, wp,
           |         unnest(CASE WHEN length(w) < 3 THEN [w]
           |                ELSE list_transform(generate_series(1, length(w) - 2), i -> substr(w, i, 3)) END) AS term,
           |         unnest(CASE WHEN length(w) < 3 THEN [CAST(1 AS BIGINT)]
           |                ELSE generate_series(1, length(w) - 2) END) AS gi
           |  FROM words
           |)
           |SELECT doc_id,
           |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wp, gi) AS INTEGER) AS pos,
           |       term
           |FROM grams ORDER BY doc_id, pos""".stripMargin,
      "q_dictionary" ->
        s"""WITH $corpusCte
           |SELECT CAST(row_number() OVER (ORDER BY df DESC, term) - 1 AS INTEGER) AS term_id,
           |       term, df, cf
           |FROM dft ORDER BY term_id""".stripMargin,
      "q_doclen_quantiles" ->
        s"""WITH $corpusCte,
           |nn AS (SELECT count(*) AS n FROM doclen),
           |ranked AS (
           |  SELECT doc_len, row_number() OVER (ORDER BY doc_len, doc_id) AS rn
           |  FROM doclen
           |),
           |ps(pct) AS (VALUES (25), (50), (75), (90), (99), (100))
           |SELECT CAST(ps.pct AS INTEGER) AS pct, CAST(r.doc_len AS INTEGER) AS doc_len
           |FROM ps CROSS JOIN nn
           |JOIN ranked r ON r.rn = greatest(1, (nn.n * ps.pct + 99) // 100)
           |ORDER BY pct""".stripMargin,
      "q_docstats" ->
        s"""WITH $corpusCte
           |SELECT doc_id, CAST(doc_len AS INTEGER) AS doc_len
           |FROM doclen ORDER BY doc_id""".stripMargin,
      "q_a7_doc_maxtf" ->
        s"""WITH $corpusCte
           |SELECT doc_id, term AS top_term, CAST(tf AS INTEGER) AS max_tf FROM (
           |  SELECT doc_id, term, tf,
           |         row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS rn
           |  FROM tf)
           |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      // blocks split at 128 postings AND at docId-bucket (65536) boundaries
      "q_postings_stats" ->
        s"""WITH $corpusCte,
           |d AS (
           |  SELECT row_number() OVER (ORDER BY df DESC, term) - 1 AS term_id, term, df, cf
           |  FROM dft
           |),
           |per_bucket AS (
           |  SELECT d.term_id, CAST(floor(tf.doc_id / 65536) AS BIGINT) AS bucket,
           |         count(*) AS cnt
           |  FROM d JOIN tf ON tf.term = d.term
           |  GROUP BY d.term_id, bucket
           |),
           |nb AS (
           |  SELECT term_id,
           |         CAST(sum(CAST(ceil(CAST(cnt AS DOUBLE) / 128.0) AS BIGINT)) AS BIGINT) AS n_blocks
           |  FROM per_bucket GROUP BY term_id
           |),
           |ps AS (SELECT term, CAST(sum(pos) AS BIGINT) AS pos_sum FROM tok GROUP BY term)
           |SELECT CAST(d.term_id AS INTEGER) AS term_id, d.df, d.cf,
           |       CAST(sum(tf.doc_id) AS BIGINT) AS docid_sum,
           |       max(ps.pos_sum) AS pos_sum,
           |       min(tf.doc_id) AS first_doc, max(tf.doc_id) AS last_doc,
           |       max(nb.n_blocks) AS n_blocks
           |FROM d JOIN tf ON tf.term = d.term JOIN nb ON nb.term_id = d.term_id
           |     JOIN ps ON ps.term = d.term
           |GROUP BY d.term_id, d.df, d.cf ORDER BY term_id""".stripMargin,
      "q_append_dict" ->
        s"""WITH $corpusCte
           |SELECT term, df, cf FROM dft ORDER BY term""".stripMargin,
      "q_merge_dict" ->
        s"""WITH $corpusCte
           |SELECT term, df, cf FROM dft ORDER BY term""".stripMargin,
      "q_vocab_cap" ->
        s"""WITH $corpusCte,
           |head AS (SELECT term, df FROM dft ORDER BY df DESC, term LIMIT 10)
           |SELECT term, df AS df_postings FROM head ORDER BY term""".stripMargin,
      "q_decode" ->
        s"""WITH $corpusCte
           |SELECT doc_id, CAST(pos AS INTEGER) AS pos, term
           |FROM tok WHERE doc_id >= $DecodeLo AND doc_id < $DecodeHi
           |ORDER BY doc_id, pos""".stripMargin,
      "q_snippets" -> {
        val vals = SnippetTerms.map(t => s"('$t')").mkString(", ")
        s"""WITH $corpusCte,
           |hits AS (
           |  SELECT q.q_term, t.doc_id, CAST(min(t.pos) AS INTEGER) AS hit_pos
           |  FROM (VALUES $vals) q(q_term)
           |  JOIN tok t ON t.term = q.q_term
           |  WHERE t.doc_id >= $DecodeLo AND t.doc_id < $DecodeHi
           |  GROUP BY q.q_term, t.doc_id
           |)
           |SELECT h.q_term, h.doc_id, h.hit_pos,
           |       string_agg(t.term, ' ' ORDER BY t.pos) AS snippet
           |FROM hits h JOIN tok t ON t.doc_id = h.doc_id
           |  AND t.pos BETWEEN h.hit_pos - $SnippetWindow AND h.hit_pos + $SnippetWindow
           |GROUP BY h.q_term, h.doc_id, h.hit_pos
           |ORDER BY h.q_term, h.doc_id""".stripMargin
      },
      "q_near" -> {
        val per = NearPairs.map { case (pid, t1, t2) =>
          s"""SELECT CAST($pid AS INTEGER) AS pair_id, a.doc_id, count(*) AS n_matches
             |FROM tok a JOIN tok b ON b.doc_id = a.doc_id
             |  AND b.pos - a.pos BETWEEN 1 AND $NearWindow AND b.term = '$t2'
             |WHERE a.term = '$t1'
             |GROUP BY a.doc_id""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $corpusCte
           |$per
           |ORDER BY pair_id, doc_id""".stripMargin
      },
      "q_phrase" -> {
        val perPhrase = Phrases.map { case (pid, ts) =>
          val joins = ts.zipWithIndex.drop(1).map { case (t, i) =>
            s"JOIN tok t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t0.pos + $i AND t$i.term = '$t'"
          }.mkString("\n")
          s"""SELECT $pid AS phrase_id, t0.doc_id, CAST(t0.pos AS INTEGER) AS pos
             |FROM tok t0
             |$joins
             |WHERE t0.term = '${ts.head}'""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $corpusCte
           |$perPhrase
           |ORDER BY phrase_id, doc_id, pos""".stripMargin
      },
      "q_validate" ->
        s"""WITH $corpusCte,
           |per_bucket AS (
           |  SELECT term, CAST(floor(doc_id / 65536) AS BIGINT) AS bucket, count(*) AS cnt
           |  FROM tf GROUP BY term, bucket
           |)
           |SELECT CAST(sum(CAST(ceil(CAST(cnt AS DOUBLE) / 128.0) AS BIGINT)) AS BIGINT) AS n_blocks,
           |       CAST(0 AS BIGINT) AS n_violations
           |FROM per_bucket""".stripMargin,
      "q_bm25_topk" -> bm25TopSql(corpusCte),
      // function score: the same ranking × the per-doc boost expression
      "q_bm25_func" -> bm25TopSql(corpusCte,
        boostSql = "1.0 + CAST(tf.doc_id % 3 AS DOUBLE)"),
      // federated shards score with GLOBAL stats == the single-index oracle
      "q_bm25_sharded" -> bm25TopSql(corpusCte),
      "q_bm25_brute" -> bm25TopSql(corpusCte),
      // filter narrows the SCORED docs only; idf/avgdl stay corpus-global
      "q_bm25_filtered" -> bm25TopSql(corpusCte, "\n  WHERE tf.doc_id % 3 = 0"),
      // filtered federation scores with GLOBAL stats == the filtered oracle
      "q_bm25_sharded_filtered" -> bm25TopSql(corpusCte, "\n  WHERE tf.doc_id % 3 = 0"),
      // per-term boost w multiplies that term's whole BM25 impact
      "q_bm25_boosted" ->
        s"""WITH $corpusCte,
           |q(query_id, term, w) AS (VALUES ${QuerySet.sqlBoostedValues}),
           |scores AS (
           |  SELECT q.query_id, tf.doc_id,
           |         sum(q.w * (${bm25Sql("tf.tf", "dft.df", "doclen.doc_len")})) AS score
           |  FROM q
           |  JOIN tf ON tf.term = q.term
           |  JOIN dft ON dft.term = q.term
           |  JOIN doclen ON doclen.doc_id = tf.doc_id
           |  CROSS JOIN gstats
           |  GROUP BY q.query_id, tf.doc_id
           |),
           |ranked AS (
           |  SELECT query_id, doc_id, score,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY round(score, 6) DESC, doc_id) AS rank
           |  FROM scores
           |)
           |SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rank AS INTEGER) AS rank,
           |       doc_id, round(score, 4) AS score
           |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
      // the parsed-DSL surface: scoring/boost/required/excluded/phrase/
      // filter semantics regenerated in SQL from the SAME ParsedQuery
      // objects the engine runs — one source of truth for the grammar's
      // meaning (rank window 1..10 = page 1)
      "q_search_dsl" -> searchDslOracle(QuerySet.dsl, rankLo = 1, rankHi = 10),
      // page 2 via the search_after cursor == ranked rows 11..20 of the
      // same regenerated SQL, relabeled 1..10
      "q_search_page2" -> searchDslOracle(QuerySet.dsl, rankLo = 11, rankHi = 20),
      // wildcard retrieval: expansions re-derived in SQL as dictionary
      // LIKE ranges; required/excluded wildcards as membership subqueries
      "q_wildcard" -> searchDslOracle(QuerySet.wildcard, rankLo = 1, rankHi = 10),
      // fuzzy retrieval: each needle's edit-distance-1 neighborhood
      // re-derived with DuckDB's levenshtein, constraints as subqueries
      "q_fuzzy" -> searchDslOracle(QuerySet.fuzzy, rankLo = 1, rankHi = 10),

      // |-groups: same regenerated-SQL oracle; requiredAny groups become
      // term-IN membership subqueries
      "q_or_group" -> searchDslOracle(QuerySet.orGroup, rankLo = 1, rankHi = 10),

      // msm:N — the count constraint as a HAVING count(DISTINCT term)
      // membership subquery
      "q_msm" -> searchDslOracle(QuerySet.msm, rankLo = 1, rankHi = 10),

      // collapse — the engine's docId % 100 group key re-derived as a
      // per-(query, group) best-doc window before the global ranking
      "q_collapse" -> searchDslOracle(QuerySet.collapse, rankLo = 1, rankHi = 10,
        collapseSql = Some("doc_id % 100")),

      // total hits — count of the same brute-force branch rows
      "q_hits" -> searchDslCountOracle(QuerySet.hits),

      // synonyms — the engine's pure rewrite applied pre-generation, the
      // expanded retrieval re-derived brute-force
      "q_synonyms" -> searchDslOracle(QuerySet.synonyms, rankLo = 1, rankHi = 10,
        synonyms = Some(QuerySet.synTable)),

      // facets — per-(query, value) counts of the brute-force match rows
      "q_facets" -> searchDslFacetOracle(QuerySet.hits, "doc_id % 10", topN = 5),

      // the SERP endpoint — hits + exact total + facet panel composed
      // over ONE shared brute-force CTE (kind-discriminated long format)
      "q_serp" -> searchDslSerpOracle(QuerySet.hits, "doc_id % 10", topN = 5),

      // hybrid BM25 ∪ vector RRF — both component oracles' rank CTEs
      // recomposed with the same coalesce-summed fusion
      "q_hybrid_rrf" -> hybridRrfOracle(QuerySet.hybrid, window = 20, c = 60, k = 10),

      // two-stage rescoring — the ranked CTE's W-window + one
      // adjacency-EXISTS per bigram, re-ranked on the bonused score
      "q_rescore" -> rescoreOracle(QuerySet.rescore, window = 20, k = 10, beta = 2.0),

      // significant terms — the same window joined to tok, JLH-scored
      // op-for-op against dft/gstats background rates
      "q_sig_terms" -> significantOracle(QuerySet.significant, window = 20,
        topN = 10, minFg = 2),

      // sort-by-field — the same distinct match rows joined to doclen,
      // ordered by the identical zero-padded key
      "q_sort_by" -> {
        val branches = dslScoreBranches(QuerySet.percolate)
        s"""WITH $corpusCte,
           |scores AS (
           |${branches.mkString("\nUNION ALL\n")}
           |),
           |matches AS (SELECT query_id, doc_id FROM scores GROUP BY 1, 2),
           |keyed AS (
           |  SELECT m.query_id, m.doc_id,
           |         lpad(CAST(l.doc_len AS VARCHAR), 10, '0') AS key,
           |         row_number() OVER (PARTITION BY m.query_id
           |           ORDER BY lpad(CAST(l.doc_len AS VARCHAR), 10, '0') DESC,
           |                    m.doc_id) AS rank
           |  FROM matches m JOIN doclen l ON l.doc_id = m.doc_id
           |)
           |SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rank AS INTEGER) AS rank,
           |       doc_id, key
           |FROM keyed WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
      },

      // percolation — match membership IS the brute-force CTE's distinct
      // (query, doc) rows
      "q_percolate" -> {
        val branches = dslScoreBranches(QuerySet.percolate)
        s"""WITH $corpusCte,
           |scores AS (
           |${branches.mkString("\nUNION ALL\n")}
           |)
           |SELECT CAST(query_id AS INTEGER) AS query_id, doc_id
           |FROM scores GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      },
      // explain: per-term breakdown of each boosted query's rank-1 doc;
      // the oracle re-derives the rank-1 selection AND every component
      "q_explain" ->
        s"""WITH $corpusCte,
           |q(query_id, term, w) AS (VALUES ${QuerySet.sqlBoostedValues}),
           |scores AS (
           |  SELECT q.query_id, tf.doc_id,
           |         sum(q.w * (${bm25Sql("tf.tf", "dft.df", "doclen.doc_len")})) AS score
           |  FROM q
           |  JOIN tf ON tf.term = q.term
           |  JOIN dft ON dft.term = q.term
           |  JOIN doclen ON doclen.doc_id = tf.doc_id
           |  CROSS JOIN gstats
           |  GROUP BY q.query_id, tf.doc_id
           |),
           |top1 AS (
           |  SELECT query_id, doc_id FROM (
           |    SELECT query_id, doc_id,
           |           row_number() OVER (PARTITION BY query_id
           |                              ORDER BY round(score, 6) DESC, doc_id) AS rank
           |    FROM scores)
           |  WHERE rank = 1
           |)
           |SELECT CAST(q.query_id AS INTEGER) AS query_id, t1.doc_id, q.term,
           |       CAST(q.w AS DOUBLE) AS weight, CAST(tf.tf AS INTEGER) AS tf,
           |       dft.df, CAST(doclen.doc_len AS INTEGER) AS doc_len,
           |       round(ln((n - dft.df + 0.5) / (dft.df + 0.5) + 1.0), 4) AS idf,
           |       round(q.w * (${bm25Sql("tf.tf", "dft.df", "doclen.doc_len")}), 4) AS impact
           |FROM q
           |JOIN top1 t1 ON t1.query_id = q.query_id
           |JOIN tf ON tf.doc_id = t1.doc_id AND tf.term = q.term
           |JOIN dft ON dft.term = q.term
           |JOIN doclen ON doclen.doc_id = t1.doc_id
           |CROSS JOIN gstats
           |ORDER BY q.query_id, q.term""".stripMargin,
      // MLT: top-5 tf·idf terms of doc MltDoc (6 dp, term-asc ties) as the
      // query; retrieval excludes the source doc; stats corpus-global
      "q_mlt" ->
        s"""WITH $corpusCte,
           |src AS (SELECT term, count(*) AS tf FROM tok WHERE doc_id = $MltDoc GROUP BY term),
           |sel AS (
           |  SELECT s.term,
           |         round(s.tf * ln((n - d.df + 0.5) / (d.df + 0.5) + 1.0), 6) AS sc
           |  FROM src s JOIN dft d ON d.term = s.term CROSS JOIN gstats
           |),
           |top_terms AS (SELECT term FROM sel ORDER BY sc DESC, term LIMIT $MltTermCount),
           |scores AS (
           |  SELECT 1 AS query_id, tf.doc_id,
           |         sum(${bm25Sql("tf.tf", "dft.df", "doclen.doc_len")}) AS score
           |  FROM top_terms q
           |  JOIN tf ON tf.term = q.term
           |  JOIN dft ON dft.term = q.term
           |  JOIN doclen ON doclen.doc_id = tf.doc_id
           |  CROSS JOIN gstats
           |  WHERE tf.doc_id <> $MltDoc
           |  GROUP BY tf.doc_id
           |),
           |ranked AS (
           |  SELECT query_id, doc_id, score,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY round(score, 6) DESC, doc_id) AS rank
           |  FROM scores
           |)
           |SELECT CAST(query_id AS INTEGER) AS query_id, CAST(rank AS INTEGER) AS rank,
           |       doc_id, round(score, 4) AS score
           |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
      // the maintained (merged) index must decode to exactly the corpus
      // statistics of its doc_id < 480 fixture — nothing lost, nothing dup'd
      "q_maintain_stats" ->
        s"""WITH ${corpusCteWhere(" AND doc_id < 480")},
           |ps AS (SELECT term, CAST(sum(pos) AS BIGINT) AS pos_sum FROM tok GROUP BY term)
           |SELECT tf.term, count(*) AS df, CAST(sum(tf.tf) AS BIGINT) AS cf,
           |       CAST(sum(tf.doc_id) AS BIGINT) AS docid_sum,
           |       max(ps.pos_sum) AS pos_sum
           |FROM tf JOIN ps ON ps.term = tf.term
           |GROUP BY tf.term ORDER BY tf.term""".stripMargin,
      "q_bm25_after_delete" -> bm25TopSql(corpusCteDeleted),
      // pre-delete snapshot of the post-delete index == full corpus
      "q_timetravel" -> bm25TopSql(corpusCte),
      // 0→1 diff of the delete fixture == the tombstoned range ∩ cleaned corpus
      "q_snapshot_diff" ->
        s"""SELECT doc_id, 'removed' AS change FROM documents
           |WHERE text IS NOT NULL AND length(text) > 0
           |  AND doc_id >= ${DeletedIndexCache.DelLo} AND doc_id < ${DeletedIndexCache.DelHi}
           |ORDER BY doc_id""".stripMargin,
      "q_delete_dict" ->
        s"""WITH $corpusCteDeleted
           |SELECT term, df, cf FROM dft ORDER BY term""".stripMargin,
      "q_compact_stats" ->
        s"""WITH $corpusCteDeleted,
           |per_bucket AS (
           |  SELECT tf.term, CAST(floor(tf.doc_id / 65536) AS BIGINT) AS bucket,
           |         count(*) AS cnt
           |  FROM tf GROUP BY tf.term, bucket
           |),
           |nb AS (
           |  SELECT term,
           |         CAST(sum(CAST(ceil(CAST(cnt AS DOUBLE) / 128.0) AS BIGINT)) AS BIGINT) AS n_blocks
           |  FROM per_bucket GROUP BY term
           |),
           |ps AS (SELECT term, CAST(sum(pos) AS BIGINT) AS pos_sum FROM tok GROUP BY term)
           |SELECT d.term, d.df, d.cf,
           |       CAST(sum(tf.doc_id) AS BIGINT) AS docid_sum,
           |       max(ps.pos_sum) AS pos_sum, max(nb.n_blocks) AS n_blocks
           |FROM dft d JOIN tf ON tf.term = d.term
           |     JOIN nb ON nb.term = d.term JOIN ps ON ps.term = d.term
           |GROUP BY d.term, d.df, d.cf ORDER BY d.term""".stripMargin
    )
  }
}
