package graft.queries

import graft.corpus.Pages
import graft.index.{IndexBuilder, IndexConfig, MergeStep, PhraseVocab}
import graft.query.{IndexHandle, IndexReader, QuerySpec, Wand}
import graft.tokenize.{TokenizerConfig, Tokenizers}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The trained BPE merges CONSUMED: merge table + a full index rebuilt over
  * the merge-rewritten corpus, so merged units get termIds and posting
  * lists — the engine analog of `encode_token_ids` re-encoding sequences
  * with the trained vocab (midi_tokenizer.py:3008-3039). Cached per sfDir
  * (one train + one build per JVM). */
object MergedIndexCache {
  final val NumMerges = 8
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[MergeStep], IndexHandle)]()

  def get(spark: SparkSession, sfDir: String): (Seq[MergeStep], IndexHandle) =
    cache.computeIfAbsent(sfDir, { _ =>
      import spark.implicits._
      val (merges, finalDocs, release) = PhraseVocab.train(VocabQueries.tokenDocs(spark, sfDir), NumMerges)
      // rewritten token streams → pages (input_hint shape); merged units
      // keep their '_' glue, so the whitespace (stripPunct=false) tokenizer
      // round-trips them as single terms
      val pages = finalDocs
        .map { case (id, ts) => (id, ts.mkString(" ")) }
        .toDF("doc_id", "text")
        .select(col("doc_id"),
          concat(lit("merged://"), col("doc_id")).as("url"),
          timestamp_seconds(lit(Pages.EpochSeconds)).as("warc_ts"),
          encode(col("text"), "UTF-8").as("html"),
          col("text"), lit("en").as("lang"))
      val dir = s"/tmp/graft_merged_index/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
      IndexCache.deleteRecursively(dir)
      IndexBuilder.buildFrom(spark, pages, dir,
        IndexConfig(tokenizer = TokenizerConfig(stripPunct = false)))
      release()
      (merges, IndexReader.load(spark, dir))
    })
}

/** Vocabulary-merge (BPE `train` analog, E3) and boolean-retrieval queries. */
object VocabQueries {

  /** WordPiece trainer iterations for q_wp_merges. */
  final val WpMerges = 6

  /** Unigram-EM trainer: iterations and per-iteration candidate cap. */
  final val UniIters = 3
  final val UniCap = 100

  /** Spell-correction fixture: an exact term, an insertion, a deletion, a
    * substitution, and a no-match. */
  val SpellQueries: Seq[String] = Seq("merge", "mergee", "joi", "betch", "zzz")

  /** Autocomplete fixture: prefixes of varying selectivity + a no-match. */
  val AutocompletePrefixes: Seq[String] = Seq("s", "ba", "me", "zz")
  final val AutocompleteK = 5

  /** AND-NOT fixture: (queryId, positive terms, negative terms) — covers
    * multi-positive exclusion, single-positive exclusion, an OOV negative
    * (no-op), and an OOV positive (empty result). */
  val AndNotQueries: Seq[(Int, Seq[String], Seq[String])] = Seq(
    (1, Seq("merge", "join"), Seq("batch")),
    (2, Seq("the"), Seq("key")),
    (3, Seq("batch"), Seq("zzzoov")),
    (4, Seq("quantum"), Seq("the")))

  private[queries] def tokenDocs(s: SparkSession, d: String) = {
    import s.implicits._
    val tok = Tokenizers.default
    Pages.cleaned(Pages.withInjections(s, d))
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, t) => (id, tok.terms(t)) }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // E3 step 1: corpus-wide adjacent-pair frequency aggregation
    "q_bpe_pairs" -> ((s, d) =>
      PhraseVocab.pairCounts(tokenDocs(s, d))
        .orderBy(col("cnt").desc, col("left"), col("right"))
        .limit(100)),

    // E3 full loop: 8 deterministic merges (driver loop over cached corpus).
    // Oracle: a DuckDB replay — 8 chained CTE steps, each computing its own
    // argmax pair (lead-adjacency counts, (cnt desc, left, right) tiebreak)
    // and applying the leftmost-non-overlapping rewrite (alternating take
    // within runs of consecutive matches).
    "q_bpe_merges" -> ((s, d) => {
      import s.implicits._
      val (merges, _) = MergedIndexCache.get(s, d)
      merges.toDF("step", "left", "right", "count", "merged").orderBy("step")
    }),

    // E3 consumed (encode_token_ids analog): the dictionary of the index
    // REBUILT over the merge-rewritten corpus — merged units ('l_r') hold
    // dense termIds and real posting lists (BpeSpec checks their postings
    // decode to exactly the docs containing them).
    "q_merged_dict" -> ((s, d) => {
      val (_, handle) = MergedIndexCache.get(s, d)
      handle.dictionary.toDF()
        .select(col("termId").as("term_id"), col("term"), col("df"), col("cf"))
        .orderBy("term_id")
    }),

    // E3 second trainer (the reference's multi-model surface trains BPE,
    // Unigram AND WordPiece, midi_tokenizer.py:2784-2832): WordPiece-style
    // likelihood-scored merges — count(l,r)/(count(l)·count(r)) argmax —
    // replayed step-for-step by the SQL oracle. The score doubles are
    // bit-identical across engines (one multiply + one divide of exact
    // integer counts), so they are emitted UNROUNDED.
    "q_wp_merges" -> ((s, d) => {
      import s.implicits._
      val (merges, _, release) = PhraseVocab.trainWordPiece(tokenDocs(s, d), WpMerges)
      release()
      merges.toDF("step", "left", "right", "count", "score", "merged").orderBy("step")
    }),

    // E3 third trainer (completing the reference's BPE/Unigram/WordPiece
    // trio, midi_tokenizer.py:2784-2832): Unigram-style EM — each iteration
    // segments the WHOLE corpus under the current unigram model (E-step:
    // fuse every positive-PMI adjacent pair, cnt(l,r)·N > cnt(l)·cnt(r),
    // leftmost-non-overlapping, top-100 candidates by (cnt desc, l, r))
    // then re-estimates frequencies from the segmentation (M-step). The
    // fuse decision is pure int64 arithmetic, so the oracle replays the
    // full 3-iteration chain exactly; the output is the final segmented
    // corpus's unit table. Unlike BPE/WordPiece's one-pair-per-step argmax
    // this is a mass-update EM cycle — a different aggregation pattern.
    "q_unigram_vocab" -> ((s, d) => {
      import s.implicits._
      val (_, finalDocs, release) = PhraseVocab.trainUnigram(tokenDocs(s, d), UniIters, UniCap)
      // unit table is vocab-sized (≤ base vocab + iters·cap learned units),
      // collected like the merge tables so the cached corpus can be released
      val vocab = finalDocs.flatMap { case (_, ts) => ts.iterator }
        .toDF("term").groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term"))
        .as[(String, Long)].collect().toSeq
      release()
      vocab.toDF("term", "cnt")
    }),

    // A6: token-type frequency index — invert the dictionary into
    // type → [ids] (type = first character class here; the reference
    // groups vocab ids by token type, midi_tokenizer.py:2151-2169)
    "q_a6_type_index" -> ((s, d) => {
      val h = IndexCache.handle(s, d)
      h.dictionary.toDF()
        .withColumn("tok_type",
          when(col("term").rlike("^[0-9]"), lit("num")).otherwise(substring(col("term"), 1, 1)))
        .groupBy("tok_type")
        .agg(array_join(array_sort(collect_list(col("termId"))), ",").as("term_ids"),
          count(lit(1)).as("n"))
        .orderBy("tok_type")
    }),

    // U4-extra: conjunctive (AND) retrieval = posting-list intersection,
    // answered FROM the compressed index by Wand.matching with every term
    // required: each bucket's match set gallops over the required terms'
    // decoded lists, rarest first, and only intersection hits leave the
    // bucket, so the rows are result-bounded — never a groupBy(query, doc)
    // over a stopword term's full postings
    "q_bool_and" -> ((s, d) => {
      val h = IndexCache.handle(s, d)
      val qs = QuerySet.queries.filter(_.terms.size > 1)
      Wand.matching(h, qs.map(q => q.copy(constraints = Wand.Constraints(q.terms))))
        .orderBy("query_id", "doc_id")
    }),

    // U3/U4 over the index: AND-NOT (negation) — the positives required,
    // the negatives excluded, both checked per bucket in the same pass
    "q_bool_andnot" -> ((s, d) => {
      val h = IndexCache.handle(s, d)
      Wand.matching(h, AndNotQueries.map { case (qid, pos, neg) =>
        QuerySpec(qid, pos, constraints = Wand.Constraints(pos, neg)) })
        .orderBy("query_id", "doc_id")
    }),

    // Spell correction over the dictionary, edit distance <= 1, WITHOUT a
    // UDF and WITHOUT a vocab x queries cross product: SymSpell-style
    // deletion-neighborhood candidate join — every term explodes into
    // {term} ∪ del1(term) keys via a codegen'd transform/sequence lambda
    // (linear in vocab, ~|term|+1 rows each), the query side broadcasts,
    // and the equality join yields a provably COMPLETE ed<=1 candidate
    // superset (deletion/insertion/substitution all share a deletion key),
    // verified exactly by the built-in levenshtein expression. At a 100M
    // -term vocabulary this is a broadcast hash join over ~10^9 short keys
    // vs the 5x10^8-per-query scan a naive levenshtein filter would cost.
    "q_spell" -> ((s, d) => {
      val h = IndexCache.handle(s, d)
      import s.implicits._
      // the needles' keys by code point, like the Catalyst side below
      val qkeys = SpellQueries
        .flatMap(q => IndexHandle.deletionKeys(q).map(k => (q, k)))
        .toDF("q_term", "key")
      // del1(term) as a pure Catalyst lambda — delete 0-based position i =
      // substr(1..i) || substr(i+2..end); codegen'd, no UDF
      val delKeys = transform(
        sequence(lit(0), length(col("term")) - lit(1)),
        i => concat(col("term").substr(lit(1), i),
          col("term").substr(i + lit(2), length(col("term")))))
      val dictKeys = h.dictionary.toDF()
        .filter(length(col("term")) > 0)
        .select(col("term"), col("df"),
          explode(array_distinct(concat(array(col("term")), delKeys))).as("key"))
      dictKeys
        .join(broadcast(qkeys), "key")
        .select(col("q_term"), col("term"), col("df"))
        .distinct()
        .filter(levenshtein(col("q_term"), col("term")) <= 1) // exact verify
        .orderBy(col("q_term"), col("df").desc, col("term"))
    }),

    // Search-box autocomplete: per prefix, the top-k dictionary terms by
    // document frequency. The StartsWith predicate pushes to the parquet
    // dictionary scan, but the dictionary is clustered by termId (df
    // order), so a file's term range spans nearly the whole alphabet and
    // the pushdown skips almost no file.
    "q_autocomplete" -> ((s, d) => {
      val h = IndexCache.handle(s, d)
      val dict = h.dictionary.toDF()
      AutocompletePrefixes.map { p =>
        dict.filter(col("term").startsWith(p))
          .orderBy(col("df").desc, col("term"))
          .limit(AutocompleteK)
          .select(lit(p).as("prefix"), col("term"), col("df"))
      }.reduce(_ unionByName _)
        .orderBy(col("prefix"), col("df").desc, col("term"))
    }),

    // Faceted search: per conjunctive query, matching-doc counts by lang —
    // the SERP facet panel. Hits come from the result-bounded AND match
    // set of q_bool_and; the lang lookup is a pruned (doc_id, lang) scan
    // joined on the hit set, so facet cost is O(results).
    "q_facet_lang" -> ((s, d) => {
      val h = IndexCache.handle(s, d)
      val qs = QuerySet.queries.filter(_.terms.size > 1)
      val hits = Wand.matching(h, qs.map(q => q.copy(constraints = Wand.Constraints(q.terms))))
      val langs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
      hits.join(langs, "doc_id")
        .groupBy("query_id", "lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("query_id", "lang")
    }),

    // U1 over the index: OR (disjunctive) retrieval — the bare query's
    // match set, each bucket's deduped union of the terms' decoded lists;
    // OOV terms are ignored (QuerySet query 4) and an all-OOV query is empty
    "q_bool_or" -> ((s, d) => {
      val h = IndexCache.handle(s, d)
      Wand.matching(h, QuerySet.queries.filter(_.terms.size > 1))
        .orderBy("query_id", "doc_id")
    })
  )

  /** Chained CTEs replaying `n` BPE merges in pure SQL. Step k reads
    * s{k-1}(doc_id, pos, term) and emits s{k}, picking its own argmax pair
    * b{k}. Greedy leftmost-non-overlapping rewrite: mark matches (term=l ∧
    * next=r), group runs of consecutive matches, take alternate members
    * starting at the first (only l==r pairs can actually run), drop the row
    * after each taken one. */
  private def bpeReplaySql(n: Int): String = replaySql(n, wordPiece = false)

  private def replaySql(n: Int, wordPiece: Boolean): String = {
    // AS MATERIALIZED everywhere: DuckDB otherwise inlines the chained
    // CTEs, re-scanning the base table exponentially many times
    val sb = new StringBuilder("s0 AS MATERIALIZED (SELECT doc_id, pos, term FROM tok)")
    for (k <- 1 to n) {
      val p = k - 1
      val argmax =
        if (!wordPiece)
          s"""b$k AS MATERIALIZED (SELECT l, r, cnt FROM pk$k ORDER BY cnt DESC, l, r LIMIT 1),"""
        else
          // likelihood score: exact-int counts cast to DOUBLE, one multiply
          // + one divide — bit-identical to the Scala trainer's doubles
          s"""u$k AS MATERIALIZED (SELECT term, count(*) AS c FROM s$p GROUP BY term),
             |b$k AS MATERIALIZED (
             |  SELECT p.l, p.r, p.cnt,
             |         CAST(p.cnt AS DOUBLE) / (CAST(ul.c AS DOUBLE) * CAST(ur.c AS DOUBLE)) AS score
             |  FROM pk$k p JOIN u$k ul ON ul.term = p.l JOIN u$k ur ON ur.term = p.r
             |  WHERE p.cnt >= 2
             |  ORDER BY score DESC, p.l, p.r LIMIT 1
             |),""".stripMargin
      sb.append(s""",
         |pk$k AS MATERIALIZED (
         |  SELECT term AS l, nxt AS r, count(*) AS cnt
         |  FROM (SELECT term, lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM s$p)
         |  WHERE nxt IS NOT NULL GROUP BY term, nxt
         |),
         |$argmax
         |m$k AS MATERIALIZED (
         |  SELECT doc_id, pos, term,
         |         coalesce(term = (SELECT l FROM b$k)
         |                  AND lead(term) OVER (PARTITION BY doc_id ORDER BY pos) = (SELECT r FROM b$k),
         |                  FALSE) AS mt,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
         |  FROM s$p
         |),
         |g$k AS MATERIALIZED (
         |  SELECT doc_id, pos, term, mt, rn,
         |         CASE WHEN mt THEN rn - row_number() OVER (PARTITION BY doc_id, mt ORDER BY rn) END AS grp
         |  FROM m$k
         |),
         |t$k AS MATERIALIZED (
         |  SELECT doc_id, pos, term, rn,
         |         mt AND (row_number() OVER (PARTITION BY doc_id, grp ORDER BY rn) % 2 = 1) AS taken
         |  FROM g$k
         |),
         |s$k AS MATERIALIZED (
         |  SELECT doc_id, pos,
         |         CASE WHEN taken THEN (SELECT l FROM b$k) || '_' || (SELECT r FROM b$k) ELSE term END AS term
         |  FROM (SELECT doc_id, pos, term, taken,
         |               coalesce(lag(taken) OVER (PARTITION BY doc_id ORDER BY rn), FALSE) AS prev_taken
         |        FROM t$k)
         |  WHERE NOT prev_taken
         |)""".stripMargin)
    }
    sb.toString
  }

  /** Chained CTEs replaying `n` Unigram-EM iterations. Step k reads
    * s{k-1}(doc_id, pos, term): q{k} is the qualifying-pair set (positive
    * PMI by exact integer comparison, top-`cap`), and the rewrite fuses
    * EVERY qualifying adjacent pair leftmost-non-overlapping — the same
    * alternating-take machinery as the BPE replay, but the match mark and
    * the merged unit are per-ROW (LEFT JOIN against q{k}) instead of one
    * global argmax pair. */
  private def unigramReplaySql(n: Int, cap: Int): String = {
    val sb = new StringBuilder("s0 AS MATERIALIZED (SELECT doc_id, pos, term FROM tok)")
    for (k <- 1 to n) {
      val p = k - 1
      sb.append(s""",
         |u$k AS MATERIALIZED (SELECT term, count(*) AS c FROM s$p GROUP BY term),
         |n$k AS MATERIALIZED (SELECT CAST(sum(c) AS BIGINT) AS total FROM u$k),
         |pk$k AS MATERIALIZED (
         |  SELECT term AS l, nxt AS r, count(*) AS cnt
         |  FROM (SELECT term, lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM s$p)
         |  WHERE nxt IS NOT NULL GROUP BY term, nxt
         |),
         |q$k AS MATERIALIZED (
         |  SELECT pp.l, pp.r FROM pk$k pp
         |  JOIN u$k ul ON ul.term = pp.l
         |  JOIN u$k ur ON ur.term = pp.r
         |  CROSS JOIN n$k
         |  WHERE pp.cnt >= 2 AND pp.cnt * n$k.total > ul.c * ur.c
         |  ORDER BY pp.cnt DESC, pp.l, pp.r LIMIT $cap
         |),
         |m$k AS MATERIALIZED (
         |  SELECT b.doc_id, b.pos, b.term, b.nxt,
         |         (qk.l IS NOT NULL) AS mt, b.rn
         |  FROM (SELECT doc_id, pos, term,
         |               lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
         |               row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
         |        FROM s$p) b
         |  LEFT JOIN q$k qk ON qk.l = b.term AND qk.r = b.nxt
         |),
         |g$k AS MATERIALIZED (
         |  SELECT doc_id, pos, term, nxt, mt, rn,
         |         CASE WHEN mt THEN rn - row_number() OVER (PARTITION BY doc_id, mt ORDER BY rn) END AS grp
         |  FROM m$k
         |),
         |t$k AS MATERIALIZED (
         |  SELECT doc_id, pos, term, nxt, rn,
         |         mt AND (row_number() OVER (PARTITION BY doc_id, grp ORDER BY rn) % 2 = 1) AS taken
         |  FROM g$k
         |),
         |s$k AS MATERIALIZED (
         |  SELECT doc_id, pos,
         |         CASE WHEN taken THEN term || '_' || nxt ELSE term END AS term
         |  FROM (SELECT doc_id, pos, term, nxt, taken,
         |               coalesce(lag(taken) OVER (PARTITION BY doc_id ORDER BY rn), FALSE) AS prev_taken
         |        FROM t$k)
         |  WHERE NOT prev_taken
         |)""".stripMargin)
    }
    sb.toString
  }

  private val bpeCorpusCte =
    """corpus AS (
      |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0
      |),
      |tok AS MATERIALIZED (
      |  SELECT doc_id,
      |         unnest(string_split(lower(text), ' ')) AS term,
      |         unnest(generate_series(1, len(string_split(lower(text), ' ')))) AS pos
      |  FROM corpus
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_bpe_merges" -> {
      val n = MergedIndexCache.NumMerges
      val recs = (1 to n).map(k =>
        s"""SELECT CAST(${k - 1} AS INTEGER) AS step, l AS "left", r AS "right", cnt AS "count", l || '_' || r AS merged FROM b$k""")
        .mkString("\nUNION ALL\n")
      s"""WITH $bpeCorpusCte,
         |${bpeReplaySql(n)}
         |SELECT * FROM ($recs) ORDER BY step""".stripMargin
    },
    "q_wp_merges" -> {
      val n = WpMerges
      val recs = (1 to n).map(k =>
        s"""SELECT CAST(${k - 1} AS INTEGER) AS step, l AS "left", r AS "right", cnt AS "count", score, l || '_' || r AS merged FROM b$k""")
        .mkString("\nUNION ALL\n")
      s"""WITH $bpeCorpusCte,
         |${replaySql(n, wordPiece = true)}
         |SELECT * FROM ($recs) ORDER BY step""".stripMargin
    },
    "q_merged_dict" -> {
      val n = MergedIndexCache.NumMerges
      s"""WITH $bpeCorpusCte,
         |${bpeReplaySql(n)},
         |tfm AS (SELECT doc_id, term, count(*) AS tf FROM s$n GROUP BY doc_id, term),
         |dftm AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM tfm GROUP BY term)
         |SELECT CAST(row_number() OVER (ORDER BY df DESC, term) - 1 AS INTEGER) AS term_id,
         |       term, df, cf
         |FROM dftm ORDER BY term_id""".stripMargin
    },
    "q_autocomplete" -> {
      val per = AutocompletePrefixes.map { p =>
        s"""(SELECT '$p' AS prefix, term, df FROM dft
           |WHERE term LIKE '$p%' ORDER BY df DESC, term LIMIT $AutocompleteK)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0
         |),
         |tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM corpus),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
         |SELECT * FROM ($per) ORDER BY prefix, df DESC, term""".stripMargin
    },
    "q_facet_lang" -> {
      val multi = QuerySet.queries.filter(_.terms.size > 1)
      val vals = multi.flatMap(q => q.terms.distinct.map(t => s"(${q.queryId},'$t')")).mkString(", ")
      val sizes = multi.map(q => s"(${q.queryId},${q.terms.distinct.size})").mkString(", ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0
         |),
         |tok AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM corpus),
         |q(query_id, term) AS (VALUES $vals),
         |qs(query_id, n_terms) AS (VALUES $sizes),
         |hits AS (
         |  SELECT q.query_id, t.doc_id
         |  FROM q JOIN tok t ON t.term = q.term
         |  GROUP BY q.query_id, t.doc_id
         |  HAVING count(DISTINCT q.term) = (SELECT n_terms FROM qs WHERE qs.query_id = q.query_id)
         |)
         |SELECT h.query_id, d.lang, count(*) AS n_docs
         |FROM hits h JOIN documents d ON d.doc_id = h.doc_id
         |GROUP BY h.query_id, d.lang
         |ORDER BY query_id, lang""".stripMargin
    },
    "q_spell" -> {
      val vals = SpellQueries.map(t => s"('$t')").mkString(", ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0
         |),
         |tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM corpus),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         |dft AS (SELECT term, count(*) AS df FROM tf WHERE length(term) > 0 GROUP BY term)
         |SELECT q.q_term, d.term, d.df
         |FROM (VALUES $vals) q(q_term)
         |JOIN dft d ON levenshtein(q.q_term, d.term) <= 1
         |ORDER BY q.q_term, d.df DESC, d.term""".stripMargin
    },
    "q_unigram_vocab" ->
      s"""WITH $bpeCorpusCte,
         |${unigramReplaySql(UniIters, UniCap)}
         |SELECT term, count(*) AS cnt FROM s$UniIters GROUP BY term
         |ORDER BY cnt DESC, term""".stripMargin,
    "q_a6_type_index" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0
        |),
        |tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM corpus),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |dict AS (SELECT term, row_number() OVER (ORDER BY df DESC, term) - 1 AS term_id FROM dft)
        |SELECT CASE WHEN regexp_matches(term, '^[0-9]') THEN 'num' ELSE substr(term, 1, 1) END AS tok_type,
        |       string_agg(term_id, ',' ORDER BY term_id) AS term_ids, count(*) AS n
        |FROM dict GROUP BY 1 ORDER BY tok_type""".stripMargin,
    "q_bpe_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0
        |),
        |tok AS (
        |  SELECT doc_id,
        |         unnest(string_split(lower(text), ' ')) AS term,
        |         unnest(generate_series(1, len(string_split(lower(text), ' ')))) AS pos
        |  FROM corpus
        |),
        |pairs AS (
        |  SELECT a.term AS "left", b.term AS "right"
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |)
        |SELECT "left", "right", count(*) AS cnt FROM pairs GROUP BY "left", "right"
        |ORDER BY cnt DESC, "left", "right" LIMIT 100""".stripMargin,
    "q_bool_and" -> {
      val multi = QuerySet.queries.filter(_.terms.size > 1)
      val vals = multi.flatMap(q => q.terms.distinct.map(t => s"(${q.queryId},'$t')")).mkString(", ")
      val sizes = multi.map(q => s"(${q.queryId},${q.terms.distinct.size})").mkString(", ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0
         |),
         |tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM corpus),
         |q(query_id, term) AS (VALUES $vals),
         |qs(query_id, n_terms) AS (VALUES $sizes)
         |SELECT q.query_id, t.doc_id
         |FROM q JOIN (SELECT DISTINCT doc_id, term FROM tok) t ON t.term = q.term
         |GROUP BY q.query_id, t.doc_id
         |HAVING count(DISTINCT q.term) = (SELECT n_terms FROM qs WHERE qs.query_id = q.query_id)
         |ORDER BY query_id, doc_id""".stripMargin
    },
    "q_bool_andnot" -> {
      val pos = AndNotQueries.flatMap { case (qid, ps, _) =>
        ps.distinct.map(t => s"($qid,'$t')")
      }.mkString(", ")
      val sizes = AndNotQueries.map { case (qid, ps, _) => s"($qid,${ps.distinct.size})" }.mkString(", ")
      val neg = AndNotQueries.flatMap { case (qid, _, ns) =>
        ns.distinct.map(t => s"($qid,'$t')")
      }.mkString(", ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0
         |),
         |tok AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM corpus),
         |p(query_id, term) AS (VALUES $pos),
         |ps(query_id, n_terms) AS (VALUES $sizes),
         |neg(query_id, term) AS (VALUES $neg),
         |hits AS (
         |  SELECT p.query_id, t.doc_id
         |  FROM p JOIN tok t ON t.term = p.term
         |  GROUP BY p.query_id, t.doc_id
         |  HAVING count(DISTINCT p.term) = (SELECT n_terms FROM ps WHERE ps.query_id = p.query_id)
         |)
         |SELECT h.query_id, h.doc_id FROM hits h
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM neg JOIN tok t2 ON t2.term = neg.term
         |  WHERE neg.query_id = h.query_id AND t2.doc_id = h.doc_id
         |)
         |ORDER BY query_id, doc_id""".stripMargin
    },
    "q_bool_or" -> {
      val multi = QuerySet.queries.filter(_.terms.size > 1)
      val vals = multi.flatMap(q => q.terms.distinct.map(t => s"(${q.queryId},'$t')")).mkString(", ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0
         |),
         |tok AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM corpus),
         |q(query_id, term) AS (VALUES $vals)
         |SELECT DISTINCT q.query_id, t.doc_id
         |FROM q JOIN tok t ON t.term = q.term
         |ORDER BY query_id, doc_id""".stripMargin
    }
  )
}
