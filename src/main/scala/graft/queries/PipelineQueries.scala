package graft.queries

import graft.pipeline._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators as driver-facing queries: text analysis
  * (language-ID, quality, token counts, fingerprint), multimodal feature
  * plumbing, dedup family (exact, MinHash+LSH, SimHash, n-gram Jaccard),
  * and embedding similarity (brute-force cosine, near-dup pairs, LSH ANN).
  *
  * Every hash used is integer arithmetic over code points, replicated
  * bit-for-bit by the DuckDB oracles (constants injected from the same
  * Scala arrays — single source of truth). */
object PipelineQueries {

  private def docs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")
      .filter(col("text").isNotNull && length(col("text")) > 0)

  /** Corpus term stream for the CMS queries (== the oracle's tok CTE). */
  private def cmsTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d).select(col("text")).as[String]
      .flatMap(graft.tokenize.Tokenizers.default.terms(_))
      .toDF("term")
  }

  /** Fixture query terms (incl. OOV) whose CMS estimates are oracle-checked. */
  private val CmsTerms: Seq[String] =
    QuerySet.queries.flatMap(_.terms).distinct.sorted

  /** q_pmi_pairs' min document frequency — terms below it never enter the
    * pair self-join (fanout bound; mirrored in the oracle SQL). */
  final val PmiMinDf = 3L

  /** q_augment's rotation-offset grid (one augmented copy per doc per
    * offset — the data_augmentation.py offset-grid shape). */
  final val AugOffsets: Seq[Int] = Seq(1, 3, 7)

  /** q_dedup_incremental's batch docId offset (batch = planted copies of
    * every 7th corpus doc at doc_id + this). */
  final val IncrementalPlantBase = 1000000L

  /** Window width (tokens) for the substring-dedup driver queries — small
    * enough that the toy fixtures exercise span merging; the API default
    * is [[SubstringDedup.DefaultWindow]] (50, the published web-scale
    * operating point). Mirrored verbatim in the oracle SQL. */
  final val SubstrWindow = 8

  /** PMI pair enumeration with the min-df filter pushed BELOW the self-join:
    * a doc's pair fanout is quadratic in its distinct ELIGIBLE terms only. */
  def pmiPairs(toks: DataFrame, dfs: DataFrame, minDf: Long): DataFrame = {
    val eligible = toks.join(
      dfs.filter(col("df") >= minDf).select("term"), Seq("term"), "left_semi")
    eligible
      .join(eligible.select(col("doc_id").as("doc_b"), col("term").as("term_b")),
        col("doc_id") === col("doc_b") && col("term") < col("term_b"))
      .groupBy(col("term").as("term_a"), col("term_b"))
      .agg(count(lit(1)).as("n_ab"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Word-association mining: pointwise mutual information over unordered
    // presence pairs (a<b) within a doc — pmi = ln(p(a,b)/(p(a)p(b))).
    // Scale shape: per-doc distinct terms from a map-side flatMap, the pair
    // enumeration is a doc_id equi-join whose output IS the co-occurrence
    // matrix (inherent to the operator), counts aggregate with map-side
    // partials, and the two df joins are vocab-sized (AQE broadcasts them).
    // FANOUT BOUND: the min-df filter is pushed BEFORE the self-join — a
    // pathological doc with 10k hapax terms would otherwise emit 5·10^7
    // pairs by itself; rare terms carry no usable association statistics
    // anyway (every real PMI pipeline thresholds df). Mirrored in the
    // oracle; PipelineSpec pins the bounded-fanout behavior on a long-doc
    // fixture.
    "q_pmi_pairs" -> ((s, d) => {
      import s.implicits._
      val base = docs(s, d)
      val n = base.count()
      // three consumers (both self-join sides + the df agg): materialize
      // the tokenization once (GC-reclaimed localCheckpoint, the repo's
      // multi-consumer pattern) instead of re-tokenizing per consumer
      val toks = base.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          graft.tokenize.Tokenizers.default.terms(t).distinct.map(term => (id, term))
        }
        .toDF("doc_id", "term")
        .localCheckpoint(true)
      // vocab-sized, consumed three times (min-df filter + both pmi df
      // joins) — materialize once like the token relation above
      val dfs = toks.groupBy("term").agg(count(lit(1)).as("df"))
        .localCheckpoint(true)
      val pairs = pmiPairs(toks, dfs, PmiMinDf)
      pairs
        .join(dfs.select(col("term").as("term_a"), col("df").as("df_a")), "term_a")
        .join(dfs.select(col("term").as("term_b"), col("df").as("df_b")), "term_b")
        .select(col("term_a"), col("term_b"), col("n_ab"),
          // ln differs from DuckDB's libm in the last ulp on ~3% of inputs,
          // so pmi is rounded to 6 dp (transcendental outputs never land on
          // exact decimal halves, unlike the dyadic-rational gotcha)
          round(log((col("n_ab").cast("double") * lit(n).cast("double")) /
            (col("df_a").cast("double") * col("df_b").cast("double"))), 6).as("pmi"))
        .orderBy("term_a", "term_b")
    }),

    "q_text_quality" -> ((s, d) =>
      TextAnalysis.qualityFeatures(docs(s, d).select(col("doc_id"), col("text")), col("text"))
        .drop("text").orderBy("doc_id")),

    "q_lang_id" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    "q_token_counts" -> ((s, d) =>
      TextAnalysis.tokenCounts(docs(s, d).select(col("doc_id"), col("text")), col("text"))
        .drop("text").orderBy("doc_id")),

    "q_fingerprint" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    "q_multimodal_features" -> ((s, d) => {
      import s.implicits._
      Multimodal.extractFeatures(Multimodal.mediaRows(s, d))
        .toDF()
        .select(col("id"), col("modality"), col("payloadLen").as("payload_len"),
          col("nChunks").as("n_chunks"), col("firstByte").as("first_byte"),
          col("byteChecksum").as("byte_checksum"))
        .orderBy("id")
    }),

    // frame sampling over opaque payloads (the video-shaped operator):
    // 64-byte frames, every 4th kept, per-frame byte checksum
    "q_multimodal_frames" -> ((s, d) => {
      import s.implicits._
      Multimodal.sampleFrames(Multimodal.mediaRows(s, d))
        .toDF()
        .select(col("id"), col("frameIdx").as("frame_idx"),
          col("frameLen").as("frame_len"), col("frameChecksum").as("frame_checksum"))
        .orderBy("id", "frame_idx")
    }),

    "q_dedup_exact" -> ((s, d) =>
      Dedup.exactDupGroups(s.read.parquet(s"$d/documents.parquet"))
        .orderBy("text_hash")),

    "q_minhash_sig" -> ((s, d) => {
      import s.implicits._
      Dedup.signatures(s, d)
        .filter(_.nShingles > 0)
        .flatMap(x => x.sig.zipWithIndex.map { case (m, i) => (x.docId, i, m) })
        .toDF("doc_id", "h_idx", "minhash")
        .orderBy("doc_id", "h_idx")
    }),

    "q_simhash" -> ((s, d) => {
      import s.implicits._
      Dedup.signatures(s, d)
        .map(x => (x.docId, x.nShingles, x.simhash))
        .toDF("doc_id", "n_shingles", "simhash")
        .orderBy("doc_id")
    }),

    "q_lsh_pairs" -> ((s, d) => {
      val cands = Dedup.lshCandidates(Dedup.signatures(s, d))
      Dedup.jaccardVerify(s, d, cands)
        .filter(col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // INCREMENTAL dedup — the production shape: the corpus's LSH band
    // index is persisted ONCE (the dedup sibling of the inverted index),
    // and each new batch is signed with one map pass over ITSELF and
    // probed against the saved index; the corpus is never re-signed. The
    // batch here is a deterministic planted near-dup slice ("copy "-
    // prefixed every-7th doc at id+1e6, replicated in SQL); candidates
    // verify with exact candidate-bounded Jaccard. Oracle recomputes both
    // sides' full MinHash/LSH/Jaccard pipeline from raw text.
    "q_dedup_incremental" -> ((s, d) => {
      val corpus = docs(s, d).select(col("doc_id"), col("text"))
      val batch = corpus.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + lit(IncrementalPlantBase)).as("doc_id"),
          concat(lit("copy "), col("text")).as("text"))
      val idxDir = s"/tmp/graft_lsh_index/${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      graft.queries.IndexCache.deleteRecursively(idxDir)
      Dedup.writeLshIndex(Dedup.signaturesOf(corpus), idxDir)
      val cands = Dedup.probeLshIndex(s, idxDir, Dedup.signaturesOf(batch))
      val pairs = cands.select(col("corpus_doc").as("doc_a"), col("batch_doc").as("doc_b"))
      val allDocs = corpus.unionByName(batch)
      Dedup.jaccardVerify(s, d, pairs, shingles0 = Some(Dedup.shinglesOf(allDocs)))
        .filter(col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // EXACT n-gram Jaccard >= 0.5 with NO all-pairs join: prefix-filtered
    // candidate generation (rarest-shingle prefixes, provably lossless at
    // the threshold) + candidate-bounded verify. The oracle below is the
    // all-pairs SQL, so exactness is hash-asserted on every gate run.
    "q_ngram_jaccard" -> ((s, d) => {
      // one tokenize pass shared by candidate generation AND verify
      val sh = Dedup.shingles(s, d).localCheckpoint(true)
      val pairs = Dedup.prefixFilterPairs(s, d, 0.5, shingles0 = Some(sh))
      Dedup.jaccardVerify(s, d, pairs, shingles0 = Some(sh))
        .filter(col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    "q_ann_brute" -> ((s, d) =>
      Similarity.bruteForceTopK(Similarity.embeddings(s, d), 0L until 10L, 5)),

    // the LSH-bucketed near-dup path IS the driver-facing query (bucket
    // self-join candidates + exact rerank, sub-cartesian); the exact SQL
    // oracle below computes the same pairs the slow way, so recall 1.0 is
    // hash-asserted on every gate run, not just claimed
    "q_cosine_neardup" -> ((s, d) =>
      Similarity.lshNearDupPairs(
          Similarity.withPlantedNearDups(Similarity.embeddings(s, d)), 0.99)
        .orderBy("id_a", "id_b")),

    // approximate by design → no SQL oracle; recall ≥ 0.9 asserted in tests
    "q_ann_lsh" -> ((s, d) =>
      Similarity.annTopK(Similarity.embeddings(s, d), 0L until 10L, 5)),

    // PQ + ADC: the compressed-domain ANN scale path (vectors stored as
    // PqM byte codes ≈ 64× smaller; candidates scored by table lookups
    // over codes, exact rerank on the survivors). Approximate →
    // rows-only driver check; recall ≥ 0.9 gated in PqSpec at two scales
    // (measured 1.0 at both).
    "q_ann_pq" -> ((s, d) =>
      Similarity.annTopKPQ(Similarity.embeddings(s, d), 0L until 10L, 5)),

    // Count-Min sketch (the deterministic-seed construction makes BOTH the
    // sketch grid and the point estimates hash-assertable against SQL —
    // one explode + one partial+final agg into Depth×Width cells)
    "q_cms_sketch" -> ((s, d) =>
      Sketches.countMin(cmsTokens(s, d), col("term")).orderBy("row", "bucket")),

    // point estimates for the fixture query terms (incl. OOV): the CMS
    // overcount guarantee (estimate >= true cf) is oracle-visible
    "q_cms_estimate" -> ((s, d) => {
      val toks = cmsTokens(s, d).localCheckpoint(true) // sketch + truth reuse
      val est = Sketches.estimate(s, Sketches.countMin(toks, col("term")), CmsTerms)
      val cf = toks.groupBy("term").agg(count(lit(1)).as("cf"))
      est.join(cf, Seq("term"), "left_outer")
        .na.fill(0L, Seq("cf"))
        .select(col("term"), col("cf"), col("cms_estimate"))
        .orderBy("term")
    }),

    // Corpus-level augmentation generator (the reference's offset-grid
    // data augmentation, data_augmentation.py:27-183,246-506: one
    // deterministic transformed copy per (doc, grid offset)). Text analog:
    // token ROTATION by each grid offset — lossless, deterministic, and
    // SQL-replicable, so every augmented copy is oracle-checked by its
    // rolling-hash fingerprint. Pure codegen column ops (split / slice /
    // explode / native rolling_hash), zero UDFs; the docs × offsets grid
    // is a flatMap (Generate), shuffle-free until the final sort.
    "q_augment" -> ((s, d) => {
      val offsets = array(AugOffsets.map(lit): _*)
      docs(s, d)
        .select(col("doc_id"), split(lower(col("text")), " ").as("a"))
        .withColumn("aug_offset", explode(offsets))
        .withColumn("n_tokens", size(col("a")))
        .withColumn("r", pmod(col("aug_offset"), col("n_tokens")))
        .withColumn("aug",
          concat(slice(col("a"), col("r") + lit(1), col("n_tokens") - col("r")),
            slice(col("a"), lit(1), col("r"))))
        .select(col("doc_id"), col("aug_offset"), col("n_tokens"),
          TextAnalysis.fingerprint(array_join(col("aug"), " ")).as("fp"))
        .orderBy("doc_id", "aug_offset")
    }),

    // Substring-level exact dedup (the "dedup the substrings" operator):
    // maximal merged spans of w-token windows occurring > once in the
    // corpus. Rolling 64-bit window hash -> count>1 hash set -> candidate
    // windows -> content-verified -> per-doc gaps-and-islands merge; the
    // oracle re-derives everything from window content strings, so the
    // engine's hash is a pure pruning device.
    "q_substring_spans" -> ((s, d) =>
      SubstringDedup.duplicatedSpans(SubstringDedup.tokenArrays(docs(s, d)), SubstrWindow)
        .orderBy("doc_id", "span_start")),

    // Aggressive substring scrub: every duplicated span removed from the
    // normalized token stream; one row per doc with the surviving text.
    "q_substring_scrub" -> ((s, d) =>
      SubstringDedup.scrub(SubstringDedup.tokenArrays(docs(s, d)), SubstrWindow)
        .orderBy("doc_id")),

    // dedup GROUPS from near-dup pairs: exact connected components by
    // distributed min-label propagation; component = keep-min canonical
    // representative. Oracle: recursive-CTE transitive closure over the
    // same exact pair set.
    "q_dedup_groups" -> ((s, d) => {
      val pairs = Similarity.lshNearDupPairs(
        Similarity.withPlantedNearDups(Similarity.embeddings(s, d)), 0.99)
      Components.connectedComponents(pairs.select("id_a", "id_b"))
        .select(col("id").as("vec_id"), col("component"))
        .orderBy("vec_id")
    })
  )

  // ------------------------------------------------------------------ SQL

  private val tokCte =
    """corpus AS (
      |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0
      |),
      |tok AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM corpus
      |)""".stripMargin

  /** terms-array + trigram-shingle-id CTEs (rolling hash, distinct). */
  private val shingleCte =
    """corpus AS (
      |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0
      |),
      |terms AS (SELECT doc_id, string_split(lower(text), ' ') AS a FROM corpus),
      |grams AS (
      |  SELECT doc_id,
      |         unnest(list_transform(generate_series(1, len(a) - 2),
      |                i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS g
      |  FROM terms WHERE len(a) >= 3
      |),
      |shingle AS (
      |  SELECT DISTINCT doc_id,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(g, ''), x -> ascii(x))),
      |                     (h, c) -> (h * 31 + c) % 1000000007) AS sid
      |  FROM grams
      |)""".stripMargin

  private def stopList(lang: String): String =
    TextAnalysis.stoplists.toMap.apply(lang).map(t => s"'$t'").mkString(", ")

  private val minhashValues: String =
    Dedup.coeffs.zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}, ${b})" }
      .mkString(", ")

  /** Shared planted-near-dup cosine-pair CTE chain, ending in
    * `p(id_a, id_b, cos)` over ALL pairs (exact cartesian — oracle-side
    * only). */
  private val cosinePairsCte: String =
    """e0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings
        |),
        |jit AS (
        |  SELECT base_id + 1000000 AS vec_id,
        |         list_transform(generate_series(1, len(emb)),
        |           i -> emb[i] * (1.0 + (CAST((31 * base_id + (i - 1)) % 7 AS DOUBLE) - 3.0) / 1000.0)) AS emb
        |  FROM (SELECT vec_id AS base_id, emb FROM e0 WHERE vec_id % 10 = 0)
        |),
        |e AS (SELECT vec_id, emb FROM e0 UNION ALL SELECT vec_id, emb FROM jit),
        |p AS (
        |  -- strict left-fold sums (list_reduce) replicate Spark's
        |  -- aggregate() addend order bit-for-bit; list_sum may reorder
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         round(
        |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |               list_transform(generate_series(1, len(a.emb)), i -> a.emb[i] * b.emb[i])),
        |             (acc, x) -> acc + x)
        |           / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |                 list_transform(a.emb, x -> x * x)), (acc, x) -> acc + x))
        |              * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |                  list_transform(b.emb, x -> x * x)), (acc, x) -> acc + x))), 4) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |)""".stripMargin

  /** Duplicated-window CTE chain shared by the substring-dedup oracles:
    * w-token windows keyed by their CONTENT string, occurrence count > 1,
    * then the per-doc gaps-and-islands grouping (`grp` has one row per
    * duplicated window with its merge-group id `g`). */
  private val substrDupWindowsCte: String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0
       |),
       |toksl AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM corpus),
       |wins AS (
       |  SELECT doc_id, unnest(generate_series(1, len(ts) - $SubstrWindow + 1)) AS start, ts
       |  FROM toksl WHERE len(ts) >= $SubstrWindow
       |),
       |keyed AS (
       |  SELECT doc_id, start,
       |         array_to_string(list_slice(ts, start, start + $SubstrWindow - 1), ' ') AS k
       |  FROM wins
       |),
       |dup AS (SELECT k FROM keyed GROUP BY k HAVING count(*) > 1),
       |dw AS (SELECT doc_id, start FROM keyed WHERE k IN (SELECT k FROM dup)),
       |seq AS (
       |  SELECT doc_id, start, lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS pstart
       |  FROM dw
       |),
       |grp AS (
       |  SELECT doc_id, start,
       |         sum(CASE WHEN pstart IS NULL OR start > pstart + $SubstrWindow THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY start) AS g
       |  FROM seq
       |)""".stripMargin

  /** SQL twin of the rolling hash (DuckDB per-character fold). */
  private def rhSql(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($s, ''), x -> ascii(x))), (h, c) -> (h * 31 + c) % 1000000007)"

  private val cmsRowsCte =
    s"rows AS (SELECT unnest(generate_series(0, ${Sketches.Depth - 1})) AS row)"

  val oracles: Map[String, String] = Map(
    "q_pmi_pairs" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0
        |),
        |tok AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM corpus),
        |dft AS (SELECT term, count(*) AS df FROM tok GROUP BY term),
        |nn AS (SELECT count(*) AS n FROM corpus),
        |tok2 AS (
        |  SELECT t.doc_id, t.term FROM tok t JOIN dft d ON d.term = t.term AND d.df >= $PmiMinDf
        |),
        |pairs AS (
        |  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_ab
        |  FROM tok2 a JOIN tok2 b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY a.term, b.term
        |)
        |SELECT p.term_a, p.term_b, p.n_ab,
        |       round(ln((CAST(p.n_ab AS DOUBLE) * CAST(nn.n AS DOUBLE)) /
        |          (CAST(da.df AS DOUBLE) * CAST(db.df AS DOUBLE))), 6) AS pmi
        |FROM pairs p CROSS JOIN nn
        |JOIN dft da ON da.term = p.term_a
        |JOIN dft db ON db.term = p.term_b
        |ORDER BY term_a, term_b""".stripMargin,
    "q_augment" -> {
      val vals = AugOffsets.map(o => s"($o)").mkString(", ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0
         |),
         |t AS (SELECT doc_id, string_split(lower(text), ' ') AS a FROM corpus),
         |o(aug_offset) AS (VALUES $vals),
         |g AS (
         |  SELECT doc_id, aug_offset, len(a) AS n_tokens,
         |         array_to_string(
         |           list_concat(a[(aug_offset % len(a)) + 1:], a[:(aug_offset % len(a))]), ' ') AS aug
         |  FROM t CROSS JOIN o
         |)
         |SELECT doc_id, aug_offset, CAST(n_tokens AS INTEGER) AS n_tokens,
         |       ${rhSql("aug")} AS fp
         |FROM g ORDER BY doc_id, aug_offset""".stripMargin
    },
    "q_cms_sketch" ->
      s"""WITH $tokCte,
         |$cmsRowsCte,
         |cells AS (
         |  SELECT r.row AS row,
         |         ${rhSql("'r' || CAST(r.row AS VARCHAR) || ':' || t.term")} % ${Sketches.Width} AS bucket
         |  FROM tok t CROSS JOIN rows r
         |)
         |SELECT CAST(row AS INTEGER) AS row, CAST(bucket AS BIGINT) AS bucket, count(*) AS cnt
         |FROM cells GROUP BY row, bucket ORDER BY row, bucket""".stripMargin,
    "q_cms_estimate" -> {
      val vals = CmsTerms.map(t => s"('$t')").mkString(", ")
      s"""WITH $tokCte,
         |$cmsRowsCte,
         |sk AS (
         |  SELECT r.row AS row,
         |         ${rhSql("'r' || CAST(r.row AS VARCHAR) || ':' || t.term")} % ${Sketches.Width} AS bucket,
         |         count(*) AS cnt
         |  FROM tok t CROSS JOIN rows r GROUP BY 1, 2
         |),
         |qt(term) AS (VALUES $vals),
         |qb AS (
         |  SELECT q.term, r.row AS row,
         |         ${rhSql("'r' || CAST(r.row AS VARCHAR) || ':' || q.term")} % ${Sketches.Width} AS bucket
         |  FROM qt q CROSS JOIN rows r
         |),
         |est AS (
         |  SELECT qb.term, CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS cms_estimate
         |  FROM qb LEFT JOIN sk ON sk.row = qb.row AND sk.bucket = qb.bucket
         |  GROUP BY qb.term
         |),
         |cfv AS (SELECT term, count(*) AS cf FROM tok GROUP BY term)
         |SELECT e.term, CAST(coalesce(c.cf, 0) AS BIGINT) AS cf, e.cms_estimate
         |FROM est e LEFT JOIN cfv c ON c.term = e.term
         |ORDER BY e.term""".stripMargin
    },
    "q_text_quality" ->
      s"""WITH $tokCte,
         |agg AS (
         |  SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id
         |),
         |dd AS (
         |  SELECT doc_id, count(DISTINCT term) AS n_distinct,
         |         count(*) FILTER (term IN (${stopList("en")})) AS n_stop
         |  FROM tok GROUP BY doc_id
         |)
         |SELECT c.doc_id, CAST(a.n_tokens AS INTEGER) AS n_tokens,
         |       CAST(length(c.text) AS INTEGER) AS n_chars,
         |       round(CAST(length(c.text) - a.n_tokens + 1 AS DOUBLE) / a.n_tokens, 6) AS mean_tok_len,
         |       round(CAST(dd.n_stop AS DOUBLE) / a.n_tokens, 6) AS stopword_ratio,
         |       round(CAST(dd.n_distinct AS DOUBLE) / a.n_tokens, 6) AS distinct_ratio
         |FROM corpus c JOIN agg a USING (doc_id) JOIN dd USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      s"""WITH $tokCte,
         |scores AS (
         |  SELECT doc_id,
         |    count(*) FILTER (term IN (${stopList("en")})) AS s_en,
         |    count(*) FILTER (term IN (${stopList("de")})) AS s_de,
         |    count(*) FILTER (term IN (${stopList("fr")})) AS s_fr,
         |    count(*) FILTER (term IN (${stopList("es")})) AS s_es
         |  FROM tok GROUP BY doc_id
         |),
         |unp AS (
         |  SELECT doc_id, 'en' AS lang, s_en AS score FROM scores
         |  UNION ALL SELECT doc_id, 'de', s_de FROM scores
         |  UNION ALL SELECT doc_id, 'fr', s_fr FROM scores
         |  UNION ALL SELECT doc_id, 'es', s_es FROM scores
         |),
         |best AS (
         |  SELECT doc_id, lang, score,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
         |  FROM unp
         |)
         |SELECT doc_id, CASE WHEN score <= 0 THEN 'und' ELSE lang END AS lang_pred
         |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q_token_counts" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |       CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                            x -> length(x) > 0)) AS INTEGER) AS alnum_runs
        |FROM documents WHERE text IS NOT NULL AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), x -> ascii(x))),
        |                   (h, c) -> (h * 31 + c) % 1000000007) AS fp
        |FROM documents WHERE text IS NOT NULL AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,
    // all four features derive from UTF-8 BYTES (hex-pair decode of the
    // encoded blob) — the engine computes over payload bytes, and ascii()
    // per character would diverge on any non-ASCII code point
    "q_multimodal_features" ->
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0
        |)
        |SELECT doc_id AS id, 'image' AS modality,
        |       CAST(n AS BIGINT) AS payload_len,
        |       CAST(ceil(CAST(n AS DOUBLE) / 256.0) AS BIGINT) AS n_chunks,
        |       CAST(('0x' || substr(hx, 1, 2)) AS INTEGER) AS first_byte,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                   list_transform(generate_series(1, n),
        |                                  i -> CAST(('0x' || substr(hx, 2*i - 1, 2)) AS BIGINT))),
        |                   (acc, c) -> (acc + c) % 1000000007) AS byte_checksum
        |FROM b
        |ORDER BY doc_id""".stripMargin,
    "q_multimodal_frames" ->
      s"""WITH b AS (
         |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
         |  FROM documents WHERE text IS NOT NULL AND length(text) > 0
         |),
         |f AS (
         |  SELECT doc_id, hx, n,
         |         unnest(generate_series(0, CAST(ceil(CAST(n AS DOUBLE) / ${Multimodal.FrameBytes}.0) AS BIGINT) - 1)) AS frame_idx
         |  FROM b
         |)
         |SELECT doc_id AS id, CAST(frame_idx AS INTEGER) AS frame_idx,
         |       CAST(least(${Multimodal.FrameBytes}, n - frame_idx * ${Multimodal.FrameBytes}) AS INTEGER) AS frame_len,
         |       list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(generate_series(1, least(${Multimodal.FrameBytes}, n - frame_idx * ${Multimodal.FrameBytes})),
         |                          i -> CAST(('0x' || substr(hx, CAST(2 * frame_idx * ${Multimodal.FrameBytes} + 2 * i - 1 AS BIGINT), 2)) AS BIGINT))),
         |           (acc, c) -> (acc + c) % 1000000007) AS frame_checksum
         |FROM f WHERE frame_idx % ${Multimodal.FrameStride} = 0
         |ORDER BY id, frame_idx""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, count(*) AS n,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents WHERE text IS NOT NULL AND length(text) > 0
        |GROUP BY md5(text) HAVING count(*) > 1 ORDER BY text_hash""".stripMargin,
    "q_minhash_sig" ->
      s"""WITH $shingleCte,
         |h(h_idx, a, b) AS (VALUES $minhashValues)
         |SELECT s.doc_id, CAST(h.h_idx AS INTEGER) AS h_idx,
         |       min((h.a * s.sid + h.b) % 2147483647) AS minhash
         |FROM shingle s CROSS JOIN h
         |GROUP BY s.doc_id, h.h_idx
         |ORDER BY doc_id, h_idx""".stripMargin,
    "q_simhash" ->
      s"""WITH $tokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         |th AS (
         |  SELECT doc_id, tf,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(term, ''), x -> ascii(x))),
         |                     (h, c) -> (h * 31 + c) % 1000000007) AS h
         |  FROM tf
         |),
         |bits AS (
         |  SELECT doc_id, j,
         |         sum(CASE WHEN (h >> j) & 1 = 1 THEN tf ELSE -tf END) AS s
         |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j)
         |  GROUP BY doc_id, j
         |),
         |sh AS (
         |  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id
         |),
         |ns AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_shingles FROM (
         |  SELECT DISTINCT doc_id, sid FROM (
         |    WITH terms2 AS (SELECT doc_id, string_split(lower(text), ' ') AS a FROM documents
         |                    WHERE text IS NOT NULL AND length(text) > 0),
         |    grams2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(a) - 2),
         |               i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS g FROM terms2 WHERE len(a) >= 3)
         |    SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(g, ''), x -> ascii(x))),
         |                   (h, c) -> (h * 31 + c) % 1000000007) AS sid FROM grams2
         |  )) GROUP BY doc_id)
         |SELECT sh.doc_id, coalesce(ns.n_shingles, 0) AS n_shingles, sh.simhash
         |FROM sh LEFT JOIN ns USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_lsh_pairs" ->
      s"""WITH $shingleCte,
         |h(h_idx, a, b) AS (VALUES $minhashValues),
         |sig AS (
         |  SELECT s.doc_id, h.h_idx, min((h.a * s.sid + h.b) % 2147483647) AS mh
         |  FROM shingle s CROSS JOIN h GROUP BY s.doc_id, h.h_idx
         |),
         |bands AS (
         |  SELECT doc_id, h_idx // ${Dedup.BandRows} AS band,
         |         string_agg(mh, ',' ORDER BY h_idx) AS key
         |  FROM sig GROUP BY doc_id, band
         |),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
         |),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shingle GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM shingle a JOIN shingle b ON a.sid = b.sid AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |)
         |SELECT c.doc_a, c.doc_b,
         |       round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 6) AS jaccard
         |FROM cand c
         |JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |JOIN sz sa ON sa.doc_id = c.doc_a JOIN sz sb ON sb.doc_id = c.doc_b
         |WHERE round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 6) >= 0.5
         |ORDER BY c.doc_a, c.doc_b""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0
         |),
         |all_docs AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL
         |  SELECT doc_id + $IncrementalPlantBase AS doc_id, 'copy ' || text AS text
         |  FROM base WHERE doc_id % 7 = 0
         |),
         |terms AS (SELECT doc_id, string_split(lower(text), ' ') AS a FROM all_docs),
         |grams AS (
         |  SELECT doc_id,
         |         unnest(list_transform(generate_series(1, len(a) - 2),
         |                i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS g
         |  FROM terms WHERE len(a) >= 3
         |),
         |shingle AS (
         |  SELECT DISTINCT doc_id,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(g, ''), x -> ascii(x))),
         |                     (h, c) -> (h * 31 + c) % 1000000007) AS sid
         |  FROM grams
         |),
         |h(h_idx, a, b) AS (VALUES $minhashValues),
         |sig AS (
         |  SELECT s.doc_id, h.h_idx, min((h.a * s.sid + h.b) % 2147483647) AS mh
         |  FROM shingle s CROSS JOIN h GROUP BY s.doc_id, h.h_idx
         |),
         |bands AS (
         |  SELECT doc_id, h_idx // ${Dedup.BandRows} AS band,
         |         string_agg(mh, ',' ORDER BY h_idx) AS key
         |  FROM sig GROUP BY doc_id, band
         |),
         |cand AS (
         |  SELECT DISTINCT c.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands c JOIN bands b ON c.band = b.band AND c.key = b.key
         |  WHERE c.doc_id < $IncrementalPlantBase AND b.doc_id >= $IncrementalPlantBase
         |),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shingle GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM shingle a JOIN shingle b ON a.sid = b.sid
         |   AND a.doc_id < $IncrementalPlantBase AND b.doc_id >= $IncrementalPlantBase
         |  GROUP BY a.doc_id, b.doc_id
         |)
         |SELECT c.doc_a, c.doc_b,
         |       round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 6) AS jaccard
         |FROM cand c
         |JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |JOIN sz sa ON sa.doc_id = c.doc_a JOIN sz sb ON sb.doc_id = c.doc_b
         |WHERE round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 6) >= 0.5
         |ORDER BY c.doc_a, c.doc_b""".stripMargin,
    "q_ngram_jaccard" ->
      s"""WITH $shingleCte,
         |sz AS (SELECT doc_id, count(*) AS sz FROM shingle GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM shingle a JOIN shingle b ON a.sid = b.sid AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |)
         |SELECT i.doc_a, i.doc_b,
         |       round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 6) AS jaccard
         |FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a JOIN sz sb ON sb.doc_id = i.doc_b
         |WHERE round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 6) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_ann_brute" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings
        |),
        |q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 10),
        |scored AS (
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
        |rk AS (
        |  SELECT query_id, vec_id, cos,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored
        |)
        |SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id, cos
        |FROM rk WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // exact cartesian over the SAME planted-near-dup-augmented set the
    // engine buckets — the jitter is replicated bit-for-bit in SQL
    "q_cosine_neardup" ->
      s"""WITH $cosinePairsCte
         |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.99 ORDER BY id_a, id_b""".stripMargin,

    // duplicated w-token windows by CONTENT (hash-free: the oracle's
    // ground truth is the window string itself), merged per doc by the
    // same gaps-and-islands rule as the engine
    "q_substring_spans" ->
      s"""WITH $substrDupWindowsCte
         |SELECT doc_id,
         |       CAST(min(start) AS INTEGER) AS span_start,
         |       CAST(max(start) + $SubstrWindow - 1 AS INTEGER) AS span_end,
         |       CAST(max(start) + $SubstrWindow - min(start) AS INTEGER) AS span_len
         |FROM grp GROUP BY doc_id, g ORDER BY doc_id, span_start""".stripMargin,

    "q_substring_scrub" ->
      s"""WITH $substrDupWindowsCte,
         |spans AS (
         |  SELECT doc_id, min(start) AS span_start, max(start) + $SubstrWindow - 1 AS span_end
         |  FROM grp GROUP BY doc_id, g
         |),
         |tokp AS (
         |  SELECT doc_id, unnest(ts) AS term, unnest(generate_series(1, len(ts))) AS pos
         |  FROM toksl
         |),
         |kept AS (
         |  SELECT t.doc_id, t.pos, t.term FROM tokp t
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |                    WHERE s.doc_id = t.doc_id AND t.pos BETWEEN s.span_start AND s.span_end)
         |),
         |ka AS (
         |  SELECT doc_id, count(*) AS kept_len,
         |         array_to_string(list(term ORDER BY pos), ' ') AS clean_text
         |  FROM kept GROUP BY doc_id
         |),
         |dl AS (SELECT doc_id, len(ts) AS doc_len FROM toksl)
         |SELECT d.doc_id,
         |       CAST(coalesce(ka.kept_len, 0) AS INTEGER) AS kept_len,
         |       CAST(d.doc_len - coalesce(ka.kept_len, 0) AS INTEGER) AS removed_len,
         |       coalesce(ka.clean_text, '') AS clean_text
         |FROM dl d LEFT JOIN ka ON d.doc_id = ka.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // exact connected components of the >= 0.99 near-dup pair graph:
    // transitive closure via a recursive CTE (min reachable id per vertex)
    "q_dedup_groups" ->
      s"""WITH RECURSIVE $cosinePairsCte,
         |edges AS (SELECT id_a, id_b FROM p WHERE cos >= 0.99),
         |verts AS (
         |  SELECT DISTINCT id FROM (
         |    SELECT id_a AS id FROM edges UNION ALL SELECT id_b FROM edges)
         |),
         |sym AS (
         |  SELECT id_a AS src, id_b AS dst FROM edges
         |  UNION ALL SELECT id_b, id_a FROM edges
         |),
         |reach(id, r) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id
         |)
         |SELECT id AS vec_id, min(r) AS component FROM reach
         |GROUP BY id ORDER BY vec_id""".stripMargin
  )

}
