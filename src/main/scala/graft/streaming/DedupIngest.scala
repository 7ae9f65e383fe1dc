package graft.streaming

import graft.corpus.Pages
import graft.index.{IndexBuilder, IndexConfig, IndexManifest, Manifest, Store}
import graft.pipeline.{Components, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Lifecycle metadata of the persisted dedup index — the dedup sibling of
  * [[graft.index.IndexManifest]]. `baseVersion` points at the live
  * generation of the bands/sigs/pairs tables (compaction writes the next
  * one and flips LAST); `tombVersion` at the live tombstone table
  * ([[DedupIngest.purge]] — USER-removed content: excluded from admission
  * AND from the edge log, physically dropped at compaction); and
  * `demotedVersion` at the live demoted table ([[DedupIngest.reconcile]]
  * victims — DUPLICATE content: excluded from admission vetoes but KEPT in
  * the edge log, since a global rebuild's input still contains it;
  * compaction moves demoted rows to the shadow partition instead of
  * dropping them). -1 = none, for both. `buckets` persists the
  * file-clustering count so rewriting verbs keep the layout. */
final case class DedupManifest(baseVersion: Int, tombVersion: Int, demotedVersion: Int,
    buckets: Int)

/** Streaming ingest with INLINE dedup — the production crawl loop. Each
  * micro-batch:
  *
  *  1. signs itself (one map pass: shingles → MinHash signature + bands);
  *  2. probes the PERSISTED dedup index (bands + signatures — the corpus
  *     is never re-read, never re-signed, and no corpus text is needed:
  *     similarity is the standard signature ESTIMATOR, the matching-
  *     minhash fraction, an unbiased estimate of Jaccard);
  *  3. drops batch docs whose estimate vs any LIVE committed corpus doc —
  *     or vs a smaller-id cross-surviving doc of the same batch — reaches
  *     the threshold (tombstone-deleted docs are EXCLUDED from the probe:
  *     a re-crawl of deleted content must be admissible again);
  *  4. appends the survivors (RAW rows — append itself cleans and counts
  *     corrupt rows, exactly like plain ingest) to the inverted index, the
  *     survivors' bands/signatures to the dedup index (`part=b<batchId>`),
  *     the DROPPED docs' bands/signatures to SHADOW partitions
  *     (`part=s<batchId>` — never consulted for admission, but probed for
  *     edge logging: a later batch similar to a dropped doc is an edge a
  *     global dedup must see), and every estimator-passing pair it saw
  *     (cross AND self, including pairs whose batch doc was dropped) to
  *     the PAIR LOG — the edge set a later GLOBAL [[reconcile]] runs
  *     connected components over. All writes are overwrite-idempotent
  *     partitions of the live generation. The shadow surface is the price
  *     of exact global reconciliation: the full-rebuild input is every doc
  *     ever crawled, so its edge set needs every crawled doc's signature.
  *
  * Exactly-once rides the manifest cursor: a batchId at or below
  * `lastBatchId` is skipped outright; a crash mid-batch replays
  * derive-and-overwrite writes bit-identically; the probe excludes the
  * batch's OWN `part=b/s<batchId>` partitions (batchIds commit strictly in
  * order, so every other partition is from a committed batch), so a
  * crashed attempt's partial partitions can never make a batch match
  * itself; and the append-order precondition is validated BEFORE any side
  * effect.
  * Because plain [[StreamingIngest]] and this path each run their own
  * checkpoint (independent batchId sequences) over ONE shared cursor,
  * mixing them on one index would silently skip batches — an
  * `_ingest_mode` marker makes that a loud error instead.
  *
  * Docs too short to shingle (< n-gram width) carry no signature and are
  * never near-dup candidates — they always survive (documented; exact
  * dedup of trivial docs belongs to the md5 path).
  *
  * SEMANTICS NOTE (online vs global dedup): admission is the standard
  * ONLINE policy — dedup against committed docs, then keep-min among the
  * batch's cross-survivors. A doc whose only near-dup neighbor was itself
  * cross-dropped survives here, whereas a GLOBAL rebuild through the
  * connected-components keep-min (`q_dedup_groups`) would drop it:
  * streaming admission is inherently arrival-order-dependent, and the
  * online policy guarantees only that (a) the minimum of any within-batch
  * chain survives and (b) nothing similar to a live committed doc enters.
  * The [[reconcile]] verb closes the gap offline: connected components
  * over the accumulated pair log, tombstone every live doc that is not
  * its component's minimum — after it, the live set equals a full-rebuild
  * global dedup (StreamingDedupSpec pins this on adversarial chains).
  *
  * DELETE lifecycle: the dedup index keeps its OWN versioned tombstone
  * table, written by [[purge]] — deleting docs from a dedup-ingested
  * corpus should call `IndexBuilder.delete*` AND `purge` together, so
  * re-crawled content stays admissible even after the inverted index's
  * compaction clears ITS tombstones. The probe also honors the inverted
  * index's live tombstones as a safety net. [[compactIndex]] is the
  * long-lived crawl loop's maintenance verb: it merges the accumulated
  * `part=b*` partitions into one `part=base` per table, physically drops
  * tombstoned rows (and their pair-log edges), clears the tombstones, and
  * flips `baseVersion` last — replaced generations are garbage for
  * [[vacuum]]. */
object DedupIngest {

  final val DefaultThreshold = 0.9

  // ------------------------------------------------------------ layout
  // every table is generation-versioned (v%05d) and referenced ONLY via
  // the manifest — the same manifest-last commit discipline as the
  // inverted index, so a crash inside any verb leaves the old generation
  // live and a replay overwrites the same derived directory

  def bandsDir(dedupDir: String, v: Int): String = f"$dedupDir/bands/v$v%05d"
  def sigsDir(dedupDir: String, v: Int): String = f"$dedupDir/sigs/v$v%05d"
  def pairsDir(dedupDir: String, v: Int): String = f"$dedupDir/pairs/v$v%05d"
  def tombDir(dedupDir: String, v: Int): String = f"$dedupDir/tombstones/v$v%05d"
  def demotedDir(dedupDir: String, v: Int): String = f"$dedupDir/demoted/v$v%05d"
  private def manifestPath(dedupDir: String) = s"$dedupDir/manifest.json"

  def readManifest(dedupDir: String): DedupManifest =
    Store.readJson[DedupManifest](manifestPath(dedupDir), "re-bootstrap the dedup index")

  /** The manifest-last commit of every dedup verb. */
  private def commit(dedupDir: String, m: DedupManifest): DedupManifest = {
    Store.writeJson(manifestPath(dedupDir), m)
    m
  }

  // one typed reader per table: a read with its schema lists the files but
  // runs no footer job to infer one. Bands, sigs and pairs carry the
  // `part` partition column (base, shadow, b<batchId>, s<batchId>)
  private def readBands(spark: SparkSession, dedupDir: String, v: Int): DataFrame =
    spark.read.schema("doc_id LONG, band INT, key LONG, part STRING").parquet(bandsDir(dedupDir, v))
  private def readSigs(spark: SparkSession, dedupDir: String, v: Int): DataFrame =
    spark.read.schema("doc_id LONG, sig ARRAY<LONG>, part STRING").parquet(sigsDir(dedupDir, v))
  private def readPairs(spark: SparkSession, dedupDir: String, v: Int): DataFrame =
    spark.read.schema("doc_a LONG, doc_b LONG, part STRING").parquet(pairsDir(dedupDir, v))
  /** A doc-id table: tombstones or demoted. */
  private def readIds(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("doc_id LONG").parquet(dir)

  /** The live bands table (spec + ad-hoc accessor). */
  def liveBands(spark: SparkSession, dedupDir: String): DataFrame =
    readBands(spark, dedupDir, readManifest(dedupDir).baseVersion)

  /** Remove docs from the dedup index's PROBE surface (their bands/sigs
    * rows stay physical until [[compactIndex]], like index tombstones
    * pre-compaction): the delete-side companion of `IndexBuilder.delete`.
    * The merged tombstone set is written DISTRIBUTED (bucket-clustered
    * multi-file — a GDPR-scale purge of 10⁹ ids must not funnel through
    * one task) into the NEXT version directory, and the manifest pointer
    * flips last — a crash mid-purge leaves the old table live, mirroring
    * the inverted index's tombVersion scheme. */
  def purge(spark: SparkSession, dedupDir: String, ids: DataFrame): DedupManifest = {
    val dm = ensureInit(spark, dedupDir)
    writeNextIds(spark, ids, dm.buckets, tombDir(dedupDir, _), dm.tombVersion)
    commit(dedupDir, dm.copy(tombVersion = dm.tombVersion + 1))
  }

  /** Demote docs to SHADOW status ([[reconcile]]'s dedup-side verb): they
    * stop vetoing admission — their content is now represented by their
    * component's keeper — but their rows and pair-log edges stay, because
    * a global rebuild's input still contains every crawled doc. Same
    * versioned write + manifest-flip discipline as [[purge]]. */
  def demote(spark: SparkSession, dedupDir: String, ids: DataFrame): DedupManifest = {
    val dm = ensureInit(spark, dedupDir)
    writeNextIds(spark, ids, dm.buckets, demotedDir(dedupDir, _), dm.demotedVersion)
    commit(dedupDir, dm.copy(demotedVersion = dm.demotedVersion + 1))
  }

  /** Version v+1 of a doc-id table (tombstones, demoted): version v (none
    * when v < 0) ∪ the first column of `ids`, bucket-clustered on doc_id. */
  private def writeNextIds(spark: SparkSession, ids: DataFrame, buckets: Int,
      dir: Int => String, v: Int): Unit = {
    val fresh = ids.select(col(ids.columns.head).cast("long").as("doc_id")).distinct()
    val merged = if (v < 0) fresh else readIds(spark, dir(v)).unionByName(fresh).distinct()
    Store.writeTable(merged.repartition(buckets, col("doc_id")).sortWithinPartitions(col("doc_id")),
      dir(v + 1))
  }

  /** One streaming lineage per index: the checkpointed batchId sequence is
    * only monotone WITHIN one ingest mode, so the first streaming writer
    * stamps its mode and every later one must match. */
  private[streaming] def claimMode(indexDir: String, mode: String): Unit = {
    val p = s"$indexDir/_ingest_mode"
    if (Store.exists(p)) {
      val existing = Store.readString(p).trim
      require(existing == mode,
        s"index at $indexDir already streams via '$existing' ingest; mixing with '$mode' " +
          "would interleave two independent batchId sequences over one cursor and silently " +
          "skip batches — use one streaming mode per index")
    } else Store.writeString(p, mode)
  }

  /** Write one partition of the dedup index's live generation (bands via
    * the SAME writer as the batch-side LSH index; signatures are doc-keyed
    * and tiny). */
  private def writeParts(spark: SparkSession,
      sigs: org.apache.spark.sql.Dataset[graft.pipeline.DocSignature],
      dedupDir: String, dm: DedupManifest, part: String): Unit = {
    import spark.implicits._
    Dedup.writeLshIndex(sigs, s"${bandsDir(dedupDir, dm.baseVersion)}/part=$part", dm.buckets)
    Store.writeTable(sigs.filter(_.nShingles > 0).map(s => (s.docId, s.sig)).toDF("doc_id", "sig")
      .repartition(dm.buckets, col("doc_id")), s"${sigsDir(dedupDir, dm.baseVersion)}/part=$part")
  }

  private def writePairsPart(spark: SparkSession, pairs: DataFrame,
      dedupDir: String, dm: DedupManifest, part: String): Unit =
    Store.writeTable(pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .repartition(dm.buckets, col("doc_a")), s"${pairsDir(dedupDir, dm.baseVersion)}/part=$part")

  /** Bootstrap the dedup index for an existing corpus — `cfg` is REQUIRED
    * and must be the index build's config (incl. the language allowlist),
    * so both indexes describe the same document set. The bootstrap corpus
    * is taken as already deduplicated (its internal pairs are not logged);
    * bootstrap over an EMPTY corpus initializes a fresh crawl-from-zero
    * index. */
  def bootstrap(spark: SparkSession, corpusPages: DataFrame, dedupDir: String,
      cfg: IndexConfig, buckets: Int = 8): DedupManifest = {
    import spark.implicits._
    val cleaned = Pages.cleaned(corpusPages, cfg.langs)
    val dm = DedupManifest(baseVersion = 0, tombVersion = -1, demotedVersion = -1,
      buckets = buckets)
    writeParts(spark,
      Dedup.signaturesOf(cleaned.select(col("doc_id"), col("text"))),
      dedupDir, dm, "base")
    writePairsPart(spark, spark.emptyDataset[(Long, Long)].toDF("doc_a", "doc_b"),
      dedupDir, dm, "base")
    commit(dedupDir, dm)
  }

  /** The dedup index's manifest, auto-initializing an EMPTY index when none
    * exists (the legitimate crawl-from-zero case) — first batches against a
    * fresh directory work without an explicit bootstrap call. A NON-EMPTY
    * directory without a manifest is refused loudly: silently bootstrapping
    * over it (a pre-manifest layout, a torn hand-copy, or a mistyped path
    * that happens to hold data) would ignore every existing signature and
    * tombstone — purges would "succeed" against nothing and previously
    * crawled content would stop vetoing admission. */
  private def ensureInit(spark: SparkSession, dedupDir: String, buckets: Int = 8): DedupManifest =
    if (Store.exists(manifestPath(dedupDir))) readManifest(dedupDir)
    else {
      require(Store.list(dedupDir).isEmpty,
        s"$dedupDir is non-empty but has no manifest.json — not a dedup index this " +
          "engine version can read (pre-manifest layout, torn copy, or wrong path); " +
          "point at the real dedup index, remove the directory, or bootstrap() a fresh one")
      import spark.implicits._
      bootstrap(spark, spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
        .withColumn("url", lit(null).cast("string"))
        .withColumn("warc_ts", lit(null).cast("timestamp"))
        .withColumn("html", lit(null).cast("binary"))
        .withColumn("lang", lit(null).cast("string"))
        .select("doc_id", "url", "warc_ts", "html", "text", "lang"),
        dedupDir, IndexConfig(), buckets)
    }

  /** Signature-estimated Jaccard: fraction of agreeing minhash slots. */
  private def estCol(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    size(filter(zip_with(a, b, (x, y) => x === y), x => x)).cast("double") /
      lit(Dedup.NumHashes.toDouble)

  /** One micro-batch, idempotently: dedup → append → grow the dedup index.
    * Also the batch-mode entry point (streaming wraps it in foreachBatch). */
  def applyBatch(spark: SparkSession, batch: DataFrame, indexDir: String, dedupDir: String,
      cfg: IndexConfig, batchId: Long, threshold: Double = DefaultThreshold,
      buckets: Int = 8): IndexManifest = {
    import spark.implicits._
    // batch-mode callers advance the same cursor as the streams — stamp
    // the mode here too, so direct applyBatch use can never interleave
    // with a plain stream's independent batchId sequence
    claimMode(indexDir, "dedup")
    val old = Manifest.read(s"$indexDir/manifest.json")
    if (batchId <= old.lastBatchId) return old // committed-batch replay: no-op
    // append would also check this, but only after the dedup-index writes —
    // validate the analyzer contract BEFORE any side effect, like the
    // docId-order precondition below
    require(cfg.analyzerId == old.analyzer,
      s"dedup-ingest analyzer '${cfg.analyzerId}' != index analyzer '${old.analyzer}' — " +
        "batches must tokenize, clean and cap exactly like the build (no side effects were taken)")
    val dm = ensureInit(spark, dedupDir, buckets)

    val cleaned = Pages.cleaned(batch, cfg.langs).persist()
    val sigs = Dedup.signaturesOf(cleaned.select(col("doc_id"), col("text"))).persist()
    try {
      // append's docId-order precondition, validated BEFORE any side
      // effect (append would also catch it, but only after the dedup-index
      // partition write — no orphan partitions on misordered batches)
      val minNew = cleaned.agg(coalesce(min(col("doc_id").cast("long")), lit(Long.MaxValue)))
        .head().getLong(0)
      require(minNew > old.maxDocId,
        s"dedup-ingest batch docIds must exceed maxDocId=${old.maxDocId}, got min=$minNew " +
          "(no side effects were taken)")

      val bands = Dedup.bandRelation(sigs).localCheckpoint(true) // self-join + survivors
      val bSigs = sigs.filter(_.nShingles > 0)
        .map(s => (s.docId, s.sig)).toDF("batch_doc", "b_sig")
        .localCheckpoint(true) // both estimator joins

      // batch vs the COMMITTED corpus. Partition discipline: the batch's
      // own part=b/s<batchId> partitions are excluded by NAME (batchIds
      // commit strictly in order, so every other partition belongs to a
      // committed batch — a crashed attempt can never match itself on
      // replay); purged docs are excluded via the dedup index's OWN
      // tombstones (survives index compaction) plus the inverted index's
      // live tombstones as a safety net, so re-crawled deleted content is
      // admissible again. Shadow (dropped-doc) rows are probed for the
      // pair LOG but can never veto admission.
      val tombTables: Seq[DataFrame] =
        IndexBuilder.readTombstones(spark, indexDir, old).toDF("doc_id") +:
          (if (dm.tombVersion < 0) Nil else Seq(readIds(spark, tombDir(dedupDir, dm.tombVersion))))
      def committed(df: DataFrame): DataFrame = {
        val own = df.filter(col("part") =!= s"b$batchId" && col("part") =!= s"s$batchId")
        tombTables.foldLeft(own)((d, t) => d.join(t, Seq("doc_id"), "left_anti"))
      }
      val corpusSigs = committed(readSigs(spark, dedupDir, dm.baseVersion))
        .select(col("doc_id").as("corpus_doc"), col("sig").as("c_sig"),
          col("part").startsWith("s").as("shadow"))
        .localCheckpoint(true) // estimator join + live projection
      // estimator-passing (corpus, batch) PAIRS over live AND shadow corpus
      // rows — the pair-log input; admission uses only the live,
      // non-demoted subset (a reconcile victim's content is represented by
      // its component keeper, so the victim itself must not veto)
      val crossPairs = Dedup
        .probeLshIndexBands(committed(readBands(spark, dedupDir, dm.baseVersion)), bands)
        .join(bSigs, "batch_doc")
        .join(corpusSigs, "corpus_doc")
        .filter(estCol(col("b_sig"), col("c_sig")) >= threshold)
        .select(col("corpus_doc"), col("batch_doc"))
        .localCheckpoint(true) // admission + pair log
      val vetoDocs = {
        val live = corpusSigs.filter(!col("shadow")).select("corpus_doc")
        if (dm.demotedVersion < 0) live
        else live.join(
          readIds(spark, demotedDir(dedupDir, dm.demotedVersion))
            .select(col("doc_id").as("corpus_doc")),
          Seq("corpus_doc"), "left_anti")
      }
      val crossDups = crossPairs
        .join(vetoDocs, Seq("corpus_doc"), "left_semi")
        .select("batch_doc").distinct()
        .localCheckpoint(true) // keeper filter + final dup union

      // within-batch estimator-passing pairs over the WHOLE batch — the
      // pair LOG needs edges through cross-dropped docs too (a later
      // global reconcile walks chains the online policy cannot see);
      // admission then derives its keep-min-among-cross-survivors rule by
      // filtering the keeper side, so the drop set is unchanged
      val selfPairs = bands.as("l").join(bands.as("r"),
          col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
            col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("keep_doc"), col("r.doc_id").as("batch_doc"))
        .distinct()
        .join(bSigs.select(col("batch_doc").as("keep_doc"), col("b_sig").as("k_sig")), "keep_doc")
        .join(bSigs, "batch_doc")
        .filter(estCol(col("k_sig"), col("b_sig")) >= threshold)
        .select(col("keep_doc"), col("batch_doc"))
        .localCheckpoint(true) // admission + pair log
      // a doc must never be dropped on account of a keeper that itself was
      // dropped: only cross-SURVIVING keepers veto (keep-min chains —
      // deterministic, the minimum of a chain always survives)
      val selfDups = selfPairs
        .join(crossDups.withColumnRenamed("batch_doc", "keep_doc"), Seq("keep_doc"), "left_anti")
        .select("batch_doc")

      val dups = crossDups.unionByName(selfDups).distinct()
        .withColumnRenamed("batch_doc", "doc_id")
        .localCheckpoint(true) // survivors filter + survivor-sigs semi-join
      // survivors from the CLEANED batch (the rows the dedup decisions
      // were actually made on — subtracting ids from the raw batch could
      // resurrect a same-url sibling that was never probed), PLUS the raw
      // corrupt rows so append's skippedCorrupt accounting matches plain
      // ingest / a full rebuild (append re-drops them, counted)
      val survivors = cleaned
        .join(dups.select(col("doc_id").cast(cleaned.schema("doc_id").dataType)),
          Seq("doc_id"), "left_anti")
        .unionByName(batch.filter(col("text").isNull).select(cleaned.columns.map(col): _*))

      // dedup-index growth FIRST (overwrite-idempotent partitions of the
      // live generation): survivors to part=b<id>, dropped docs' sigs to
      // the shadow partition part=s<id>; the inverted-index append LAST
      // (it commits the manifest cursor)
      val dupIds = dups.select(col("doc_id").cast("long").as("docId"))
      val survSigs = sigs.toDF()
        .join(dupIds, Seq("docId"), "left_anti")
        .as[graft.pipeline.DocSignature]
      val shadowSigs = sigs.toDF()
        .join(dupIds, Seq("docId"), "left_semi")
        .as[graft.pipeline.DocSignature]
      writeParts(spark, survSigs, dedupDir, dm, s"b$batchId")
      writeParts(spark, shadowSigs, dedupDir, dm, s"s$batchId")
      val pairLog = crossPairs
        .select(col("corpus_doc").as("doc_a"), col("batch_doc").as("doc_b"))
        .unionByName(selfPairs
          .select(col("keep_doc").as("doc_a"), col("batch_doc").as("doc_b")))
        .distinct()
      writePairsPart(spark, pairLog, dedupDir, dm, s"b$batchId")
      IndexBuilder.append(spark, survivors, indexDir, cfg, Some(batchId))
    } finally {
      sigs.unpersist(); cleaned.unpersist(); ()
    }
  }

  /** GLOBAL reconciliation — the offline companion of the online admission
    * policy: connected components over the accumulated pair log (edges
    * whose endpoints were purged are dropped first — removed content must
    * not influence keep-min), then every LIVE indexed doc that is not its
    * component's minimum is tombstone-deleted from the inverted index and
    * DEMOTED in the dedup index (its edges stay — it is duplicate content,
    * still part of a global rebuild's input — but it stops vetoing
    * admission). Online drops are always caused by a SMALLER neighbor, so
    * each component's global minimum is guaranteed live — deletion alone
    * reaches the full-rebuild global-dedup live set (spec-pinned on
    * adversarially ordered chains). Idempotent: a second run finds no live
    * victims. Returns the number of docs tombstoned. */
  def reconcile(spark: SparkSession, indexDir: String, dedupDir: String): Long = {
    val dm = readManifest(dedupDir)
    val pairs0 = readPairs(spark, dedupDir, dm.baseVersion)
    val pairs =
      if (dm.tombVersion < 0) pairs0
      else {
        val t = readIds(spark, tombDir(dedupDir, dm.tombVersion))
        Seq("doc_a", "doc_b").foldLeft(pairs0)((d, c) =>
          d.join(t.select(col("doc_id").as(c)), Seq(c), "left_anti"))
      }
    val cc = Components.connectedComponents(
      pairs.select(col("doc_a").as("id_a"), col("doc_b").as("id_b")))
    val losers = cc.filter(col("id") =!= col("component")).select(col("id").as("docId"))
    // only LIVE indexed docs need (or can take) a tombstone — ids that were
    // dropped at ingest never entered either index
    val h = graft.query.IndexReader.load(spark, indexDir)
    val victims = losers
      .join(h.docstats.select("docId"), Seq("docId"), "left_semi")
      .localCheckpoint(true)
    val n = victims.count()
    if (n > 0) {
      IndexBuilder.deleteByIds(spark, indexDir, victims)
      demote(spark, dedupDir, victims)
      ()
    }
    n
  }

  /** Dedup-index compaction — the maintenance verb of a long-lived crawl
    * loop: merges the per-batch `part=b*` partitions of bands/sigs/pairs
    * into one `part=base` each, physically drops tombstoned docs' rows
    * (and pair-log edges touching them), clears the tombstone table, and
    * flips `baseVersion` LAST — crash-safe and replay-idempotent like
    * every other verb here. Bounded file count afterwards: `buckets`
    * files per table, regardless of how many batches accumulated.
    * `indexDir` is the companion inverted index: its `lastBatchId` cursor
    * tells compaction which batch partitions are committed — partitions of
    * an IN-FLIGHT batch (crashed before its append, awaiting replay) pass
    * through by name instead of folding, preserving applyBatch's
    * exclude-own-partitions replay guarantee across compactions. */
  def compactIndex(spark: SparkSession, dedupDir: String, indexDir: String): DedupManifest = {
    val dm = readManifest(dedupDir)
    val lastBatch = Manifest.read(s"$indexDir/manifest.json").lastBatchId
    val next = DedupManifest(dm.baseVersion + 1, -1, -1, dm.buckets)
    // a batch partition is COMMITTED iff its batchId is at or below the
    // inverted index's cursor. An IN-FLIGHT partition (written by a crashed
    // applyBatch whose append never committed) must NOT fold into base:
    // the replay excludes its own partitions BY NAME, so folding them away
    // would make the replayed batch estimator-match its own partial write
    // at similarity 1.0 and silently drop itself. In-flight partitions are
    // carried into the new generation unchanged (pure file copy, no
    // compute, no tombstone filtering — the replay overwrites them whole).
    val committedPart = col("part") === "base" || col("part") === "shadow" ||
      regexp_extract(col("part"), "^[bs](\\d+)$", 1).cast("long") <= lastBatch
    def carryInFlight(tableDir: Int => String): Unit =
      Store.list(tableDir(dm.baseVersion))
        .filter(n => "^part=[bs](\\d+)$".r.findFirstMatchIn(n)
          .exists(_.group(1).toLong > lastBatch))
        .foreach { n =>
          val dst = s"${tableDir(next.baseVersion)}/$n"
          Store.delete(dst) // replay of a crashed compaction: overwrite
          Store.copy(s"${tableDir(dm.baseVersion)}/$n", dst)
        }
    def dropTombed(df: DataFrame, cols: Seq[String]): DataFrame =
      if (dm.tombVersion < 0) df
      else {
        val t = readIds(spark, tombDir(dedupDir, dm.tombVersion))
        cols.foldLeft(df)((d, c) => d.join(t.select(col("doc_id").as(c)), Seq(c), "left_anti"))
      }
    val demoted =
      if (dm.demotedVersion < 0) None
      else Some(readIds(spark, demotedDir(dedupDir, dm.demotedVersion)))
    // shadowness survives compaction (part=shadow vs part=base): dropped
    // docs' rows keep feeding the edge log, never the admission probe —
    // and DEMOTED docs are folded into the shadow side here, clearing the
    // demoted table
    for (shadow <- Seq(false, true)) {
      val part = if (shadow) "shadow" else "base"
      def side(df: DataFrame): DataFrame = {
        val wasShadow = col("part").startsWith("s")
        val base = df.filter(if (shadow) wasShadow else !wasShadow)
        demoted.fold(base) { dem =>
          if (shadow)
            base.unionByName(df.filter(!wasShadow)
              .join(dem, Seq("doc_id"), "left_semi"))
          else base.join(dem, Seq("doc_id"), "left_anti")
        }
      }
      Store.writeTable(dropTombed(side(readBands(spark, dedupDir, dm.baseVersion)
          .filter(committedPart)
          .select("doc_id", "band", "key", "part")), Seq("doc_id"))
        .select("doc_id", "band", "key")
        .repartition(dm.buckets, col("band"), col("key"))
        .sortWithinPartitions(col("band"), col("key")),
        s"${bandsDir(dedupDir, next.baseVersion)}/part=$part")
      Store.writeTable(dropTombed(side(readSigs(spark, dedupDir, dm.baseVersion)
          .filter(committedPart)
          .select("doc_id", "sig", "part")), Seq("doc_id"))
        .select("doc_id", "sig")
        .repartition(dm.buckets, col("doc_id")),
        s"${sigsDir(dedupDir, next.baseVersion)}/part=$part")
    }
    Store.writeTable(dropTombed(readPairs(spark, dedupDir, dm.baseVersion)
        .filter(committedPart), Seq("doc_a", "doc_b"))
      .select("doc_a", "doc_b")
      .repartition(dm.buckets, col("doc_a")),
      s"${pairsDir(dedupDir, next.baseVersion)}/part=base")
    carryInFlight(bandsDir(dedupDir, _))
    carryInFlight(sigsDir(dedupDir, _))
    carryInFlight(pairsDir(dedupDir, _))
    commit(dedupDir, next)
  }

  /** Drop generation directories no longer referenced by the dedup
    * manifest (replaced by [[compactIndex]]/[[purge]] or left by crashed
    * attempts). Returns the deleted paths relative to dedupDir. */
  def vacuum(spark: SparkSession, dedupDir: String): Seq[String] = {
    val dm = readManifest(dedupDir)
    val live = Seq(bandsDir _, sigsDir _, pairsDir _).map(_(dedupDir, dm.baseVersion)) ++
      Seq(dm.tombVersion -> tombDir _, dm.demotedVersion -> demotedDir _)
        .collect { case (v, dir) if v >= 0 => dir(dedupDir, v) }
    Store.sweep(dedupDir, Seq("bands", "sigs", "pairs", "tombstones", "demoted"), live.toSet)
  }

  /** Drain all available input files: one dedup+append per micro-batch. */
  def ingestAvailable(
      spark: SparkSession,
      inputDir: String,
      indexDir: String,
      dedupDir: String,
      cfg: IndexConfig,
      threshold: Double = DefaultThreshold,
      maxFilesPerTrigger: Int = 1024
  ): IndexManifest = {
    claimMode(indexDir, "dedup")
    val stream = spark.readStream
      .schema(StreamingIngest.pagesSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    val q = stream.writeStream
      .queryName(s"graft-dedup-ingest-${System.nanoTime()}")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$indexDir/_dedup_stream_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          applyBatch(spark, batch, indexDir, dedupDir, cfg, batchId, threshold); ()
        }
      }
      .start()
    q.awaitTermination()
    Manifest.read(s"$indexDir/manifest.json")
  }
}
