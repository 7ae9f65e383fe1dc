package graft

import graft.corpus.Pages
import graft.index.{IndexBuilder, IndexConfig, IndexValidator, Manifest}
import graft.pipeline.Dedup
import graft.query.IndexReader
import graft.streaming.DedupIngest
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Streaming ingest with inline dedup — the crawl loop: per micro-batch,
  * near-dups of committed corpus docs (and of smaller-id batch docs) are
  * dropped by signature-estimated Jaccard against the persisted dedup
  * index, survivors append to the inverted index, and the dedup index
  * grows so LATER batches dedup against EARLIER batches' survivors. */
class StreamingDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val cfg = IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 1, postingsBuckets = 2)

  private def copyOf(src: Long, newId: Long) = {
    val base = Pages.base(spark, sfDir)
    base.filter(col("doc_id") === src)
      .select(lit(newId).as("doc_id"),
        concat(lit("https://copy/"), lit(newId)).as("url"),
        col("warc_ts"), col("html"), col("text"), col("lang"))
  }

  test("two batches: cross-corpus dups, in-batch dups, and cross-BATCH dups all drop; " +
    "survivors == rebuild; replay is a no-op") {
    val root = "/tmp/graft_test_index/stream_dedup"
    graft.queries.IndexCache.deleteRecursively(root)
    val indexDir = s"$root/index"
    val dedupDir = s"$root/dedup"
    val inputDir = s"$root/incoming"

    val pages = Pages.withInjections(spark, sfDir).persist()
    val bootstrapPages = pages.filter(col("doc_id") < 192)
    IndexBuilder.buildFrom(spark, bootstrapPages, indexDir, cfg)
    DedupIngest.bootstrap(spark, bootstrapPages, dedupDir, cfg)

    val base = Pages.base(spark, sfDir)
    // batch 1: fresh docs 200..249 + copy of corpus doc 5 (id 260) +
    // in-batch copy of fresh doc 200 (id 261) + copy of corpus doc 6 (262)
    base.filter(col("doc_id") >= 200 && col("doc_id") < 250)
      .unionByName(copyOf(5L, 260L))
      .unionByName(copyOf(200L, 261L))
      .unionByName(copyOf(6L, 262L))
      .coalesce(1).write.mode("overwrite").parquet(s"$inputDir/part1")
    Thread.sleep(1100) // distinct mtimes → deterministic file-source order
    // batch 2: copy of BATCH-1 survivor 210 (id 300, must hit the grown
    // dedup index) + genuinely fresh doc (301 = corpus row 490's text,
    // never indexed)
    copyOf(210L, 300L)
      .unionByName(copyOf(490L, 301L))
      .coalesce(1).write.mode("append").parquet(s"$inputDir/part2")

    val m = DedupIngest.ingestAvailable(spark, s"$inputDir/*", indexDir, dedupDir, cfg,
      maxFilesPerTrigger = 1)

    // ground truth: rebuild over bootstrap ∪ the expected survivors
    val expectedSurvivors = base
      .filter((col("doc_id") >= 200 && col("doc_id") < 250))
      .unionByName(copyOf(490L, 301L))
    val full = s"$root/full"
    IndexBuilder.buildFrom(spark, bootstrapPages.unionByName(expectedSurvivors), full, cfg)
    val mf = Manifest.read(s"$full/manifest.json")
    assert(m.nDocs == mf.nDocs && m.totalLen == mf.totalLen,
      s"survivor set differs: (${m.nDocs},${m.totalLen}) vs rebuild (${mf.nDocs},${mf.totalLen})")
    val dict = IndexReader.load(spark, indexDir).dictionary.collect()
      .map(e => (e.term, e.df, e.cf)).filter(_._2 > 0).toSet
    val dictFull = IndexReader.load(spark, full).dictionary.collect()
      .map(e => (e.term, e.df, e.cf)).filter(_._2 > 0).toSet
    assert(dict == dictFull,
      s"dict diff: ${(dict -- dictFull).take(5)} / ${(dictFull -- dict).take(5)}")
    // the dropped ids never made it in; 301 did
    val docIds = IndexReader.load(spark, indexDir).docstats.collect().map(_.docId).toSet
    assert(!docIds.contains(260L) && !docIds.contains(261L) &&
      !docIds.contains(262L) && !docIds.contains(300L), "a near-dup survived ingest")
    assert(docIds.contains(301L) && docIds.contains(249L), "a fresh doc was wrongly dropped")
    assert(IndexValidator.validate(IndexReader.load(spark, indexDir)).collect().isEmpty)

    // drained-stream re-run: checkpoint + cursor make it a pure no-op
    val after = DedupIngest.ingestAvailable(spark, s"$inputDir/*", indexDir, dedupDir, cfg,
      maxFilesPerTrigger = 1)
    assert(after == m, "drained dedup-ingest re-run modified the index")
    pages.unpersist()
  }

  test("mixing plain and dedup streaming on one index fails loudly (mode marker)") {
    // self-contained: a fresh index dir stamped with the dedup mode
    val indexDir = "/tmp/graft_test_index/stream_dedup_mode"
    graft.queries.IndexCache.deleteRecursively(indexDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(indexDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$indexDir/_ingest_mode"), "dedup")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.ingestAvailable(
        spark, s"$indexDir/incoming/*", indexDir, cfg)
    }
    assert(e.getMessage.contains("ingest"), s"unexpected error: ${e.getMessage}")
  }

  test("purge: re-crawled deleted content is admissible even after index compaction; " +
    "without purge the stale signature would veto it") {
    import spark.implicits._
    def setup(root: String, doPurge: Boolean): Long = {
      graft.queries.IndexCache.deleteRecursively(root)
      val indexDir = s"$root/index"
      val dedupDir = s"$root/dedup"
      val bootstrapPages = Pages.withInjections(spark, sfDir).filter(col("doc_id") < 192)
      IndexBuilder.buildFrom(spark, bootstrapPages, indexDir, cfg)
      DedupIngest.bootstrap(spark, bootstrapPages, dedupDir, cfg)
      // delete doc 5, then COMPACT (clears the index's own tombstones)
      IndexBuilder.delete(spark, indexDir, Seq(5L))
      if (doPurge) DedupIngest.purge(spark, dedupDir, Seq(5L).toDF("doc_id"))
      IndexBuilder.compact(spark, indexDir)
      // re-crawl of doc 5's content at a fresh id
      DedupIngest.applyBatch(spark, copyOf(5L, 400L), indexDir, dedupDir, cfg, batchId = 1L)
      IndexReader.load(spark, indexDir).docstats.filter(col("docId") === 400L).count()
    }
    assert(setup("/tmp/graft_test_index/stream_dedup_purge", doPurge = true) == 1L,
      "purged content's re-crawl must be admitted")
    assert(setup("/tmp/graft_test_index/stream_dedup_nopurge", doPurge = false) == 0L,
      "fixture: without purge the stale signature should veto the re-crawl " +
        "(this is exactly why purge exists)")
  }

  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    java.nio.file.Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
  }

  private def parquetFiles(dir: String): Int = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0
    else {
      var n = 0
      java.nio.file.Files.walk(root).forEach(p =>
        if (p.getFileName.toString.endsWith(".parquet")) n += 1)
      n
    }
  }

  test("dedup-index lifecycle: batches + purge + compact + vacuum — admission decisions " +
    "identical to pre-compaction, bounded file count, multi-file tombstone write") {
    import spark.implicits._
    val root = "/tmp/graft_test_index/dedup_lifecycle"
    graft.queries.IndexCache.deleteRecursively(root)
    val indexDir = s"$root/index"
    val dedupDir = s"$root/dedup"
    val bootstrapPages = Pages.withInjections(spark, sfDir).filter(col("doc_id") < 192)
    IndexBuilder.buildFrom(spark, bootstrapPages, indexDir, cfg)
    DedupIngest.bootstrap(spark, bootstrapPages, dedupDir, cfg)
    val base = Pages.base(spark, sfDir)

    // two batches: fresh docs + a cross dup (shadow rows accumulate)
    DedupIngest.applyBatch(spark,
      base.filter(col("doc_id") >= 300 && col("doc_id") < 320).unionByName(copyOf(5L, 330L)),
      indexDir, dedupDir, cfg, batchId = 1L)
    DedupIngest.applyBatch(spark,
      base.filter(col("doc_id") >= 340 && col("doc_id") < 350).unionByName(copyOf(300L, 351L)),
      indexDir, dedupDir, cfg, batchId = 2L)

    // GDPR-ish purge of a docId range; the merged tombstone table must be a
    // bucket-clustered MULTI-file write (no single-task funnel)
    IndexBuilder.deleteByIds(spark, indexDir,
      spark.range(0, 64).toDF("doc_id"))
    DedupIngest.purge(spark, dedupDir, spark.range(0, 64).toDF("doc_id"))
    val dmAfterPurge = DedupIngest.readManifest(dedupDir)
    assert(dmAfterPurge.tombVersion == 0)
    assert(parquetFiles(DedupIngest.tombDir(dedupDir, 0)) > 1,
      "tombstone table written through a single task")

    // clone BOTH indexes, compact only the original's dedup index — then
    // the same batch must make identical admission decisions on both
    val clone = s"${root}_clone"
    graft.queries.IndexCache.deleteRecursively(clone)
    copyDir(root, clone)
    val dmC = DedupIngest.compactIndex(spark, dedupDir, indexDir)
    assert(dmC.baseVersion == 1 && dmC.tombVersion == -1)
    // bootstrap, batch, pair-log, purge and compaction writes all went
    // through the one table writer
    val codecs = IndexTestUtil.parquetChunks(dedupDir).map(_.codec).toSet
    assert(codecs == Set("ZSTD"), s"dedup tables written with $codecs")
    val removed = DedupIngest.vacuum(spark, dedupDir)
    assert(removed.nonEmpty, "expected replaced dedup generations to vacuum")
    // bounded file count: buckets files per (base|shadow) part per table
    assert(parquetFiles(DedupIngest.bandsDir(dedupDir, 1)) <= 2 * dmC.buckets,
      "compaction did not bound the bands file count")

    // probe batch: re-crawl of PURGED content (admit), dup of live batch
    // doc (drop), dup of bootstrap live doc (drop), fresh doc (admit)
    def probeBatch = copyOf(5L, 400L)
      .unionByName(copyOf(300L, 401L))
      .unionByName(copyOf(100L, 402L))
      .unionByName(copyOf(480L, 403L)) // 480 never ingested → fresh text
    val mOrig = DedupIngest.applyBatch(spark, probeBatch, indexDir, dedupDir, cfg, batchId = 3L)
    val mClone = DedupIngest.applyBatch(spark, probeBatch,
      s"$clone/index", s"$clone/dedup", cfg, batchId = 3L)
    val liveOrig = IndexReader.load(spark, indexDir).docstats.collect().map(_.docId).toSet
    val liveClone = IndexReader.load(spark, s"$clone/index").docstats.collect().map(_.docId).toSet
    assert(liveOrig == liveClone,
      s"compaction changed admission decisions: ${(liveOrig -- liveClone).take(5)} / ${(liveClone -- liveOrig).take(5)}")
    assert(liveOrig.contains(400L) && liveOrig.contains(403L), "purged re-crawl / fresh doc rejected")
    assert(!liveOrig.contains(401L) && !liveOrig.contains(402L), "a near-dup of live content admitted")
    assert(mOrig.nDocs == mClone.nDocs)
  }

  /** token-window text builder: doc i = tokens [lo, lo+n) — shifted windows
    * give precisely controlled shingle overlap for chain fixtures. */
  private def windowText(lo: Int, n: Int): String =
    (lo until lo + n).map(i => s"w$i").mkString(" ")

  private def pageOf(id: Long, text: String) = {
    import spark.implicits._
    Seq((id, text)).toDF("doc_id", "text")
      .select(col("doc_id"),
        concat(lit("https://chain/"), col("doc_id")).as("url"),
        timestamp_seconds(lit(Pages.EpochSeconds)).as("warc_ts"),
        encode(col("text"), "UTF-8").as("html"), col("text"), lit("en").as("lang"))
  }

  test("GLOBAL reconcile: chains through dropped docs collapse to the full-rebuild " +
    "keep-min live set; demoted victims stop vetoing but keep their edges") {
    import spark.implicits._
    val root = "/tmp/graft_test_index/dedup_reconcile"
    graft.queries.IndexCache.deleteRecursively(root)
    val indexDir = s"$root/index"
    val dedupDir = s"$root/dedup"
    val t = 0.8

    // chain: A ≈ B ≈ C but A ≉ C (shifted 200-token windows; measured
    // estimator values 0.875 / 0.875 / 0.75 straddle t=0.8); D unrelated
    val (aTxt, bTxt, cTxt) = (windowText(0, 200), windowText(15, 200), windowText(30, 200))
    val dTxt = windowText(5000, 100)
    // fixture shape: the estimator must see B near A, C near B, C NOT near A
    def est(x: String, y: String): Double = {
      val s = Dedup.signaturesOf(Seq((1L, x), (2L, y)).toDF("doc_id", "text")).collect()
      val (sx, sy) = (s.find(_.docId == 1L).get.sig, s.find(_.docId == 2L).get.sig)
      sx.zip(sy).count { case (u, v) => u == v }.toDouble / Dedup.NumHashes
    }
    assert(est(aTxt, bTxt) >= t, s"fixture: est(A,B)=${est(aTxt, bTxt)} must pass $t")
    assert(est(bTxt, cTxt) >= t, s"fixture: est(B,C)=${est(bTxt, cTxt)} must pass $t")
    assert(est(aTxt, cTxt) < t, s"fixture: est(A,C)=${est(aTxt, cTxt)} must fail $t")

    // seed index with one unrelated doc; dedup index auto-initializes
    // (ensureInit — no explicit bootstrap call)
    IndexBuilder.buildFrom(spark, pageOf(1L, windowText(9000, 50)), indexDir, cfg)
    DedupIngest.applyBatch(spark, pageOf(10L, aTxt).unionByName(pageOf(11L, dTxt)),
      indexDir, dedupDir, cfg, batchId = 1L, threshold = t)
    // B: dropped cross vs A → shadow row + edge (10,20)
    DedupIngest.applyBatch(spark, pageOf(20L, bTxt), indexDir, dedupDir, cfg,
      batchId = 2L, threshold = t)
    // C: not near live A, near SHADOW B → admitted online, edge (20,30)
    DedupIngest.applyBatch(spark, pageOf(30L, cTxt), indexDir, dedupDir, cfg,
      batchId = 3L, threshold = t)
    val liveBefore = IndexReader.load(spark, indexDir).docstats.collect().map(_.docId).toSet
    assert(liveBefore == Set(1L, 10L, 11L, 30L),
      s"online admission shape off: $liveBefore (C must survive online — that IS the gap)")

    // reconcile: CC over the pair log {(10,20),(20,30)} → component min 10;
    // live victim C(30) is tombstoned + demoted
    val n = DedupIngest.reconcile(spark, indexDir, dedupDir)
    assert(n == 1L, s"expected exactly one reconcile victim, got $n")
    val liveAfter = IndexReader.load(spark, indexDir).docstats.collect().map(_.docId).toSet

    // ground truth: global dedup over ALL crawled docs with the same
    // estimator — LSH candidates, est filter, CC keep-min
    val all = Seq((1L, windowText(9000, 50)), (10L, aTxt), (11L, dTxt),
      (20L, bTxt), (30L, cTxt)).toDF("doc_id", "text")
    val sigsAll = Dedup.signaturesOf(all).localCheckpoint(true)
    val sigMap = sigsAll.collect().map(s => s.docId -> s.sig).toMap
    val edges = Dedup.lshCandidates(sigsAll).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (x, y) =>
        sigMap(x).zip(sigMap(y)).count { case (u, v) => u == v }.toDouble / Dedup.NumHashes >= t }
    val losers = graft.pipeline.Components.connectedComponents(
        edges.toSeq.toDF("id_a", "id_b"))
      .filter(col("id") =!= col("component")).collect().map(_.getLong(0)).toSet
    val expected = Set(1L, 10L, 11L, 20L, 30L) -- losers
    assert(liveAfter == expected,
      s"reconciled live set $liveAfter != full-rebuild global dedup $expected")

    // idempotent: a second reconcile finds nothing
    assert(DedupIngest.reconcile(spark, indexDir, dedupDir) == 0L)

    // demote semantics: a re-crawl of C's content is NOT vetoed by the
    // demoted victim (admitted online), but its logged edge to C pulls it
    // into the component at the NEXT reconcile — eventual global
    // consistency
    DedupIngest.applyBatch(spark, pageOf(40L, cTxt), indexDir, dedupDir, cfg,
      batchId = 4L, threshold = t)
    assert(IndexReader.load(spark, indexDir).docstats.collect().map(_.docId).toSet
      .contains(40L), "demoted victim must not veto admission")
    assert(DedupIngest.reconcile(spark, indexDir, dedupDir) == 1L,
      "second-generation dup must fall at the next reconcile")
  }

  test("replayed batch id (at-least-once delivery) is a committed no-op for BOTH indexes") {
    val root = "/tmp/graft_test_index/stream_dedup_replay"
    graft.queries.IndexCache.deleteRecursively(root)
    val indexDir = s"$root/index"
    val dedupDir = s"$root/dedup"
    val pages = Pages.withInjections(spark, sfDir)
    val bootstrapPages = pages.filter(col("doc_id") < 192)
    IndexBuilder.buildFrom(spark, bootstrapPages, indexDir, cfg)
    DedupIngest.bootstrap(spark, bootstrapPages, dedupDir, cfg)
    val batch = Pages.base(spark, sfDir)
      .filter(col("doc_id") >= 200 && col("doc_id") < 230)
      .unionByName(copyOf(5L, 290L))
    val m1 = DedupIngest.applyBatch(spark, batch, indexDir, dedupDir, cfg, batchId = 3L)
    assert(m1.lastBatchId == 3L)
    val bandsBefore = DedupIngest.liveBands(spark, dedupDir).count()
    val m2 = DedupIngest.applyBatch(spark, batch, indexDir, dedupDir, cfg, batchId = 3L)
    assert(m2 == m1, "replayed batch changed the manifest")
    assert(DedupIngest.liveBands(spark, dedupDir).count() == bandsBefore,
      "replayed batch grew the dedup index")
  }

  test("compactIndex between a crashed batch and its replay: the in-flight partitions " +
    "pass through by name, so the replay cannot estimator-match its own partial write") {
    val root = "/tmp/graft_test_index/dedup_crash_compact"
    graft.queries.IndexCache.deleteRecursively(root)
    val indexDir = s"$root/index"
    val dedupDir = s"$root/dedup"
    val bootstrapPages = Pages.withInjections(spark, sfDir).filter(col("doc_id") < 192)
    IndexBuilder.buildFrom(spark, bootstrapPages, indexDir, cfg)
    DedupIngest.bootstrap(spark, bootstrapPages, dedupDir, cfg)
    val base = Pages.base(spark, sfDir)
    def batch1 = base.filter(col("doc_id") >= 200 && col("doc_id") < 210)
      .unionByName(copyOf(5L, 260L)) // fresh docs + one cross dup

    // simulate applyBatch(1) crashing AFTER its dedup-index partition
    // writes but BEFORE the inverted-index append committed the cursor:
    // run the full batch against a scratch twin and copy only the dedup
    // partitions (part=b1 / part=s1) into the main dedup index
    val scratch = s"$root/scratch"
    IndexBuilder.buildFrom(spark, bootstrapPages, s"$scratch/index", cfg)
    DedupIngest.bootstrap(spark, bootstrapPages, s"$scratch/dedup", cfg)
    DedupIngest.applyBatch(spark, batch1, s"$scratch/index", s"$scratch/dedup", cfg, batchId = 1L)
    for (table <- Seq("bands", "sigs", "pairs"); part <- Seq("part=b1", "part=s1")) {
      val src = s"$scratch/dedup/$table/v00000/$part"
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
        copyDir(src, s"$dedupDir/$table/v00000/$part")
    }
    assert(Manifest.read(s"$indexDir/manifest.json").lastBatchId == -1L,
      "fixture: the crashed batch must not have committed the cursor")

    // maintenance runs before the replay arrives
    val dmC = DedupIngest.compactIndex(spark, dedupDir, indexDir)
    val partsAfter = graft.index.Store.list(DedupIngest.bandsDir(dedupDir, dmC.baseVersion))
    assert(partsAfter.contains("part=b1"),
      s"in-flight batch partition folded away by compaction: $partsAfter")

    // the replay must now admit the batch exactly as a crash-free run would
    // (claim the dedup mode first — the scratch run stamped its own marker,
    // the main index never got one because the 'crash' preceded append)
    val m = DedupIngest.applyBatch(spark, batch1, indexDir, dedupDir, cfg, batchId = 1L)
    val live = IndexReader.load(spark, indexDir).docstats.collect().map(_.docId).toSet
    assert((200L until 210L).forall(live.contains),
      s"replayed batch dropped itself after compaction: $live")
    assert(!live.contains(260L), "cross dup admitted")
    assert(m.lastBatchId == 1L)
    // a second compaction (everything now committed) folds the partitions in
    val dmC2 = DedupIngest.compactIndex(spark, dedupDir, indexDir)
    val partsFinal = graft.index.Store.list(DedupIngest.bandsDir(dedupDir, dmC2.baseVersion))
    assert(!partsFinal.exists(_.startsWith("part=b1")),
      s"committed batch partition not folded: $partsFinal")
    // and the folded index still vetoes correctly
    val m2 = DedupIngest.applyBatch(spark, copyOf(200L, 270L), indexDir, dedupDir, cfg,
      batchId = 2L)
    assert(m2.nDocs == m.nDocs, "post-fold probe admitted a near-dup of a live doc")
  }

  test("a non-empty directory without a dedup manifest is refused, not silently " +
    "re-bootstrapped as an empty index") {
    import spark.implicits._
    val dedupDir = "/tmp/graft_test_index/dedup_not_an_index"
    graft.queries.IndexCache.deleteRecursively(dedupDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dedupDir/bands"))
    val e = intercept[IllegalArgumentException] {
      DedupIngest.purge(spark, dedupDir, Seq(1L).toDF("doc_id"))
    }
    assert(e.getMessage.contains("manifest"), s"unexpected error: ${e.getMessage}")
  }

  test("percolate composes with the crawl loop: saved searches fire only on " +
    "docs the batch actually ADMITTED — a dropped near-dup never alerts") {
    import spark.implicits._
    import graft.query.{Percolate, QueryParser}
    import graft.tokenize.Tokenizers
    val root = "/tmp/graft_test_index/stream_percolate"
    graft.queries.IndexCache.deleteRecursively(root)
    val indexDir = s"$root/index"
    val dedupDir = s"$root/dedup"
    val analyzer = Tokenizers.default
    val bootstrapPages = Pages.withInjections(spark, sfDir).filter(col("doc_id") < 192)
    IndexBuilder.buildFrom(spark, bootstrapPages, indexDir, cfg)
    DedupIngest.bootstrap(spark, bootstrapPages, dedupDir, cfg)
    val base = Pages.base(spark, sfDir)
    // batch: fresh docs 200..219 + a near-dup of committed doc 5 (id 260 —
    // TEXTUALLY a query match, but dedup must drop it)
    val batch = base.filter(col("doc_id") >= 200 && col("doc_id") < 220)
      .unionByName(copyOf(5L, 260L))
    val before = IndexReader.load(spark, indexDir).docstats.collect().map(_.docId).toSet
    DedupIngest.applyBatch(spark, batch, indexDir, dedupDir, cfg, batchId = 1L)
    val admitted = IndexReader.load(spark, indexDir).docstats.collect()
      .map(_.docId).toSet -- before
    assert(!admitted.contains(260L) && admitted.contains(200L))
    // saved searches: doc 5's own leading tokens guarantee 260's TEXT matches
    val d5 = base.filter(col("doc_id") === 5).select("text").as[String].head()
    val ts = analyzer.terms(d5).distinct
    val saved: Seq[(Int, String)] = Seq(
      (1, ts.head),                              // plain term from doc 5
      (2, s"+${ts.head} ${ts(1)}"),              // required + scoring
      (3, "\"" + analyzer.terms(d5)(0) + " " + analyzer.terms(d5)(1) + "\""))  // leading bigram phrase
    val parsed = saved.map { case (qid, s) => QueryParser.parse(qid, s, analyzer) }
    // the alerting pass: percolate ONLY what this trigger admitted
    val alertDocs = Pages.cleaned(batch).filter(
      col("doc_id").isin(admitted.toSeq.map(Long.box): _*))
    val fired = Percolate.matches(alertDocs, parsed, analyzer)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    // 260's text matches at least query 1 — but it was dropped, so NO alert
    assert(analyzer.terms(base.filter(col("doc_id") === 260).select("text")
      .as[String].head()).contains(ts.head), "fixture broken: 260 should match textually")
    assert(!fired.exists(_._2 == 260L), "a dedup-dropped doc fired an alert")
    // ground truth over the admitted docs, tokenizer-side
    val texts = alertDocs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect()
    val want = (for {
      q <- parsed
      (d, tx) <- texts
      pos = analyzer.tokenize(tx).groupBy(_._1)
        .map { case (t, v) => t -> v.map(_._2).sorted }
      if q.scoring.exists(t => pos.contains(t._1)) &&
        q.required.forall(pos.contains) &&
        q.phrases.forall(ph => {
          var cand = pos.getOrElse(ph.terms.head, Array.empty[Int])
          var i = 1
          while (i < ph.terms.length && cand.nonEmpty) {
            val next = pos.getOrElse(ph.terms(i), Array.empty[Int])
            cand = next.filter(n => cand.exists(p => n > p && n <= p + 1 + ph.slop))
            i += 1
          }
          cand.nonEmpty
        })
    } yield (q.queryId, d)).toSet
    assert(fired == want, s"alerting: extra=${fired -- want} missing=${want -- fired}")
  }
}
