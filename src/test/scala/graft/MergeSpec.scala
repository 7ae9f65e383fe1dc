package graft

import graft.corpus.Pages
import graft.index.{IndexBuilder, IndexConfig, IndexValidator, Manifest, Store}
import graft.query.{IndexReader, Wand}
import graft.queries.{IndexCache, QuerySet}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import IndexTestUtil.{decodedContent, fileSizes}

/** Index merge ([[IndexBuilder.merge]] — the `addIndexes` analog): folding
  * an independently built index into another must equal a fresh build over
  * the union corpus on dictionary stats, decoded content and scoring;
  * must rewrite NOTHING in the destination, leave the source read-only,
  * and move the source's compressed block payloads verbatim (termId remap
  * only — no re-encode); must carry source tombstones; and must refuse
  * id-space collisions and geometry/analyzer mismatches with no side
  * effects while treating a committed replay as a no-op. */
class MergeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  // multi-bucket geometry; the 250 split sits MID-bucket (250/64 = 3.9),
  // so the merged indexes share bucket 3 — exercising the in-bucket
  // firstDocId-ordered block concatenation the contract is built around
  private def cfg = IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 2,
    postingsBuckets = 2)
  private val Split = 250L
  private val Hi = 480L

  private def pages = Pages.withInjections(spark, sfDir)

  private def buildPair(root: String): (String, String) = {
    IndexCache.deleteRecursively(root)
    val (low, high) = (s"$root/low", s"$root/high")
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < Split), low, cfg)
    IndexBuilder.buildFrom(spark,
      pages.filter(col("doc_id") >= Split && col("doc_id") < Hi), high, cfg)
    (low, high)
  }

  private lazy val freshHandle = {
    val d = "/tmp/graft_merge_spec/fresh"
    IndexCache.deleteRecursively(d)
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < Hi), d, cfg)
    IndexReader.load(spark, d)
  }

  private def dictStats(h: graft.query.IndexHandle): Map[String, (Long, Long)] =
    h.dictionary.collect().map(e => e.term -> (e.df, e.cf)).toMap

  test("merged == fresh union build on dictionary stats, decoded content, live docstats, " +
    "manifest stats; WAND matches the from-the-definition oracle; validator green") {
    val (low, high) = buildPair("/tmp/graft_merge_spec/main")
    val mLow = Manifest.read(s"$low/manifest.json")
    val mHigh = Manifest.read(s"$high/manifest.json")
    val m = IndexBuilder.merge(spark, low, high)
    val h = IndexReader.load(spark, low)
    val fresh = freshHandle

    assert(m.operation == "merge")
    assert(m.nDocs == fresh.manifest.nDocs && m.totalLen == fresh.manifest.totalLen)
    assert(m.maxDocId == fresh.manifest.maxDocId && m.maxDocLen == fresh.manifest.maxDocLen)
    assert(m.segments.length == mLow.segments.length + mHigh.segments.length,
      "every source segment spans live docs in this fixture — all must fold in")
    // merged segment ranges never overlap (clamped lo) — compaction-safe
    val sorted = m.segments.sortBy(_.lo)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.hi <= b.lo, s"overlapping merged segments: $a, $b")
      case _         =>
    }
    // dictionary: same TERM stats as the union build (ids merge-order-local)
    assert(m.vocabSize == fresh.manifest.vocabSize)
    assert(dictStats(h) == dictStats(fresh))
    // physical payload equality, term-keyed
    assert(decodedContent(h) == decodedContent(fresh))
    // live docstats identical
    val gotDocs = h.docstats.collect().map(d => (d.docId, d.url, d.docLen)).sorted.toSeq
    val wantDocs = fresh.docstats.collect().map(d => (d.docId, d.url, d.docLen)).sorted.toSeq
    assert(gotDocs == wantDocs)

    // scoring: merged WAND == brute-force BM25 under the merged dictionary
    val cleaned = Pages.cleaned(pages).filter(col("doc_id") < Hi)
    val td = IndexBuilder.termDocs(cleaned, graft.tokenize.Tokenizers.default)
    val oracle = graft.query.OracleScorer.build(td, h.dictMap, m.nDocs, m.avgdl)
    val got = Wand.topK(h, QuerySet.queries, 10)
    QuerySet.queries.foreach { q =>
      assert(got(q.queryId).toSeq == oracle.topK(q.terms, 10).toSeq, s"q=${q.terms}")
    }
    assert(IndexValidator.validate(h).collect().isEmpty, "merged index must validate clean")
  }

  test("merge rewrites nothing in the destination, reads the source read-only, and " +
    "moves block payloads verbatim (no re-encode)") {
    val (low, high) = buildPair("/tmp/graft_merge_spec/phys")
    val mLow = Manifest.read(s"$low/manifest.json")
    val lowSegSizes = mLow.segments
      .map(s => s.name -> fileSizes(IndexBuilder.segmentDir(low, s))).toMap
    val highSizes = fileSizes(high)

    def payloads(dirs: Seq[String]): Map[(Long, Seq[Byte]), Int] = {
      import spark.implicits._
      spark.read.parquet(dirs: _*).as[graft.index.PostingBlock].collect()
        .map(b => (b.firstDocId, b.docIdGaps.toSeq))
        .groupBy(identity).map { case (k, v) => k -> v.length }
    }
    val before =
      payloads(IndexBuilder.postingsDirs(low, mLow) ++
        IndexBuilder.postingsDirs(high, Manifest.read(s"$high/manifest.json")))

    val m = IndexBuilder.merge(spark, low, high)

    // destination's pre-merge segment files byte-identical
    mLow.segments.foreach { s =>
      assert(fileSizes(IndexBuilder.segmentDir(low, s)) == lowSegSizes(s.name),
        s"destination segment ${s.name} files changed across a merge")
    }
    // source directory byte-identical (read-only input)
    assert(fileSizes(high) == highSizes, "merge mutated its read-only source")
    // every (firstDocId, docIdGaps) payload survives VERBATIM — the merge
    // never decodes or re-encodes a block
    assert(payloads(IndexBuilder.postingsDirs(low, m)) == before,
      "merged block payloads differ from the two inputs' — a block was re-encoded")
  }

  test("source tombstones carry through the merge; compaction composes on the merged " +
    "index (merged-then-compacted == fresh-deleted-then-compacted)") {
    val (low, high) = buildPair("/tmp/graft_merge_spec/tombed")
    val delIds = (300L until 310L)
    IndexBuilder.delete(spark, high, delIds)
    IndexBuilder.merge(spark, low, high)
    val h = IndexReader.load(spark, low)
    val live = h.docstats.collect().map(_.docId).toSet
    assert(delIds.forall(!live.contains(_)), "source tombstones lost in the merge")

    val freshDel = {
      val d = "/tmp/graft_merge_spec/fresh_del"
      IndexCache.deleteRecursively(d)
      IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < Hi), d, cfg)
      IndexBuilder.delete(spark, d, delIds)
      d
    }
    val want = IndexReader.load(spark, freshDel)
    assert(dictStats(h) == dictStats(want), "live df/cf after merged-in deletes diverged")
    assert(h.docstats.collect().map(_.docId).toSet ==
      want.docstats.collect().map(_.docId).toSet)

    // full compaction drops the merged-in tombstones physically
    IndexBuilder.compact(spark, low)
    IndexBuilder.compact(spark, freshDel)
    val hc = IndexReader.load(spark, low)
    val wc = IndexReader.load(spark, freshDel)
    assert(decodedContent(hc) == decodedContent(wc),
      "compaction over a merged index diverged from the fresh-built equivalent")
    assert(IndexValidator.validate(hc).collect().isEmpty)
  }

  test("FEDERATED search (topKSharded) over the UNMERGED shards ranks exactly like the " +
    "merged index — global nDocs/avgdl/df from manifests + live dictionaries — " +
    "including after a shard-side delete") {
    val (low, high) = buildPair("/tmp/graft_merge_spec/fed")
    val (low2, high2) = buildPair("/tmp/graft_merge_spec/fed_merged")
    IndexBuilder.merge(spark, low2, high2)

    def r6(s: Double) = BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // k=40 headroom, re-rank by the rounded score (rankedReport's oracle
    // key): shard-local addend order may differ from the merged index's
    // by last-ulp, never by rank
    def top10(res: Map[Int, Array[(Double, Long)]], qid: Int): Seq[(Double, Long)] =
      res(qid).toSeq.sortBy { case (s, d) => (-r6(s), d) }.take(10)
    def compare(shards: Seq[graft.query.IndexHandle], mergedDir: String): Unit = {
      val fed = Wand.topKSharded(shards, QuerySet.queries, Wand.Ranked(40))
      val want = Wand.topK(IndexReader.load(spark, mergedDir), QuerySet.queries, 40)
      QuerySet.queries.foreach { q =>
        val (g, w) = (top10(fed, q.queryId), top10(want, q.queryId))
        assert(g.map(_._2) == w.map(_._2),
          s"q=${q.terms}: federated docs ${g.map(_._2)} != merged ${w.map(_._2)}")
        g.zip(w).foreach { case ((gs, d), (ws, _)) =>
          assert(math.abs(gs - ws) < 1e-9, s"q=${q.terms} doc $d: $gs vs $ws")
        }
      }
    }
    compare(Seq(IndexReader.load(spark, low), IndexReader.load(spark, high)), low2)

    // a delete in ONE shard refreshes the GLOBAL stats (live df/nDocs)
    val delIds = (300L until 320L)
    IndexBuilder.delete(spark, high, delIds)
    IndexBuilder.delete(spark, low2, delIds)
    val shards = Seq(IndexReader.load(spark, low), IndexReader.load(spark, high))
    compare(shards, low2)

    // filtered federation == filtered single-index WAND over the merged
    // copy (global stats, metadata predicate narrows the result set only)
    val pred = org.apache.spark.sql.functions.col("docId") % 3 === 0
    val fedF = Wand.topKSharded(shards, QuerySet.queries, Wand.Ranked(40), Some(pred))
    val wantF = Wand.search(Seq(IndexReader.load(spark, low2) -> 1.0), QuerySet.queries, Wand.Ranked(40), Some(pred))
    QuerySet.queries.foreach { q =>
      val (g, w) = (top10(fedF, q.queryId), top10(wantF, q.queryId))
      assert(g.map(_._2) == w.map(_._2), s"filtered q=${q.terms}: ${g.map(_._2)} vs ${w.map(_._2)}")
      assert(g.map(_._2).forall(_ % 3 == 0), s"filtered q=${q.terms} leaked a non-matching doc")
      g.zip(w).foreach { case ((gs, d), (ws, _)) =>
        assert(math.abs(gs - ws) < 1e-9, s"filtered q=${q.terms} doc $d: $gs vs $ws")
      }
    }

    // COLLAPSED federation: one-result-per-group over the unmerged shards
    // == the merged index's collapsed ranking (the group key is computed
    // per shard's docstats; group-bests merge in the group-aware reduce)
    val key = org.apache.spark.sql.functions.col("docId") % 7
    val fedC = Wand.topKSharded(shards, QuerySet.queries, Wand.Ranked(10, Wand.Collapse(key)))
    val wantC = Wand.search(Seq(IndexReader.load(spark, low2) -> 1.0), QuerySet.queries, Wand.Ranked(10, Wand.Collapse(key)))
    QuerySet.queries.foreach { q =>
      val (g, w) = (fedC(q.queryId).toSeq, wantC(q.queryId).toSeq)
      assert(g.map(_._2) == w.map(_._2),
        s"collapsed q=${q.terms}: federated ${g.map(_._2)} != merged ${w.map(_._2)}")
      val groups = g.map(_._2 % 7)
      assert(groups.distinct.length == groups.length,
        s"collapsed q=${q.terms}: duplicate group across shards")
      g.zip(w).foreach { case ((gs, d), (ws, _)) =>
        assert(math.abs(gs - ws) < 1e-9, s"collapsed q=${q.terms} doc $d: $gs vs $ws")
      }
    }
  }

  test("append composes AFTER a merge: the merged index keeps ingesting like any other " +
    "(dictionary ids stay stable, stats == fresh build over everything)") {
    val (low, high) = buildPair("/tmp/graft_merge_spec/compose")
    IndexBuilder.merge(spark, low, high)
    val beforeDict = IndexReader.load(spark, low).dictionary.collect()
      .map(e => e.term -> e.termId).toMap
    IndexBuilder.append(spark, pages.filter(col("doc_id") >= Hi), low, cfg)
    val h = IndexReader.load(spark, low)
    // pre-append termIds unchanged (id stability across merge + append)
    h.dictionary.collect().foreach { e =>
      beforeDict.get(e.term).foreach(old => assert(e.termId == old, s"termId moved: ${e.term}"))
    }
    val freshAll = {
      val d = "/tmp/graft_merge_spec/compose_fresh"
      IndexCache.deleteRecursively(d)
      IndexBuilder.buildFrom(spark, pages, d, cfg)
      IndexReader.load(spark, d)
    }
    assert(dictStats(h) == dictStats(freshAll),
      "merge + append diverged from the fresh union build on dictionary stats")
    assert(decodedContent(h) == decodedContent(freshAll))
    assert(IndexValidator.validate(h).collect().isEmpty)
  }

  test("time travel composes with merge: the pre-merge snapshot stays answer-identical, " +
    "and retention vacuum collects the superseded dictionary while keeping the live state") {
    val (low, high) = buildPair("/tmp/graft_merge_spec/tt")
    val pre = Manifest.read(s"$low/manifest.json")
    val preTop = Wand.topK(IndexReader.load(spark, low), QuerySet.queries, 10)
    IndexBuilder.merge(spark, low, high)

    // the pre-merge commit is still queryable through the unchanged surface
    val gotPre = Wand.topK(IndexReader.loadAt(spark, low, pre.snapshotId), QuerySet.queries, 10)
    QuerySet.queries.foreach { q =>
      assert(gotPre(q.queryId).toSeq == preTop(q.queryId).toSeq,
        s"pre-merge snapshot drifted for q=${q.terms}")
    }

    // retain only the live commit: the pre-merge dictionary version is now
    // unreferenced garbage; the live (merged) state is untouched and still
    // equals the fresh union build on dictionary stats
    val removed = IndexBuilder.vacuum(spark, low, retainSnapshots = 1)
    assert(removed.exists(_.startsWith("dictionary/v00000")),
      s"superseded dictionary not collected: $removed")
    assert(dictStats(IndexReader.load(spark, low)) == dictStats(freshHandle))
    val e = intercept[RuntimeException](IndexReader.loadAt(spark, low, pre.snapshotId))
    assert(e.getMessage.contains("expired by vacuum retention"), e.getMessage)
  }

  test("a committed replay is a detected no-op; a genuine id-space collision is refused " +
    "with no side effects; geometry and analyzer mismatches are refused") {
    val (low, high) = buildPair("/tmp/graft_merge_spec/replay")
    val m1 = IndexBuilder.merge(spark, low, high)
    assert(IndexBuilder.merge(spark, low, high) == m1,
      "replaying a committed merge must be a no-op")

    // collision: an index overlapping the destination's span, not contained
    val clash = "/tmp/graft_merge_spec/clash"
    IndexCache.deleteRecursively(clash)
    IndexBuilder.buildFrom(spark,
      pages.filter(col("doc_id") >= 100 && col("doc_id") < 600), clash, cfg)
    val before = Manifest.read(s"$low/manifest.json")
    val e = intercept[IllegalArgumentException](IndexBuilder.merge(spark, low, clash))
    assert(e.getMessage.contains("collision"), e.getMessage)
    assert(Manifest.read(s"$low/manifest.json") == before,
      "a refused merge must leave the destination untouched")

    // geometry mismatch
    val geo = "/tmp/graft_merge_spec/geo"
    IndexCache.deleteRecursively(geo)
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") >= Hi), geo,
      cfg.copy(blockSize = 32, bucketRange = 128))
    val eGeo = intercept[IllegalArgumentException](IndexBuilder.merge(spark, low, geo))
    assert(eGeo.getMessage.contains("geometry"), eGeo.getMessage)

    // analyzer mismatch
    val ana = "/tmp/graft_merge_spec/ana"
    IndexCache.deleteRecursively(ana)
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") >= Hi), ana,
      cfg.copy(tokenizer = cfg.tokenizer.copy(lowercase = false)))
    val eAna = intercept[IllegalArgumentException](IndexBuilder.merge(spark, low, ana))
    assert(eAna.getMessage.contains("analyzer"), eAna.getMessage)
    assert(Manifest.read(s"$low/manifest.json") == before)
  }

  test("a merge of two vocabulary-capped builds is refused and leaves the destination " +
    "untouched") {
    val root = "/tmp/graft_merge_spec/capped"
    IndexCache.deleteRecursively(root)
    val (low, high) = (s"$root/low", s"$root/high")
    val capped = cfg.copy(vocabCap = Some(5))
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < Split), low, capped)
    IndexBuilder.buildFrom(spark,
      pages.filter(col("doc_id") >= Split && col("doc_id") < Hi), high, capped)
    val before = fileSizes(low)
    val manifestBefore = Store.readString(s"$low/manifest.json")
    val e = intercept[IllegalArgumentException](IndexBuilder.merge(spark, low, high))
    assert(e.getMessage.contains("vocabulary-capped"), e.getMessage)
    assert(Store.readString(s"$low/manifest.json") == manifestBefore)
    assert(fileSizes(low) == before, "a refused merge must leave the destination untouched")
  }

  test("driver-ranked dictionary path (source vocab ≤ broadcastVocabMax) is " +
    "bit-identical to the distributed full-outer + GlobalRank path") {
    // two deterministic, content-identical pairs; one merged per path
    val (lowS, highS) = buildPair("/tmp/graft_merge_spec/path_small")
    val (lowD, highD) = buildPair("/tmp/graft_merge_spec/path_dist")
    val mS = IndexBuilder.merge(spark, lowS, highS) // default bound → driver path
    val mD = IndexBuilder.merge(spark, lowD, highD, broadcastVocabMax = 0L) // forced distributed
    assert(mS.vocabSize == mD.vocabSize)
    val hS = IndexReader.load(spark, lowS)
    val hD = IndexReader.load(spark, lowD)
    // identical termId assignment AND stats — the paths' unique total order
    // ((df desc, term asc UTF-8-binary)) must agree exactly
    val dS = hS.dictionary.collect().map(e => (e.termId, e.term, e.df, e.cf)).sorted.toSeq
    val dD = hD.dictionary.collect().map(e => (e.termId, e.term, e.df, e.cf)).sorted.toSeq
    assert(dS == dD)
    // remapped payloads identical term-keyed
    assert(decodedContent(hS) == decodedContent(hD))
  }

  test("append and merge fold the same delta into the same dictionary v(N+1): identical " +
    "(termId, term, df, cf) rows and manifest stats") {
    // one copy ingests the delta pages through append, the other merges an
    // index built from those same pages; every delta doc carries one of five
    // terms the destination lacks, so fresh termIds (df ties included) are
    // assigned by both verbs
    val delta = pages.filter(col("doc_id") >= Split && col("doc_id") < Hi)
      .withColumn("text", concat(col("text"), lit(" novel"), (col("doc_id") % 5).cast("string")))
    val (lowA, _) = buildPair("/tmp/graft_merge_spec/fold_append")
    val (lowM, _) = buildPair("/tmp/graft_merge_spec/fold_merge")
    val src = "/tmp/graft_merge_spec/fold_merge/delta"
    IndexBuilder.buildFrom(spark, delta, src, cfg)
    val mA = IndexBuilder.append(spark, delta, lowA, cfg)
    val mM = IndexBuilder.merge(spark, lowM, src)

    def rows(dir: String) = IndexReader.load(spark, dir).dictionary.collect()
      .map(e => (e.termId, e.term, e.df, e.cf)).sorted.toSeq
    assert(rows(lowA).count(_._2.startsWith("novel")) == 5)
    assert(rows(lowA) == rows(lowM), "append and merge assigned termIds or stats differently")
    def stats(m: graft.index.IndexManifest) = (m.nDocs, m.totalLen, m.vocabSize, m.maxDocId,
      m.maxDocLen, m.skippedCorrupt, m.dictVersion)
    assert(stats(mA) == stats(mM))
  }

  test("a fold past the Int termId space throws \"termId overflow\" in both placements " +
    "and leaves the destination untouched") {
    // the destination claims a vocabulary one short of the Int termId space,
    // so the source's five novel terms (and its other fresh terms) cannot fit
    val delta = pages.filter(col("doc_id") >= Split && col("doc_id") < Hi)
      .withColumn("text", concat(col("text"), lit(" novel"), (col("doc_id") % 5).cast("string")))
    val (low, _) = buildPair("/tmp/graft_merge_spec/overflow")
    val src = "/tmp/graft_merge_spec/overflow/delta"
    IndexBuilder.buildFrom(spark, delta, src, cfg)
    val full = Manifest.read(s"$low/manifest.json").copy(vocabSize = Int.MaxValue - 1)
    Manifest.write(s"$low/manifest.json", full)
    // the default bound folds on the driver, 0 forces the distributed fold
    for (bound <- Seq(IndexConfig().broadcastVocabMax, 0L)) {
      val e = intercept[IllegalArgumentException](
        IndexBuilder.merge(spark, low, src, broadcastVocabMax = bound))
      assert(e.getMessage.contains("termId overflow"), s"bound $bound: ${e.getMessage}")
      assert(Manifest.read(s"$low/manifest.json") == full, s"bound $bound: manifest changed")
      assert(!Store.exists(IndexBuilder.dictDirFor(low, full.dictVersion + 1)),
        s"bound $bound: dictionary v(N+1) written before the overflow check")
    }
  }
}
