package graft

import graft.corpus.Pages
import graft.index.{IndexBuilder, IndexConfig, IndexValidator, Manifest, Store}
import graft.query.{IndexReader, Wand}
import graft.queries.{IndexCache, QuerySet}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import IndexTestUtil.{decodedContent, fileSizes}

/** LSM maintenance policy ([[IndexBuilder.maintain]]): the segment count is
  * bounded by size-tiered adjacent merges, each an exact-run compaction —
  * content, docstats and WAND results must be IDENTICAL to a fresh build,
  * the merge must fold EXACTLY the chosen run (even though segment
  * boundaries are not bucket-aligned), untouched segments' files must stay
  * physically untouched, and the verb must be a pure no-op when the index
  * is already within budget. */
class MaintainSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  // multi-bucket geometry: docIds < 480 span buckets 0..7 at range 64; the
  // chunk boundary (~80) and append boundaries (160, 320) sit MID-bucket,
  // so a bucket-rounded merge span would drag neighbors in — the fanIn
  // honesty this spec pins
  private def cfg = IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 2,
    postingsBuckets = 2)

  /** crawl-shaped fixture: 2-chunk base + two appends = 4 live segments. */
  private def buildCrawl(dir: String): Unit = {
    IndexCache.deleteRecursively(dir)
    val pages = Pages.withInjections(spark, sfDir)
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < 160), dir, cfg)
    IndexBuilder.append(spark, pages.filter(col("doc_id") >= 160 && col("doc_id") < 320), dir, cfg)
    IndexBuilder.append(spark, pages.filter(col("doc_id") >= 320 && col("doc_id") < 480), dir, cfg)
  }

  private lazy val freshHandle = {
    val d = "/tmp/graft_maintain_spec/fresh"
    IndexCache.deleteRecursively(d)
    IndexBuilder.buildFrom(spark,
      Pages.withInjections(spark, sfDir).filter(col("doc_id") < 480), d, cfg)
    IndexReader.load(spark, d)
  }

  test("partial maintain folds EXACTLY the chosen run; other segments' files untouched") {
    val dir = "/tmp/graft_maintain_spec/partial"
    buildCrawl(dir)
    val before = Manifest.read(s"$dir/manifest.json")
    assert(before.segments.length == 4, s"fixture: ${before.segments}")
    val sizesBefore = before.segments
      .map(s => s.name -> fileSizes(IndexBuilder.segmentDir(dir, s))).toMap

    val after = IndexBuilder.maintain(spark, dir, maxSegments = 3, fanIn = 2)
    // fanIn = 2 must fold exactly two segments into one — never a third,
    // even when the run's boundaries share a bucket with a neighbor
    assert(after.segments.length == 3, s"fanIn=2 folded ${4 - after.segments.length + 1}")
    val survivors = after.segments.toSet.intersect(before.segments.toSet)
    val replaced = before.segments.toSet -- after.segments.toSet
    val merged = (after.segments.toSet -- before.segments.toSet).toSeq
    assert(survivors.size == 2 && replaced.size == 2 && merged.length == 1)
    // the replaced pair is adjacent and the merged segment spans exactly it
    val rs = replaced.toSeq.sortBy(_.lo)
    assert(before.segments.indexOf(rs(1)) == before.segments.indexOf(rs(0)) + 1,
      s"replaced run not adjacent: $rs")
    assert(merged.head.lo == rs.map(_.lo).min && merged.head.hi == rs.map(_.hi).max)
    // segments surviving the merge are byte-identical on disk
    survivors.foreach { s =>
      assert(fileSizes(IndexBuilder.segmentDir(dir, s)) == sizesBefore(s.name),
        s"segment ${s.name} files changed across an unrelated merge")
    }
    // still a snapshot commit: id advanced, operation recorded
    assert(after.snapshotId > before.snapshotId && after.operation == "compact")
  }

  test("maintain to one segment == fresh build: content, docstats, WAND, validator") {
    val dir = "/tmp/graft_maintain_spec/full"
    buildCrawl(dir)
    val m = IndexBuilder.maintain(spark, dir, maxSegments = 1)
    assert(m.segments.length == 1, s"got ${m.segments}")
    val h = IndexReader.load(spark, dir)
    assert(decodedContent(h) == decodedContent(freshHandle), "postings content drifted")
    val gotStats = h.docstats.collect().map(s => (s.docId, s.docLen)).sortBy(_._1).toSeq
    val wantStats = freshHandle.docstats.collect().map(s => (s.docId, s.docLen)).sortBy(_._1).toSeq
    assert(gotStats == wantStats, "docstats drifted")
    assert(IndexValidator.validate(h).count() == 0)
    // EXACT double equality vs the from-definition scorer under the
    // maintained index's OWN dictionary (termIds are append-order-dependent
    // by design, so a fresh build sums impacts in a different order — the
    // last-ulp drift is the dictionary's, not the merge's; content equality
    // above already proves payload identity)
    val cleaned = Pages.cleaned(Pages.withInjections(spark, sfDir))
      .filter(col("doc_id") < 480)
    val td = IndexBuilder.termDocs(cleaned, graft.tokenize.Tokenizers.default)
    val oracle = graft.query.OracleScorer.build(td, h.dictMap, m.nDocs, m.avgdl)
    val got = Wand.topK(h, QuerySet.queries, 10)
    QuerySet.queries.foreach { q =>
      val want = oracle.topK(q.terms, 10)
      assert(got(q.queryId).toSeq == want.toSeq, s"q=${q.terms}")
    }

    // within budget → pure no-op: same manifest, no snapshot churn
    val again = IndexBuilder.maintain(spark, dir, maxSegments = 1)
    assert(again == m, "maintain within budget must be a no-op")
  }

  test("maintain drops in-span tombstones (merge + compaction compose)") {
    val dir = "/tmp/graft_maintain_spec/tombed"
    buildCrawl(dir)
    import spark.implicits._
    val ids = IndexReader.load(spark, dir).docstats
      .filter(col("docId") >= 200 && col("docId") < 250).map(_.docId).collect().toSeq
    assert(ids.nonEmpty)
    IndexBuilder.delete(spark, dir, ids)
    val m = IndexBuilder.maintain(spark, dir, maxSegments = 1)
    assert(m.segments.length == 1)
    assert(m.tombVersion == -1, "full-span maintain must clear tombstones")
    // content == fresh build minus the deleted docs
    val reb = "/tmp/graft_maintain_spec/tombed_rebuilt"
    IndexCache.deleteRecursively(reb)
    IndexBuilder.buildFrom(spark,
      Pages.withInjections(spark, sfDir)
        .filter(col("doc_id") < 480 && !col("doc_id").cast("long").isin(ids.map(Long.box): _*)),
      reb, cfg)
    val h = IndexReader.load(spark, dir)
    val hr = IndexReader.load(spark, reb)
    assert(decodedContent(h) == decodedContent(hr))
    assert(IndexValidator.validate(h).count() == 0)
  }

  test("Store.sizeOf sums segment bytes (the policy's metadata-only probe)") {
    val dir = "/tmp/graft_maintain_spec/sizeof"
    buildCrawl(dir)
    val m = Manifest.read(s"$dir/manifest.json")
    m.segments.foreach { s =>
      val d = IndexBuilder.segmentDir(dir, s)
      assert(Store.sizeOf(d) == fileSizes(d).values.sum, s"sizeOf mismatch for ${s.name}")
    }
    assert(Store.sizeOf(s"$dir/definitely_absent") == 0L)
  }
}
