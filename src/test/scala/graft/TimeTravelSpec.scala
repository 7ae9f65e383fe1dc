package graft

import graft.corpus.Pages
import graft.index.{IndexBuilder, IndexConfig, Manifest}
import graft.query.{IndexReader, Wand}
import graft.queries.QuerySet
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Snapshot time travel (Iceberg-shaped): every committing verb archives
  * the manifest it makes live as `snapshots/v%05d.json` before flipping the
  * pointer, so `IndexReader.loadAt(dir, id)` queries the index exactly as
  * of any retained commit. Reference analog: the tokenizer save/load JSON
  * as an immutable versioned artifact (midi_tokenizer.py:3510-3540) —
  * recast as a linear commit chain over one mutable index directory.
  *
  * Chain under test: build(0) → append(1) → delete(2) → compact(3), then
  * retention-window vacuum semantics. */
class TimeTravelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val cfg = IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 2, postingsBuckets = 2)
  private val SplitAt = 256L

  private def wandIds(h: graft.query.IndexHandle): Map[Int, Seq[(Double, Long)]] =
    Wand.topK(h, QuerySet.queries, 10).map { case (q, arr) => q -> arr.toSeq }

  /** The lifecycle chain dir plus, for each stage, an independent fresh
    * reference index in the equivalent state. */
  private lazy val dir: String = {
    val d = "/tmp/graft_tt_spec/chain"
    graft.queries.IndexCache.deleteRecursively(d)
    val pages = Pages.withInjections(spark, sfDir)
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < SplitAt), d, cfg)
    IndexBuilder.append(spark, pages.filter(col("doc_id") >= SplitAt), d, cfg)
    import spark.implicits._
    val ids = IndexReader.load(spark, d).docstats
      .filter(col("docId") % 4 === 1).map(_.docId).collect().toSeq
    IndexBuilder.delete(spark, d, ids)
    IndexBuilder.compact(spark, d)
    d
  }

  test("history lists the full commit chain with deterministic ids and operations") {
    val h = Manifest.history(dir)
    assert(h.map(_.snapshotId) == Seq(0, 1, 2, 3))
    assert(h.map(_.operation) == Seq("build", "append", "delete", "compact"))
    // live pointer == latest snapshot, bit-identical
    assert(Manifest.read(s"$dir/manifest.json") == h.last)
    // monotone corpus trajectory: append grows, delete shrinks, compact keeps
    assert(h(1).nDocs > h(0).nDocs)
    assert(h(2).nDocs < h(1).nDocs)
    assert(h(3).nDocs == h(2).nDocs && h(3).tombVersion == -1)
  }

  test("loadAt(0): pre-append state — WAND equals a fresh base-only build") {
    val ref = "/tmp/graft_tt_spec/ref_base"
    graft.queries.IndexCache.deleteRecursively(ref)
    IndexBuilder.buildFrom(spark,
      Pages.withInjections(spark, sfDir).filter(col("doc_id") < SplitAt), ref, cfg)
    val at0 = IndexReader.loadAt(spark, dir, 0)
    assert(at0.manifest == Manifest.read(s"$ref/manifest.json"))
    assert(wandIds(at0) == wandIds(IndexReader.load(spark, ref)))
  }

  test("loadAt(1): post-append pre-delete — full corpus, no tombstones") {
    val at1 = IndexReader.loadAt(spark, dir, 1)
    assert(at1.manifest.tombVersion == -1)
    val ref = "/tmp/graft_tt_spec/ref_full"
    graft.queries.IndexCache.deleteRecursively(ref)
    IndexBuilder.buildFrom(spark, Pages.withInjections(spark, sfDir), ref, cfg)
    val hRef = IndexReader.load(spark, ref)
    // candidate sets identical; scores match up to float summation order
    // (append re-ranks new terms, so impacts sum in a different order) —
    // same comparison discipline as AppendSpec
    val qa = Wand.topK(at1, QuerySet.queries, 100)
    val qf = Wand.topK(hRef, QuerySet.queries, 100)
    QuerySet.queries.foreach { q =>
      val a = qa(q.queryId).map { case (s, d) => d -> s }.toMap
      val f = qf(q.queryId).map { case (s, d) => d -> s }.toMap
      assert(a.keySet == f.keySet, s"q=${q.terms}: candidate docs differ")
      a.foreach { case (d, s) =>
        assert(math.abs(s - f(d)) <= 1e-9 * math.max(1.0, math.abs(s)),
          s"q=${q.terms} doc=$d: $s vs ${f(d)}")
      }
    }
  }

  test("loadAt(2) and loadAt(3): tombstoned and compacted states agree with live") {
    val at2 = IndexReader.loadAt(spark, dir, 2)
    val at3 = IndexReader.loadAt(spark, dir, 3)
    assert(at2.manifest.tombVersion >= 0)
    assert(at3.manifest == IndexReader.load(spark, dir).manifest)
    // delete-then-query == compact-then-query (exact: same stats, same live set)
    assert(wandIds(at2) == wandIds(at3))
  }

  test("snapshots are immutable across later commits (archived file re-read, not live)") {
    val before = graft.index.Store.readString(Manifest.snapshotPath(dir, 1))
    assert(Manifest.readAt(dir, 1).snapshotId == 1)
    assert(graft.index.Store.readString(Manifest.snapshotPath(dir, 1)) == before)
  }

  test("vacuum(retain=2) keeps the last two snapshots queryable, expires the rest") {
    // work on a copy so the shared chain fixture stays intact for other tests
    val d2 = "/tmp/graft_tt_spec/vac"
    graft.queries.IndexCache.deleteRecursively(d2)
    val pages = Pages.withInjections(spark, sfDir)
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < SplitAt), d2, cfg)
    IndexBuilder.append(spark, pages.filter(col("doc_id") >= SplitAt), d2, cfg)
    import spark.implicits._
    val ids = IndexReader.load(spark, d2).docstats
      .filter(col("docId") % 4 === 1).map(_.docId).collect().toSeq
    IndexBuilder.delete(spark, d2, ids)
    IndexBuilder.compact(spark, d2)

    val preVacAt2 = wandIds(IndexReader.loadAt(spark, d2, 2))
    val removed = IndexBuilder.vacuum(spark, d2, retainSnapshots = 2)
    assert(removed.exists(_.startsWith("snapshots/")), s"expected expired snapshots in $removed")
    assert(Manifest.history(d2).map(_.snapshotId) == Seq(2, 3))
    // retained snapshot still fully queryable: its dict/tombstone/segment
    // versions survived the vacuum even though the live manifest moved on
    assert(wandIds(IndexReader.loadAt(spark, d2, 2)) == preVacAt2)
    // expired snapshot fails actionably
    val e = intercept[RuntimeException](IndexReader.loadAt(spark, d2, 0))
    assert(e.getMessage.contains("expired by vacuum retention") &&
      e.getMessage.contains("[2, 3]"), e.getMessage)

    // retain=1 == the classic behavior: only the live snapshot remains,
    // and the live index still answers identically
    val liveBefore = wandIds(IndexReader.load(spark, d2))
    IndexBuilder.vacuum(spark, d2)
    assert(Manifest.history(d2).map(_.snapshotId) == Seq(3))
    assert(wandIds(IndexReader.load(spark, d2)) == liveBefore)
    assert(graft.index.IndexValidator.validate(IndexReader.load(spark, d2)).collect().isEmpty)
  }

  test("crash between snapshot archive and pointer flip: replay re-derives the same commit") {
    val d3 = "/tmp/graft_tt_spec/crash"
    graft.queries.IndexCache.deleteRecursively(d3)
    val pages = Pages.withInjections(spark, sfDir)
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < SplitAt), d3, cfg)
    IndexBuilder.append(spark, pages.filter(col("doc_id") >= SplitAt), d3, cfg)
    // simulate the torn commit: snapshot v1 archived, pointer still at v0
    val v0 = graft.index.Store.readString(Manifest.snapshotPath(d3, 0))
    val v1 = graft.index.Store.readString(Manifest.snapshotPath(d3, 1))
    graft.index.Store.writeString(s"$d3/manifest.json", v0)
    // replayed append reads the un-flipped base and overwrites the orphan
    IndexBuilder.append(spark, pages.filter(col("doc_id") >= SplitAt), d3, cfg)
    assert(graft.index.Store.readString(Manifest.snapshotPath(d3, 1)) == v1)
    assert(Manifest.read(s"$d3/manifest.json") == Manifest.readAt(d3, 1))
  }

  test("a TORN snapshot file (crash mid-archive) is skipped by history and collected " +
    "by vacuum instead of wedging both until hand-deleted") {
    val d4 = "/tmp/graft_tt_spec/torn"
    graft.queries.IndexCache.deleteRecursively(d4)
    val pages = Pages.withInjections(spark, sfDir)
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < SplitAt), d4, cfg)
    // a commit that died mid-write of its snapshot file: partial JSON,
    // newer than the live pointer
    graft.index.Store.writeString(Manifest.snapshotPath(d4, 1), """{"nDocs":12,"tot""")
    assert(Manifest.history(d4).map(_.snapshotId) == Seq(0),
      "history must skip the unparseable orphan, not die on it")
    val removed = IndexBuilder.vacuum(spark, d4)
    assert(removed.contains("snapshots/v00001.json"),
      s"vacuum must collect the torn snapshot file, removed only: $removed")
    assert(!graft.index.Store.exists(Manifest.snapshotPath(d4, 1)))
  }

  test("snapshot ids format/parse consistently past five digits (long-lived crawl loops)") {
    val d5 = "/tmp/graft_tt_spec/bigid"
    graft.queries.IndexCache.deleteRecursively(d5)
    val pages = Pages.withInjections(spark, sfDir)
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < SplitAt), d5, cfg)
    // fabricate a six-digit-id snapshot the way a 100k-commit index would
    val m = Manifest.read(s"$d5/manifest.json").copy(snapshotId = 123456)
    Manifest.commit(d5, m)
    assert(Manifest.history(d5).map(_.snapshotId) == Seq(0, 123456),
      "six-digit snapshot ids must be listed")
    assert(Manifest.readAt(d5, 123456) == m)
    // retention must expire the old snapshot and keep the six-digit live one
    val removed = IndexBuilder.vacuum(spark, d5, retainSnapshots = 1)
    assert(removed.contains("snapshots/v00000.json") &&
      !removed.exists(_.contains("123456")), s"wrong retention set: $removed")
  }
}
