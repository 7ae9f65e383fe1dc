package graft

import graft.corpus.Pages
import graft.index.{IndexBuilder, IndexConfig, Manifest, Snapshots, Store}
import graft.query.{IndexReader, SnapshotDiff, Wand}
import graft.queries.QuerySet
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Snapshot export (the save_pretrained-analog portability surface) and
  * snapshot diff (the incremental-consumer verb). Export must produce a
  * SELF-CONTAINED index — only the snapshot's referenced dirs travel, it
  * answers identically, and it roots its own fresh commit chain. */
class SnapshotsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val cfg = IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 2, postingsBuckets = 2)
  private val SplitAt = 256L

  private def wandIds(h: graft.query.IndexHandle): Map[Int, Seq[(Double, Long)]] =
    Wand.topK(h, QuerySet.queries, 10).map { case (q, arr) => q -> arr.toSeq }

  /** build(0) → append(1) → delete(2) → compact(3), plus the delete set. */
  private lazy val (dir, deletedIds) = {
    val d = "/tmp/graft_snap_spec/chain"
    graft.queries.IndexCache.deleteRecursively(d)
    val pages = Pages.withInjections(spark, sfDir)
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < SplitAt), d, cfg)
    IndexBuilder.append(spark, pages.filter(col("doc_id") >= SplitAt), d, cfg)
    import spark.implicits._
    val ids = IndexReader.load(spark, d).docstats
      .filter(col("docId") % 4 === 1).map(_.docId).collect().toSet
    IndexBuilder.delete(spark, d, ids.toSeq)
    IndexBuilder.compact(spark, d)
    (d, ids)
  }

  test("exported snapshot is standalone and answer-identical; only referenced dirs travel") {
    val dest = "/tmp/graft_snap_spec/export1"
    graft.queries.IndexCache.deleteRecursively(dest)
    val m = Snapshots.export(spark, dir, 1, dest)
    // loads as a plain index and answers exactly like loadAt(source, 1)
    val he = IndexReader.load(spark, dest)
    assert(he.manifest == m)
    assert(wandIds(he) == wandIds(IndexReader.loadAt(spark, dir, 1)))
    // fresh chain root: exactly one snapshot, operation "export"
    assert(Manifest.history(dest).map(s => (s.snapshotId, s.operation)) == Seq((0, "export")))
    // snapshot 1 is pre-delete: no tombstone dir travels; only its
    // dictionary version and its two segments do
    assert(!Store.exists(s"$dest/tombstones"))
    assert(Store.list(s"$dest/dictionary") == Seq(f"v${m.dictVersion}%05d"))
    assert(Store.list(s"$dest/segments").toSet == m.segments.map(_.name).toSet)
    // provenance travels: the source lineage plus one export row
    assert(graft.index.Lineage.load(spark, dest).collect().exists(_.stage == "export"))
  }

  test("export of the compacted snapshot carries one merged segment and no garbage") {
    val dest = "/tmp/graft_snap_spec/export3"
    graft.queries.IndexCache.deleteRecursively(dest)
    val m = Snapshots.export(spark, dir, 3, dest)
    assert(m.tombVersion == -1 && m.segments.length == 1)
    assert(Store.list(s"$dest/segments").length == 1)
    assert(wandIds(IndexReader.load(spark, dest)) == wandIds(IndexReader.load(spark, dir)))
  }

  test("export roots a fresh chain: append composes on the exported index") {
    val dest = "/tmp/graft_snap_spec/export_grow"
    graft.queries.IndexCache.deleteRecursively(dest)
    Snapshots.export(spark, dir, 0, dest) // base-only state
    val m1 = IndexBuilder.append(spark,
      Pages.withInjections(spark, sfDir).filter(col("doc_id") >= SplitAt), dest, cfg)
    assert(m1.snapshotId == 1 && m1.operation == "append")
    assert(Manifest.history(dest).map(_.snapshotId) == Seq(0, 1))
    // appended export == the source's own post-append snapshot (candidate
    // sets; scores up to summation order, AppendSpec discipline)
    val qa = Wand.topK(IndexReader.load(spark, dest), QuerySet.queries, 100)
    val qb = Wand.topK(IndexReader.loadAt(spark, dir, 1), QuerySet.queries, 100)
    QuerySet.queries.foreach { q =>
      val a = qa(q.queryId).map { case (s, d) => d -> s }.toMap
      val b = qb(q.queryId).map { case (s, d) => d -> s }.toMap
      assert(a.keySet == b.keySet, s"q=${q.terms}")
      a.foreach { case (d, s) =>
        assert(math.abs(s - b(d)) <= 1e-9 * math.max(1.0, math.abs(s))) }
    }
  }

  test("export refuses a committed destination; replayed torn export self-heals") {
    val dest = "/tmp/graft_snap_spec/export_replay"
    graft.queries.IndexCache.deleteRecursively(dest)
    Snapshots.export(spark, dir, 2, dest)
    intercept[IllegalArgumentException](Snapshots.export(spark, dir, 2, dest))
    // torn export = copied dirs but no committed manifest → replay succeeds
    Store.delete(s"$dest/manifest.json")
    Store.delete(s"$dest/snapshots")
    val m = Snapshots.export(spark, dir, 2, dest)
    assert(IndexReader.load(spark, dest).manifest == m)
    assert(wandIds(IndexReader.load(spark, dest)) == wandIds(IndexReader.loadAt(spark, dir, 2)))
  }

  test("diff: removed == tombstoned ids, added == appended ids, self-diff empty") {
    import spark.implicits._
    def handleAt(id: Int) = IndexReader.loadAt(spark, dir, id)
    val d01 = SnapshotDiff.diff(handleAt(0), handleAt(1))
      .as[(Long, String)].collect().toSet
    assert(d01.forall(_._2 == "added"))
    val baseIds = handleAt(0).docstats.map(_.docId).collect().toSet
    val fullIds = handleAt(1).docstats.map(_.docId).collect().toSet
    assert(d01.map(_._1) == fullIds -- baseIds)
    val d12 = SnapshotDiff.diff(handleAt(1), handleAt(2))
      .as[(Long, String)].collect().toSet
    assert(d12 == deletedIds.map(id => (id, "removed")))
    // compaction changes no live content
    assert(SnapshotDiff.diff(handleAt(2), handleAt(3)).isEmpty)
    assert(SnapshotDiff.diff(handleAt(3), handleAt(3)).isEmpty)
  }
}
