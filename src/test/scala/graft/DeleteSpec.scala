package graft

import graft.corpus.Pages
import graft.index.{IndexBuilder, IndexConfig, Manifest}
import graft.query.{IndexReader, QuerySpec, Wand}
import graft.queries.IndexCache
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Tombstone delete — the third lifecycle verb. The contract: after
  * delete(ids), every query surface behaves as if the index had been
  * REBUILT without those docs (exact df/cf/N/avgdl, rank-identical BM25),
  * while postings stay physically untouched until compaction. */
class DeleteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val (delHandle, rebuiltHandle, deletedIds) = {
    val delDir = "/tmp/graft_delete_spec/deleted"
    val rebDir = "/tmp/graft_delete_spec/rebuilt"
    Seq(delDir, rebDir).foreach(d => IndexCache.deleteRecursively(d))
    IndexBuilder.build(spark, sfDir, delDir, IndexConfig())
    val h0 = IndexReader.load(spark, delDir)
    import spark.implicits._
    val ids = h0.docstats.filter(col("docId") % 3 === 0).map(_.docId).collect().toSeq
    IndexBuilder.delete(spark, delDir, ids)
    // rebuild from the corpus minus those docs
    val pages = Pages.withInjections(spark, sfDir)
      .filter(!col("doc_id").cast("long").isin(ids.map(Long.box): _*))
    IndexBuilder.buildFrom(spark, pages, rebDir, IndexConfig())
    (IndexReader.load(spark, delDir), IndexReader.load(spark, rebDir), ids)
  }

  test("delete == rebuild: live dictionary stats identical (df>0 rows, keyed by term)") {
    val a = delHandle.dictionary.collect().filter(_.df > 0).map(e => (e.term, e.df, e.cf)).toSet
    val b = rebuiltHandle.dictionary.collect().filter(_.df > 0).map(e => (e.term, e.df, e.cf)).toSet
    assert(a == b, s"dict diff: onlyDeleted=${(a -- b).take(5)} onlyRebuilt=${(b -- a).take(5)}")
    val (ma, mb) = (delHandle.manifest, rebuiltHandle.manifest)
    assert(ma.nDocs == mb.nDocs && ma.totalLen == mb.totalLen,
      s"live stats differ: (${ma.nDocs},${ma.totalLen}) vs (${mb.nDocs},${mb.totalLen})")
  }

  test("delete == rebuild: LIVE docstats accessor excludes tombstoned norms") {
    val a = delHandle.docstats.collect().map(s => (s.docId, s.docLen)).toSet
    val b = rebuiltHandle.docstats.collect().map(s => (s.docId, s.docLen)).toSet
    assert(a == b, "live docstats must equal the rebuilt index's docstats")
    assert(delHandle.docstatsRaw.count() > delHandle.docstats.count(),
      "physical docstats must still carry the tombstoned rows")
  }

  test("append then delete FROM the appended chunk: dictionary stays exact") {
    import spark.implicits._
    val dir = "/tmp/graft_delete_spec/append_del"
    IndexCache.deleteRecursively(dir)
    IndexBuilder.build(spark, sfDir, dir, IndexConfig())
    val m0 = IndexBuilder.append(spark, Pages.withInjections(spark, sfDir)
      .filter(col("doc_id").cast("long") < 0), dir, IndexConfig()) // empty append is a no-op shape
    val maxId = m0.maxDocId
    val extra = Seq(
      (maxId + 1, s"http://x/${maxId + 1}", "appended alpha beta"),
      (maxId + 2, s"http://x/${maxId + 2}", "appended beta gamma"))
      .toDF("doc_id", "url", "text")
      .select(col("doc_id"), col("url"),
        timestamp_seconds(lit(Pages.EpochSeconds)).as("warc_ts"),
        encode(col("text"), "UTF-8").as("html"), col("text"), lit("en").as("lang"))
    IndexBuilder.append(spark, extra, dir, IndexConfig())
    // delete one doc that lives in the APPENDED chunk
    IndexBuilder.delete(spark, dir, Seq(maxId + 1))
    val h = IndexReader.load(spark, dir)
    val dict = h.dictionary.collect().map(e => e.term -> (e.df, e.cf)).toMap
    assert(dict("appended") == ((1L, 1L)), s"df/cf for 'appended': ${dict("appended")}")
    assert(dict("beta") == ((1L, 1L)) && dict.get("alpha").forall(_._1 == 0),
      "terms of the deleted appended doc must be decremented")
    val hits = Wand.topK(h, Seq(QuerySpec(1, Seq("appended"))), 10)(1)
    assert(hits.map(_._2).toSeq == Seq(maxId + 2), "only the live appended doc must match")
  }

  test("delete == rebuild: WAND top-k rank- and score-identical") {
    val queries = graft.queries.QuerySet.queries ++
      Seq(QuerySpec(50, Seq("the")), QuerySpec(51, Seq("merge", "batch")))
    val a = Wand.topK(delHandle, queries, 10)
    val b = Wand.topK(rebuiltHandle, queries, 10)
    for (q <- queries) {
      val (ra, rb) = (a(q.queryId).toSeq, b(q.queryId).toSeq)
      assert(ra.map(_._2) == rb.map(_._2), s"query ${q.queryId}: docs ${ra.map(_._2)} vs ${rb.map(_._2)}")
      ra.zip(rb).foreach { case ((sa, d), (sb, _)) =>
        assert(math.abs(sa - sb) < 1e-9, s"query ${q.queryId} doc $d: $sa vs $sb")
      }
    }
    assert(!a.values.flatten.exists(x => deletedIds.contains(x._2)),
      "a tombstoned doc surfaced in WAND results")
  }

  test("boolean and decode paths skip tombstoned docs") {
    val hits = Wand.booleanOr(delHandle, Seq(QuerySpec(1, Seq("the", "a"))))
      .collect().map(_.getLong(1)).toSet
    assert(hits.nonEmpty && !hits.exists(deletedIds.contains), "tombstoned doc in booleanOr")
    val decoded = graft.queries.IndexQueries
      .decodeRange(spark, delHandle, 0L, delHandle.manifest.maxDocId + 1)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(decoded.nonEmpty && !decoded.exists(deletedIds.contains), "tombstoned doc decoded")
  }

  test("crash before the manifest commit: replayed delete re-derives identical versions") {
    import spark.implicits._
    val dir = "/tmp/graft_delete_spec/crash_replay"
    IndexCache.deleteRecursively(dir)
    IndexBuilder.build(spark, sfDir, dir, IndexConfig())
    val h0 = IndexReader.load(spark, dir)
    val ids = h0.docstats.filter(col("docId") % 7 === 3).map(_.docId).collect().toSeq
    val preDelete = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/manifest.json"))
    IndexBuilder.delete(spark, dir, ids)
    val firstManifest = Manifest.read(s"$dir/manifest.json")
    val firstDict = IndexReader.load(spark, dir).dictionary.collect()
      .map(e => (e.termId, e.term, e.df, e.cf)).toSet
    // simulate a crash AFTER the versioned dictionary/tombstone writes but
    // BEFORE the manifest commit: restore the old manifest and replay —
    // the same v(N+1) must be re-derived from the untouched v(N) inputs
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/manifest.json"), preDelete)
    IndexBuilder.delete(spark, dir, ids)
    assert(Manifest.read(s"$dir/manifest.json") == firstManifest,
      "replayed delete must commit the same manifest")
    val secondDict = IndexReader.load(spark, dir).dictionary.collect()
      .map(e => (e.termId, e.term, e.df, e.cf)).toSet
    assert(secondDict == firstDict, "replayed delete must re-derive the same dictionary")
  }

  test("BULK delete via an id RELATION (deleteByIds) == Seq delete; no driver-side id set") {
    val dir = "/tmp/graft_delete_spec/bulk_df"
    IndexCache.deleteRecursively(dir)
    IndexBuilder.build(spark, sfDir, dir, IndexConfig())
    val h0 = IndexReader.load(spark, dir)
    // the deletion set arrives as a PREDICATE over docstats (~33% of the
    // corpus) — the GDPR-style entry point: no collect, no broadcast Set
    val ids = h0.docstats.toDF().filter(col("docId") % 3 === 0).select("docId")
    val m = IndexBuilder.deleteByIds(spark, dir, ids)
    val h = IndexReader.load(spark, dir)
    val ma = delHandle.manifest // the shared fixture deleted the SAME ids via Seq
    assert(m.nDocs == ma.nDocs && m.totalLen == ma.totalLen && m.tombVersion == ma.tombVersion,
      s"bulk-deleted manifest (${m.nDocs},${m.totalLen}) != Seq-deleted (${ma.nDocs},${ma.totalLen})")
    val a = h.dictionary.collect().map(e => (e.termId, e.term, e.df, e.cf)).toSet
    val b = delHandle.dictionary.collect().map(e => (e.termId, e.term, e.df, e.cf)).toSet
    assert(a == b, s"dict diff: ${(a -- b).take(5)} / ${(b -- a).take(5)}")
    val queries = graft.queries.QuerySet.queries
    val ra = Wand.topK(h, queries, 10)
    val rb = Wand.topK(delHandle, queries, 10)
    for (q <- queries)
      assert(ra(q.queryId).toSeq == rb(q.queryId).toSeq, s"query ${q.queryId} differs")
    // idempotent replay of the same relation: committed no-op
    assert(IndexBuilder.deleteByIds(spark, dir, ids) == m,
      "re-deleting the same relation must not bump versions or stats")
  }

  test("re-deleting the same ids is a committed no-op; unknown ids ignored") {
    val before = Manifest.read("/tmp/graft_delete_spec/deleted/manifest.json")
    val after = IndexBuilder.delete(spark, "/tmp/graft_delete_spec/deleted",
      deletedIds ++ Seq(999999999L))
    assert(after == before, "idempotent re-delete must not bump versions or stats")
  }

  test("delete then append composes (live stats stay exact)") {
    val dir = "/tmp/graft_delete_spec/del_append"
    IndexCache.deleteRecursively(dir)
    IndexBuilder.build(spark, sfDir, dir, IndexConfig())
    val h0 = IndexReader.load(spark, dir)
    import spark.implicits._
    val ids = h0.docstats.filter(col("docId") < 50).map(_.docId).collect().toSeq
    val m1 = IndexBuilder.delete(spark, dir, ids)
    val maxId = m1.maxDocId
    val extra = Seq((maxId + 1, s"http://x/${maxId + 1}", "fresh doc text here"))
      .toDF("doc_id", "url", "text")
      .select(col("doc_id"), col("url"),
        org.apache.spark.sql.functions.timestamp_seconds(lit(Pages.EpochSeconds)).as("warc_ts"),
        encode(col("text"), "UTF-8").as("html"), col("text"), lit("en").as("lang"))
    val m2 = IndexBuilder.append(spark, extra, dir, IndexConfig())
    assert(m2.nDocs == m1.nDocs + 1 && m2.totalLen == m1.totalLen + 4)
    assert(m2.tombVersion == m1.tombVersion, "append must not disturb tombstones")
    val h2 = IndexReader.load(spark, dir)
    val res = Wand.topK(h2, Seq(QuerySpec(1, Seq("fresh"))), 10)(1)
    assert(res.map(_._2).contains(maxId + 1), "appended doc must be retrievable post-delete")
  }
}
