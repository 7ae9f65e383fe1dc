package graft

import graft.corpus.Pages
import graft.index.{IndexBuilder, IndexConfig, IndexValidator, Manifest}
import graft.query.{IndexReader, QuerySpec, Wand}
import graft.queries.IndexCache
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Compaction: after physically dropping tombstoned rows into the next
  * generation, the index must be CONTENT-equal to a fresh rebuild without
  * the deleted docs — per-term postings payloads, docstats, WAND results —
  * with tombstones cleared and the validator green. */
class CompactSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  import IndexTestUtil.decodedContent

  private lazy val (compHandle, rebuiltHandle, deletedIds) = {
    val dir = "/tmp/graft_compact_spec/compacted"
    val reb = "/tmp/graft_compact_spec/rebuilt"
    Seq(dir, reb).foreach(d => IndexCache.deleteRecursively(d))
    IndexBuilder.build(spark, sfDir, dir, IndexConfig())
    val h0 = IndexReader.load(spark, dir)
    import spark.implicits._
    val ids = h0.docstats.filter(col("docId") % 4 === 1).map(_.docId).collect().toSeq
    IndexBuilder.delete(spark, dir, ids)
    IndexBuilder.compact(spark, dir)
    val pages = Pages.withInjections(spark, sfDir)
      .filter(!col("doc_id").cast("long").isin(ids.map(Long.box): _*))
    IndexBuilder.buildFrom(spark, pages, reb, IndexConfig())
    (IndexReader.load(spark, dir), IndexReader.load(spark, reb), ids)
  }

  test("compact == rebuild: decoded per-term postings content identical") {
    val a = decodedContent(compHandle)
    val b = decodedContent(rebuiltHandle)
    assert(a.keySet == b.keySet,
      s"term sets differ: onlyCompact=${(a.keySet -- b.keySet).take(5)} onlyRebuilt=${(b.keySet -- a.keySet).take(5)}")
    a.foreach { case (t, rows) => assert(rows == b(t), s"term '$t' postings differ") }
    assert(compHandle.manifest.tombVersion == -1)
    assert(compHandle.manifest.nChunks == 1, "full compaction must merge into one segment")
    assert(compHandle.manifest.segments.head.v == 1, "merged segment must carry version max(v)+1")
  }

  test("compact == rebuild: docstats and WAND results identical") {
    val a = compHandle.docstats.collect().map(s => (s.docId, s.docLen)).toSet
    val b = rebuiltHandle.docstats.collect().map(s => (s.docId, s.docLen)).toSet
    assert(a == b)
    assert(!a.exists(x => deletedIds.contains(x._1)), "tombstoned doc survived compaction")
    val queries = graft.queries.QuerySet.queries
    val ra = Wand.topK(compHandle, queries, 10)
    val rb = Wand.topK(rebuiltHandle, queries, 10)
    for (q <- queries) {
      assert(ra(q.queryId).toSeq.map(_._2) == rb(q.queryId).toSeq.map(_._2), s"query ${q.queryId}")
      ra(q.queryId).zip(rb(q.queryId)).foreach { case ((sa, d), (sb, _)) =>
        assert(math.abs(sa - sb) < 1e-12, s"query ${q.queryId} doc $d: $sa vs $sb")
      }
    }
  }

  test("crash before the manifest commit: replayed compaction re-derives identical content") {
    import spark.implicits._
    val dir = "/tmp/graft_compact_spec/crash_replay"
    IndexCache.deleteRecursively(dir)
    IndexBuilder.build(spark, sfDir, dir, IndexConfig())
    val h0 = IndexReader.load(spark, dir)
    val ids = h0.docstats.filter(col("docId") % 5 === 2).map(_.docId).collect().toSeq
    IndexBuilder.delete(spark, dir, ids)
    val preCompact = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/manifest.json"))
    IndexBuilder.compact(spark, dir)
    val firstContent = decodedContent(IndexReader.load(spark, dir))
    val firstManifest = Manifest.read(s"$dir/manifest.json")
    // simulate a crash AFTER the gen-1 writes but BEFORE the manifest
    // commit: restore the pre-compaction manifest and replay
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/manifest.json"), preCompact)
    IndexBuilder.compact(spark, dir)
    val secondContent = decodedContent(IndexReader.load(spark, dir))
    assert(Manifest.read(s"$dir/manifest.json") == firstManifest,
      "replayed compaction must commit the same manifest")
    assert(secondContent == firstContent,
      "replayed compaction must re-derive identical gen-1 content")
  }

  test("validator green on the compacted generation; compaction of a clean index is a no-op") {
    assert(IndexValidator.validate(compHandle).count() == 0,
      "invariant violations on the compacted index")
    val before = Manifest.read("/tmp/graft_compact_spec/rebuilt/manifest.json")
    val after = IndexBuilder.compact(spark, "/tmp/graft_compact_spec/rebuilt")
    assert(after == before, "compaction without tombstones must be a no-op")
  }

  // byte-identity probe for the slice-locality assertion
  private def fileSizes(root: java.nio.file.Path): Map[String, Long] =
    IndexTestUtil.fileSizes(root.toString)

  test("PARTIAL (bucket-range) compaction: touched segments drop their tombstones " +
    "physically, untouched segments' FILES are byte-identical (slice-local write I/O); " +
    "non-default layout survives") {
    import spark.implicits._
    val dir = "/tmp/graft_compact_spec/partial"
    IndexCache.deleteRecursively(dir)
    // non-default layout: 3 postings buckets + small geometry + a 4-segment
    // build — the manifest must carry the layout through every compaction
    // (r3 bug: compact silently reverted to the default config's bucket
    // count), and only the slice's segments may see write I/O
    val cfg = IndexConfig(blockSize = 16, bucketRange = 64, postingsBuckets = 3, nChunks = 4)
    IndexBuilder.build(spark, sfDir, dir, cfg)
    val h0 = IndexReader.load(spark, dir)
    assert(h0.manifest.segments.length >= 3, "fixture shape: want a multi-segment build")
    val ids = h0.docstats.filter(col("docId") % 4 === 1).map(_.docId).collect().toSeq
    IndexBuilder.delete(spark, dir, ids)
    val hDel = IndexReader.load(spark, dir) // snapshot: tombstoned, pre-compaction
    val wantWand = Wand.topK(hDel, graft.queries.QuerySet.queries, 10)

    val maxBucket = h0.manifest.maxDocId / cfg.bucketRange
    val mid = maxBucket / 2 + 1 // compact the lower half of the docId space
    val untouchedBefore = hDel.manifest.segments
      .filterNot(_.overlaps(0L, mid * cfg.bucketRange))
    assert(untouchedBefore.nonEmpty, "fixture shape: want segments outside the slice")
    val sizesBefore = untouchedBefore.map { s =>
      s.name -> fileSizes(java.nio.file.Paths.get(IndexBuilder.segmentDir(dir, s)))
    }.toMap

    val m1 = IndexBuilder.compactRange(spark, dir, Some((0L, mid)))
    assert(m1.tombVersion >= 0, "out-of-slice tombstones must stay live")
    assert(m1.postingsBuckets == 3, "manifest layout lost in partial compaction")
    val mergedSeg = m1.segments.filter(_.v > 0)
    assert(mergedSeg.length == 1, s"expected ONE merged segment, got ${m1.segments}")
    // THE slice-locality invariant: every untouched segment's files are
    // byte-identical (same relative paths, same sizes) — a slice compaction
    // must never rewrite out-of-slice data
    untouchedBefore.foreach { s =>
      assert(m1.segments.contains(s), s"untouched segment $s dropped from the manifest")
      val after = fileSizes(java.nio.file.Paths.get(IndexBuilder.segmentDir(dir, s)))
      assert(after == sizesBefore(s.name), s"untouched segment ${s.name} files changed")
    }
    val h1 = IndexReader.load(spark, dir)
    // compacted span physically clean, remainder physically dirty
    // (tombstone overlay); the span is the slice rounded OUT to whole
    // segments — its boundary is the merged segment's hi
    val spanHi = mergedSeg.head.hi
    val physDocs = h1.postings.flatMap(b =>
      graft.codec.VByte.decodeDocIds(b.docIdGaps).toSeq).collect().toSet
    assert(!physDocs.exists(d => d < spanHi && ids.contains(d)),
      "a tombstoned doc survived physically inside the compacted span")
    assert(physDocs.exists(d => d >= spanHi && ids.contains(d)),
      "fixture shape: the uncompacted remainder should still hold tombstoned rows")
    // layout on disk: exactly postingsBuckets part files in the merged segment
    val partFiles = new java.io.File(
      s"${IndexBuilder.segmentDir(dir, mergedSeg.head)}/postings")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(partFiles == 3, s"expected 3 postings part files, got $partFiles")
    assert(IndexValidator.validate(h1).collect().isEmpty,
      "validator violations after partial compaction")
    // query surface unchanged (exact): partial compaction is invisible
    val got1 = Wand.topK(h1, graft.queries.QuerySet.queries, 10)
    graft.queries.QuerySet.queries.foreach { q =>
      assert(got1(q.queryId).toSeq == wantWand(q.queryId).toSeq, s"query ${q.queryId} after partial")
    }

    // the final merge: compacting the remainder clears all tombstones
    val m2 = IndexBuilder.compactRange(spark, dir, Some((mid, maxBucket + 1)))
    assert(m2.tombVersion == -1 && m2.postingsBuckets == 3)
    val h2 = IndexReader.load(spark, dir)
    val physDocs2 = h2.postings.flatMap(b =>
      graft.codec.VByte.decodeDocIds(b.docIdGaps).toSeq).collect().toSet
    assert(!physDocs2.exists(ids.contains), "tombstoned docs must be gone after the final slice")
    assert(IndexValidator.validate(h2).collect().isEmpty)
    val got2 = Wand.topK(h2, graft.queries.QuerySet.queries, 10)
    graft.queries.QuerySet.queries.foreach { q =>
      assert(got2(q.queryId).toSeq == wantWand(q.queryId).toSeq, s"query ${q.queryId} after final")
    }

    // vacuum: replaced segment dirs are garbage; after vacuum, exactly the
    // live segments remain on disk and the index still answers queries
    val removed = IndexBuilder.vacuum(spark, dir)
    assert(removed.nonEmpty, "expected replaced segment/dict/tombstone garbage")
    val onDisk = new java.io.File(s"$dir/segments").listFiles().map(_.getName).toSet
    assert(onDisk == m2.segments.map(_.name).toSet,
      s"vacuum left non-live segments: $onDisk vs ${m2.segments.map(_.name)}")
    val h3 = IndexReader.load(spark, dir)
    val got3 = Wand.topK(h3, graft.queries.QuerySet.queries, 10)
    graft.queries.QuerySet.queries.foreach { q =>
      assert(got3(q.queryId).toSeq == wantWand(q.queryId).toSeq, s"query ${q.queryId} after vacuum")
    }
  }

  private def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
  }

  test("append after compaction lands in the new generation and is retrievable") {
    import spark.implicits._
    // own COPY of the compacted index: appending into the shared fixture
    // would make the docstats-equality test order-dependent
    val dir = "/tmp/graft_compact_spec/append_copy"
    IndexCache.deleteRecursively(dir)
    val _ = compHandle // force the shared fixture to exist first
    copyDir(java.nio.file.Paths.get("/tmp/graft_compact_spec/compacted"),
      java.nio.file.Paths.get(dir))
    val m1 = compHandle.manifest
    val newId = m1.maxDocId + 1
    val extra = Seq((newId, s"http://x/$newId", "freshcompact doc text"))
      .toDF("doc_id", "url", "text")
      .select(col("doc_id"), col("url"),
        timestamp_seconds(lit(Pages.EpochSeconds)).as("warc_ts"),
        encode(col("text"), "UTF-8").as("html"), col("text"), lit("en").as("lang"))
    val m2 = IndexBuilder.append(spark, extra, dir, IndexConfig())
    assert(m2.segments.length == m1.segments.length + 1 && m2.nChunks == 2)
    val h2 = IndexReader.load(spark, dir)
    val res = Wand.topK(h2, Seq(QuerySpec(1, Seq("freshcompact"))), 10)(1)
    assert(res.map(_._2).contains(newId))
  }
}
