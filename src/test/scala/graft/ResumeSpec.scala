package graft

import graft.index._
import graft.query.IndexReader
import org.scalatest.funsuite.AnyFunSuite

/** Checkpointed resumability (north rule): kill after a partial commit,
  * re-run, final index bit-identical — the transactional version of the
  * reference's hidden-hash skip (utils/split.py:98-104). */
class ResumeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val cfg = IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 4, postingsBuckets = 2)

  private def blocksSorted(dir: String): Array[(Int, Long, Long, Int, Seq[Byte], Seq[Byte], Seq[Byte], Int, Int)] = {
    val h = IndexReader.load(spark, dir)
    h.postings.collect()
      .map(b => (b.termId, b.blockId, b.firstDocId, b.nDocs, b.docIdGaps.toSeq, b.tfs.toSeq,
        b.positions.toSeq, b.maxTf, b.minDocLen))
      .sortBy(t => (t._1, t._2))
  }

  test("crash after partial postings commit resumes to a bit-identical index") {
    val full = "/tmp/graft_test_index/resume_full"
    val crash = "/tmp/graft_test_index/resume_crash"
    Seq(full, crash).foreach(d => graft.queries.IndexCache.deleteRecursively(d))

    IndexBuilder.build(spark, sfDir, full, cfg)

    // simulate: run 1 completes dictionary+segments 0-1, then "crashes"
    IndexBuilder.build(spark, sfDir, crash, cfg)
    // wipe the manifest and the last two segments — as if the job died mid-flight
    import java.nio.file._
    Files.deleteIfExists(Paths.get(s"$crash/manifest.json"))
    val segDirs = new java.io.File(s"$crash/segments").listFiles().map(_.getName).sorted
    assert(segDirs.length == 4, s"fixture shape: want 4 segments, got ${segDirs.toSeq}")
    segDirs.takeRight(2).foreach(n =>
      graft.queries.IndexCache.deleteRecursively(s"$crash/segments/$n"))

    // resume: must rebuild ONLY the missing segments and produce identical bits
    val m2 = IndexBuilder.build(spark, sfDir, crash, cfg)
    val mFull = Manifest.read(s"$full/manifest.json")
    assert(m2 == mFull, "manifests differ after resume")
    val a = blocksSorted(full)
    val b = blocksSorted(crash)
    assert(a.length == b.length, s"block counts differ: ${a.length} vs ${b.length}")
    a.zip(b).foreach { case (x, y) => assert(x == y, s"block differs: $x vs $y") }
  }

  test("lineage records every stage commit") {
    val dir = "/tmp/graft_test_index/resume_full"
    val rows = Lineage.load(spark, dir).collect()
    val stages = rows.map(_.stage).toSet
    assert(stages.contains("docstats") && stages.contains("dictionary") && stages.contains("postings"))
    assert(rows.count(_.stage == "postings") >= 4) // one per chunk (6 after resume test ran first)
    assert(rows.forall(_.status == "committed"))
  }

  test("lineage is ONE appendable log file, not a file-per-event parquet dir") {
    val dir = "/tmp/graft_test_index/resume_full"
    val _ = Lineage.load(spark, dir).count() // fixture forced
    assert(java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(s"$dir/lineage.jsonl")),
      "lineage.jsonl missing")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/lineage")),
      "legacy per-event parquet lineage dir written")
    // many more events never grow the file COUNT
    (0 until 25).foreach(i => Lineage.append(spark, dir,
      graft.index.LineageRow(i, "spec", i.toLong, i.toLong, "committed")))
    assert(Lineage.load(spark, dir).filter(_.stage == "spec").count() == 25)
    // a torn (crash-interrupted, newline-less) tail loses ONLY itself: the
    // next append must not merge into it
    val p = java.nio.file.Paths.get(s"$dir/lineage.jsonl")
    java.nio.file.Files.writeString(p, "{\"partitionId\":9,\"sta",
      java.nio.file.StandardOpenOption.APPEND)
    Lineage.append(spark, dir, graft.index.LineageRow(99, "afterTorn", 1L, 1L, "committed"))
    val rows = Lineage.load(spark, dir)
    assert(rows.filter(_.stage == "afterTorn").count() == 1,
      "record after a torn tail must survive")
    assert(rows.filter(_.stage == "spec").count() == 25, "earlier records intact")
  }

  test("re-running a completed build is a no-op (idempotent skip)") {
    val dir = "/tmp/graft_test_index/resume_full"
    val before = Lineage.load(spark, dir).count()
    IndexBuilder.build(spark, sfDir, dir, cfg)
    val after = Lineage.load(spark, dir).count()
    assert(before == after, "completed build appended lineage rows on re-run")
  }

  test("AUTO chunk sizing (P1): chunk count derives from corpus tokens; bits unchanged") {
    val auto = "/tmp/graft_test_index/resume_auto"
    graft.queries.IndexCache.deleteRecursively(auto)
    // sf0.001 has ~35k tokens → target 6000 tokens/chunk → ≥ 4 chunks
    val m = IndexBuilder.build(spark, sfDir, auto,
      cfg.copy(nChunks = 0, targetTokensPerChunk = 6000L))
    assert(m.nChunks >= 4, s"expected auto-sized chunks, got ${m.nChunks}")
    // block content identical to the fixed-chunk build (chunking is
    // bucket-aligned, so blocks never depend on the chunk count)
    val a = blocksSorted("/tmp/graft_test_index/resume_full")
    val b = blocksSorted(auto)
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }
}
