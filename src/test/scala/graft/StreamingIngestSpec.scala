package graft

import graft.codec.VByte
import graft.corpus.Pages
import graft.index._
import graft.query.IndexReader
import graft.streaming.StreamingIngest
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Streaming incremental indexing == batch rebuild: bootstrap an index on
  * the first docId range, land the rest as parquet files in an input
  * directory, drain with Structured Streaming (one append per micro-batch,
  * exactly-once via checkpoint), and compare against a full batch build. */
class StreamingIngestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val cfg = IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 1, postingsBuckets = 2)

  private def contentByTerm(dir: String): Map[String, Seq[(Long, Int, Seq[Int])]] = {
    val h = IndexReader.load(spark, dir)
    val termById = h.dictMap.values.map(e => e.termId -> e.term).toMap
    h.postings.collect()
      .flatMap { b =>
        val ids = VByte.decodeDocIds(b.docIdGaps)
        val tfs = VByte.decodeInts(b.tfs)
        val poss = VByte.decodePositions(b.positions, tfs)
        ids.indices.map(j => (termById(b.termId), ids(j), tfs(j), poss(j).toSeq))
      }
      .groupBy(_._1)
      .map { case (t, rows) => t -> rows.map(r => (r._2, r._3, r._4)).sortBy(_._1).toSeq }
  }

  test("streaming ingest (2 micro-batch appends) == full batch rebuild") {
    val root = "/tmp/graft_test_index/stream_ingest"
    graft.queries.IndexCache.deleteRecursively(root)
    val indexDir = s"$root/index"
    val fullDir = s"$root/full"
    val inputDir = s"$root/incoming"

    val pages = Pages.withInjections(spark, sfDir).persist()
    // bootstrap: batch build over docIds < 192 (bucket-aligned: 192 = 3*64)
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < 192), indexDir, cfg)
    // two delta files land chronologically, each a bucket-aligned docId range
    pages.filter(col("doc_id") >= 192 && col("doc_id") < 320)
      .coalesce(1).write.mode("overwrite").parquet(s"$inputDir/part1")
    Thread.sleep(1100) // distinct mtimes → deterministic file-source order
    pages.filter(col("doc_id") >= 320)
      .coalesce(1).write.mode("append").parquet(s"$inputDir/part2")

    // maxFilesPerTrigger = 1 forces TWO micro-batches (multi-append coverage)
    val m = StreamingIngest.ingestAvailable(spark, s"$inputDir/*", indexDir, cfg,
      maxFilesPerTrigger = 1)
    IndexBuilder.buildFrom(spark, pages, fullDir, cfg)
    pages.unpersist()
    val mf = Manifest.read(s"$fullDir/manifest.json")

    assert(m.nDocs == mf.nDocs && m.totalLen == mf.totalLen && m.maxDocId == mf.maxDocId &&
      m.vocabSize == mf.vocabSize)
    assert(m.nChunks >= mf.nChunks + 1, "expected at least one appended chunk per micro-batch")
    val a = contentByTerm(indexDir)
    val b = contentByTerm(fullDir)
    assert(a.keySet == b.keySet)
    a.keys.foreach(t => assert(a(t) == b(t), s"postings differ for term '$t'"))
    assert(IndexValidator.validate(IndexReader.load(spark, indexDir)).collect().isEmpty)
  }

  test("re-running the drained stream is a no-op (checkpoint exactly-once)") {
    val indexDir = "/tmp/graft_test_index/stream_ingest/index"
    val before = Manifest.read(s"$indexDir/manifest.json")
    val after = StreamingIngest.ingestAvailable(
      spark, "/tmp/graft_test_index/stream_ingest/incoming/*", indexDir, cfg,
      maxFilesPerTrigger = 1)
    assert(after == before, "drained stream re-run modified the index")
  }

  test("replayed micro-batch (at-least-once delivery) does not double-apply df/cf") {
    val root = "/tmp/graft_test_index/stream_replay"
    graft.queries.IndexCache.deleteRecursively(root)
    val indexDir = s"$root/index"
    val pages = Pages.withInjections(spark, sfDir).persist()
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < 192), indexDir, cfg)
    val delta = pages.filter(col("doc_id") >= 192)

    // first delivery of batch 7 commits
    val m1 = IndexBuilder.append(spark, delta, indexDir, cfg, batchId = Some(7L))
    assert(m1.lastBatchId == 7L && m1.dictVersion == 1)
    val dictAfter = IndexReader.load(spark, indexDir).dictionary.collect()
      .map(e => (e.term, e.df, e.cf)).sortBy(_._1).toSeq

    // checkpoint replay of the SAME batch id must be a pure no-op
    val m2 = IndexBuilder.append(spark, delta, indexDir, cfg, batchId = Some(7L))
    assert(m2 == m1, "replayed batch changed the manifest")
    val dictReplay = IndexReader.load(spark, indexDir).dictionary.collect()
      .map(e => (e.term, e.df, e.cf)).sortBy(_._1).toSeq
    assert(dictReplay == dictAfter, "replayed batch mutated the dictionary (df/cf double-applied)")
    assert(IndexValidator.validate(IndexReader.load(spark, indexDir)).collect().isEmpty)
    pages.unpersist()
  }

  test("same-instant files coalesce into one batch under the default trigger (no ordering hazard)") {
    val root = "/tmp/graft_test_index/stream_coalesce"
    graft.queries.IndexCache.deleteRecursively(root)
    val indexDir = s"$root/index"
    val inputDir = s"$root/incoming"
    val pages = Pages.withInjections(spark, sfDir).persist()
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < 192), indexDir, cfg)
    // two files written back-to-back, NO mtime separation — under
    // maxFilesPerTrigger=1 their discovery order would be undefined; the
    // default trigger folds them into one batch, which append accepts
    pages.filter(col("doc_id") >= 320)
      .coalesce(1).write.mode("overwrite").parquet(s"$inputDir/late")
    pages.filter(col("doc_id") >= 192 && col("doc_id") < 320)
      .coalesce(1).write.mode("append").parquet(s"$inputDir/early")
    val m = StreamingIngest.ingestAvailable(spark, s"$inputDir/*", indexDir, cfg)
    val full = s"$root/full"
    IndexBuilder.buildFrom(spark, pages, full, cfg)
    val mf = Manifest.read(s"$full/manifest.json")
    assert(m.nDocs == mf.nDocs && m.totalLen == mf.totalLen && m.vocabSize == mf.vocabSize)
    assert(IndexValidator.validate(IndexReader.load(spark, indexDir)).collect().isEmpty)
    pages.unpersist()
  }
}
