package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.index._
import graft.queries.IndexCache
import graft.streaming.{DedupIngest, DedupManifest}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every control file in the bytes the engine has always written: each
  * literal below is the output of the hand-built writers the codec
  * replaced, so indexes already on disk read back unchanged and the
  * engine rewrites them byte-identically. */
class ControlFileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft_control").toString

  private val analyzer = "word.1.1.1.3.."

  private val manifestBytes =
    """{"nDocs":1000,"totalLen":90417,"vocabSize":5123,"skippedCorrupt":3,"blockSize":128,""" +
      """"bucketRange":65536,"maxDocId":1023,"dictVersion":1,"lastBatchId":-1,"tombVersion":0,""" +
      """"maxDocLen":812,"postingsBuckets":8,"snapshotId":1,"operation":"delete",""" +
      """"segments":"0_512_0,512_1024_1","analyzer":"word.1.1.1.3.."}"""
  /** The same manifest as written while the block-metadata computer list
    * was a manifest field (the retired key is split across two literals):
    * the key is ignored on read. */
  private val manifestBytesWithComputers =
    """{"nDocs":1000,"totalLen":90417,"vocabSize":5123,"skippedCorrupt":3,"blockSize":128,""" +
      """"bucketRange":65536,"maxDocId":1023,"dictVersion":1,"lastBatchId":-1,"tombVersion":0,""" +
      """"maxDocLen":812,"postingsBuckets":8,"snapshotId":1,"operation":"delete","meta""" +
      """ComputerNames":"posSpan,tfQuantile","segments":"0_512_0,512_1024_1",""" +
      """"analyzer":"word.1.1.1.3.."}"""
  private val manifest = IndexManifest(nDocs = 1000L, totalLen = 90417L, vocabSize = 5123L,
    skippedCorrupt = 3L, blockSize = 128, bucketRange = 65536L, maxDocId = 1023L,
    dictVersion = 1, lastBatchId = -1L, tombVersion = 0, maxDocLen = 812, postingsBuckets = 8,
    snapshotId = 1, operation = "delete",
    segments = Seq(Segment(0L, 512L, 0), Segment(512L, 1024L, 1)), analyzer = analyzer)

  test("index manifest with the retired block-metadata computer list reads to the same manifest") {
    val dir = tmp()
    try {
      Store.writeString(s"$dir/manifest.json", manifestBytesWithComputers)
      assert(Manifest.read(s"$dir/manifest.json") == manifest)
      Manifest.commit(dir, Manifest.read(s"$dir/manifest.json"))
      assert(Store.readString(s"$dir/manifest.json") == manifestBytes)
    } finally IndexCache.deleteRecursively(dir)
  }

  test("index manifest: today's bytes read back and re-write byte-identically") {
    val dir = tmp()
    try {
      Store.writeString(s"$dir/manifest.json", manifestBytes)
      assert(Manifest.read(s"$dir/manifest.json") == manifest)
      assert(IndexConfig().analyzerId == analyzer, "analyzerId must keep its value")
      Manifest.commit(dir, manifest)
      assert(Store.readString(s"$dir/manifest.json") == manifestBytes)
      assert(Store.readString(Manifest.snapshotPath(dir, 1)) == manifestBytes)
    } finally IndexCache.deleteRecursively(dir)
  }

  test("a manifest lacking any one field fails with the rebuild message") {
    val dir = tmp()
    try {
      val full = new ObjectMapper().readTree(manifestBytes).asInstanceOf[ObjectNode]
      val keys = full.fieldNames().asScala.toList
      assert(keys.length == manifest.productArity && keys.length == 16)
      keys.foreach { k =>
        val lacking = full.deepCopy()
        lacking.remove(k)
        Store.writeString(s"$dir/manifest.json", lacking.toString)
        val e = intercept[RuntimeException](Manifest.read(s"$dir/manifest.json"))
        assert(e.getMessage.contains(s"'$k'") && e.getMessage.contains("format too old") &&
          e.getMessage.contains("rebuild the index"), s"without '$k': ${e.getMessage}")
      }
    } finally IndexCache.deleteRecursively(dir)
  }

  test("dedup manifest: today's bytes read back and re-encode byte-identically") {
    val dir = tmp()
    try {
      val bytes = """{"baseVersion":2,"tombVersion":0,"demotedVersion":-1,"buckets":8}"""
      Store.writeString(s"$dir/manifest.json", bytes)
      val dm = DedupIngest.readManifest(dir)
      assert(dm == DedupManifest(baseVersion = 2, tombVersion = 0, demotedVersion = -1, buckets = 8))
      assert(Store.encode(dm) == bytes)
    } finally IndexCache.deleteRecursively(dir)
  }

  test("fielded.json: today's 2-field bytes read back and re-encode byte-identically") {
    // the cap rides in the analyzer id (".cap500"); the uncapped id is unchanged
    val bytes =
      """{"fields":[{"name":"title","weight":2.5,"textCol":"title_text",""" +
        """"analyzer":"word.1.1.1.3...cap500","blockSize":16,"bucketRange":64},""" +
        """{"name":"body","weight":1.0,"textCol":"text","analyzer":"word.1.1.1.3..",""" +
        """"blockSize":16,"bucketRange":64}]}"""
    val fields = Seq(
      FieldSpec("title", 2.5, "title_text",
        IndexConfig(blockSize = 16, bucketRange = 64, vocabCap = Some(500))),
      FieldSpec("body", 1.0, "text", IndexConfig(blockSize = 16, bucketRange = 64)))
    val spec = FieldedIndex.manifestOf(fields)
    assert(Store.decode[FieldedManifest](bytes) == spec)
    assert(spec.fields.map(_.analyzer) == Seq(s"$analyzer.cap500", analyzer))
    assert(Store.encode(spec) == bytes)
  }

  test("lineage: one appended row is today's line, and loads back") {
    val dir = tmp()
    try {
      val row = LineageRow(2, "postings", -1L, 1760870400123L, "committed")
      Lineage.append(spark, dir, row)
      assert(Store.readString(s"$dir/lineage.jsonl") ==
        """{"partitionId":2,"stage":"postings","rowCount":-1,"snapshotId":1760870400123,""" +
          """"status":"committed"}""" + "\n")
      assert(Lineage.load(spark, dir).collect().toSeq == Seq(row))
    } finally IndexCache.deleteRecursively(dir)
  }
}
