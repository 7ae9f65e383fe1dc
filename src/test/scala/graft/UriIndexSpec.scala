package graft

import graft.corpus.Pages
import graft.index.{IndexBuilder, IndexConfig, Lineage, Snapshots, Store}
import graft.query.{IndexReader, Wand}
import graft.queries.QuerySet
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The lifecycle verbs on an index directory given as a `file:` URI — the
  * form every `hdfs:` / `s3a:` directory takes. Every control file (the
  * manifest, its snapshots, the lineage log) must land in that directory,
  * not under a local path that merely spells the URI. */
class UriIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val cfg = IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 2, postingsBuckets = 2)
  private val root = "/tmp/graft_uri_spec"

  test("build, append, delete, export and vacuum under a file: URI keep every lineage row there") {
    Store.delete(root)
    val dir = s"file://$root/idx"
    val dest = s"file://$root/exported"
    val pages = Pages.withInjections(spark, sfDir)
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id") < 256L), dir, cfg)
    IndexBuilder.append(spark, pages.filter(col("doc_id") >= 256L), dir, cfg)
    IndexBuilder.delete(spark, dir, Seq(3L, 5L, 300L))
    val exported = Snapshots.export(spark, dir, 1, dest)

    val stages = Lineage.load(spark, dir).collect().map(_.stage).toSet
    assert(Set("dictionary", "docstats", "postings", "append", "delete").subsetOf(stages),
      s"lineage rows in $dir: $stages")
    assert(Lineage.load(spark, dest).collect().map(_.stage).toSet == stages + "export")
    Seq("idx/lineage.jsonl", "idx/manifest.json", "idx/snapshots/v00002.json",
      "exported/lineage.jsonl", "exported/manifest.json").map(f => s"$root/$f").foreach { p =>
      assert(new java.io.File(p).isFile, s"$p missing")
    }
    assert(!new java.io.File("file:").exists(), "a control file went under the working directory")

    // the exported snapshot answers like snapshot 1 of the source
    def hits(h: graft.query.IndexHandle) =
      Wand.topK(h, QuerySet.queries, 10).map { case (q, a) => q -> a.toSeq }
    assert(IndexReader.load(spark, dest).manifest == exported)
    assert(hits(IndexReader.load(spark, dest)) == hits(IndexReader.loadAt(spark, dir, 1)))

    // vacuum sweeps by the same URI-spelled paths: the superseded
    // dictionary and the two older snapshots go, the live ones stay
    val removed = IndexBuilder.vacuum(spark, dir)
    assert(removed.toSet == Set("dictionary/v00000", "dictionary/v00001",
      "snapshots/v00000.json", "snapshots/v00001.json"), s"vacuum removed $removed")
    assert(IndexReader.load(spark, dir).manifest.snapshotId == 2)
  }

  test("IndexCache.deleteRecursively resets an index directory given as a file:/// URI") {
    val dir = s"file://$root/reset"
    IndexBuilder.buildFrom(spark, Pages.withInjections(spark, sfDir).filter(col("doc_id") < 64L), dir, cfg)
    assert(new java.io.File(s"$root/reset/manifest.json").isFile)
    graft.queries.IndexCache.deleteRecursively(dir)
    assert(!new java.io.File(s"$root/reset").exists(), s"$dir survived its reset")
    assert(!new java.io.File("file:").exists(), "the reset went under the working directory")
  }
}
