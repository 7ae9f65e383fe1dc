package graft

import graft.corpus.Pages
import graft.index.{IndexBuilder, IndexConfig, Manifest}
import graft.queries.IndexCache
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The dictionary's on-disk layout is a property of the index, not of its
  * history: every version is written into the manifest's `postingsBuckets`
  * files by the same termId grouping, so a delete (which keeps the
  * vocabulary) must reproduce the previous version's files and per-file
  * termId ranges exactly — the min/max that termId scan pruning reads. */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val root = "/tmp/graft_layout_spec"

  /** (min, max) termId of every file of the live dictionary version. */
  private def dictRanges(dir: String): Seq[(Int, Int)] = {
    val m = Manifest.read(s"$dir/manifest.json")
    spark.read.parquet(IndexBuilder.dictDirFor(dir, m.dictVersion))
      .groupBy(input_file_name()).agg(min(col("termId")), max(col("termId")))
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSeq.sorted
  }

  private def liveIds(dir: String): Seq[Long] = {
    import spark.implicits._
    graft.query.IndexReader.load(spark, dir).docstats.map(_.docId).collect().toSeq.sorted
  }

  test("three deletes keep the build's dictionary file count and termId ranges") {
    import spark.implicits._
    // a default build (the dictionary fold on the driver) and a forced
    // distributed one (broadcastVocabMax = 0: the fold's GlobalRank placement)
    for ((name, buildCfg) <- Seq("deletes" -> IndexConfig(),
        "deletes_dist" -> IndexConfig(broadcastVocabMax = 0L))) {
      val dir = s"$root/$name"
      IndexCache.deleteRecursively(dir)
      IndexBuilder.build(spark, sfDir, dir, buildCfg)
      val built = dictRanges(dir)
      assert(built.length > 1, s"$name: the build should cluster the dictionary into several files: $built")
      val ids = liveIds(dir)
      // three disjoint id sets, through both delete entry points
      IndexBuilder.delete(spark, dir, ids.filter(_ % 7 == 0))
      assert(dictRanges(dir) == built, s"$name: after delete 1")
      IndexBuilder.deleteByIds(spark, dir, ids.filter(_ % 7 == 1).toDF("docId"))
      assert(dictRanges(dir) == built, s"$name: after delete 2")
      IndexBuilder.delete(spark, dir, ids.filter(_ % 7 == 2))
      val m = Manifest.read(s"$dir/manifest.json")
      assert(m.dictVersion == 3 && m.tombVersion == 2, s"$name: three committed deletes: $m")
      assert(dictRanges(dir) == built, s"$name: after delete 3")
    }
  }

  test("append then delete: the delete keeps the append's dictionary ranges") {
    import spark.implicits._
    val dir = s"$root/append_delete"
    IndexCache.deleteRecursively(dir)
    val pages = Pages.withInjections(spark, sfDir)
    val cut = pages.agg(max(col("doc_id").cast("long"))).head().getLong(0) / 2
    IndexBuilder.buildFrom(spark, pages.filter(col("doc_id").cast("long") <= cut), dir, IndexConfig())
    IndexBuilder.append(spark, pages.filter(col("doc_id").cast("long") > cut), dir, IndexConfig())
    val appended = dictRanges(dir)
    assert(appended.length > 1, s"the append should cluster the dictionary into several files: $appended")
    IndexBuilder.delete(spark, dir, liveIds(dir).filter(_ % 5 == 0))
    assert(Manifest.read(s"$dir/manifest.json").operation == "delete")
    assert(dictRanges(dir) == appended)
  }
}
