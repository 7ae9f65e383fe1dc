package graft

import graft.corpus.Pages
import graft.index.{IndexBuilder, IndexConfig, Manifest, Postings}
import graft.query.{IndexHandle, IndexReader, Wand}
import graft.queries.{IndexCache, QuerySet}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import IndexTestUtil.{fileSizes, footer, parquetChunks}

import java.nio.file.{Files, Paths}

/** The dictionary's on-disk layout is a property of the index, not of its
  * history: every version is written into the manifest's `postingsBuckets`
  * files by the same termId grouping, so a delete (which keeps the
  * vocabulary) must reproduce the previous version's files and per-file
  * termId ranges exactly — the min/max that termId scan pruning reads.
  * Every table every verb writes has zstd pages and keeps the postings'
  * `termId` dictionary pages, and an index whose tables have snappy pages
  * (the codec before the one table writer) stays usable by every verb. */
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

  // multi-bucket geometry (MaintainSpec's): docIds < 400 span buckets 0..6
  private def smallCfg = IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 2,
    postingsBuckets = 2)

  private def parquetFiles(dir: String): Set[String] =
    fileSizes(dir).keys.filter(_.endsWith(".parquet")).toSet

  test("every table of every verb has zstd pages; postings keep termId dictionary pages") {
    val dir = s"$root/zstd"
    val other = s"$root/zstd_other"
    IndexCache.deleteRecursively(dir)
    IndexCache.deleteRecursively(other)
    val pages = Pages.withInjections(spark, sfDir)
    def range(lo: Long, hi: Long) = pages.filter(col("doc_id") >= lo && col("doc_id") < hi)
    IndexBuilder.buildFrom(spark, range(400, 480), other, smallCfg)
    val verbs: Seq[(String, () => Unit)] = Seq(
      "build" -> (() => IndexBuilder.buildFrom(spark, range(0, 160), dir, smallCfg)),
      "append" -> (() => IndexBuilder.append(spark, range(160, 320), dir, smallCfg)),
      "append again" -> (() => IndexBuilder.append(spark, range(320, 400), dir, smallCfg)),
      "delete" -> (() => IndexBuilder.delete(spark, dir, liveIds(dir).filter(_ % 7 == 0))),
      "maintain" -> (() => IndexBuilder.maintain(spark, dir, maxSegments = 2)),
      "compact" -> (() => IndexBuilder.compact(spark, dir)),
      "merge" -> (() => IndexBuilder.merge(spark, dir, other)))
    for ((verb, run) <- verbs) {
      val before = parquetFiles(dir)
      run()
      val written = parquetFiles(dir) -- before
      val chunks = parquetChunks(dir).filter(c => written(c.file))
      assert(chunks.nonEmpty, s"$verb wrote no parquet rows")
      val notZstd = chunks.filter(_.codec != "ZSTD")
      assert(notZstd.isEmpty, s"$verb: chunks without zstd pages: ${notZstd.take(5)}")
      val termIds = chunks.filter(c => c.file.contains("/postings/") && c.column == "termId")
      if (verb != "delete") assert(termIds.nonEmpty, s"$verb wrote no postings")
      assert(termIds.forall(_.dictPage), s"$verb: postings termId chunks without a dictionary page")
    }
    assert(Manifest.read(s"$dir/manifest.json").operation == "merge")
  }

  /** Rewrite every parquet file under `dir` with Spark's default writer
    * (snappy pages), one file at a time under the schema its footer
    * records, so each table keeps its files, rows, order and column
    * types: the index as the engine wrote it before zstd. */
  private def rewriteSnappy(dir: String): Unit = {
    val tmp = s"$dir.snappy_tmp"
    parquetFiles(dir).foreach { rel =>
      val file = Paths.get(dir, rel)
      val schema = DataType.fromJson(footer(file.toString).getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")).asInstanceOf[StructType]
      spark.createDataFrame(spark.read.parquet(file.toString).rdd, schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = parquetFiles(tmp).filterNot(_.startsWith(".")).toSeq
      assert(part.length == 1, s"$rel rewrote into $part")
      Files.delete(file)
      Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
      Files.move(Paths.get(tmp, part.head),
        file.resolveSibling(file.getFileName.toString.replace(".zstd.", ".snappy.")))
      IndexCache.deleteRecursively(tmp)
    }
  }

  /** Decoded postings (positions included) and docstats of a handle. */
  private def content(h: IndexHandle) = {
    import spark.implicits._
    (Postings.decode(h.postings, positions = true).collect()
      .map(p => (p.termId, p.docId, p.tf, p.positions.toSeq)).sortBy(p => (p._1, p._2)).toSeq,
      h.docstats.map(d => (d.docId, d.docLen)).collect().sorted.toSeq)
  }

  test("an index with snappy pages takes append, delete and maintain like a zstd one") {
    val pages = Pages.withInjections(spark, sfDir)
    def range(lo: Long, hi: Long) = pages.filter(col("doc_id") >= lo && col("doc_id") < hi)
    val runs = for (codec <- Seq("snappy", "zstd")) yield {
      val dir = s"$root/codec_$codec"
      IndexCache.deleteRecursively(dir)
      IndexBuilder.buildFrom(spark, range(0, 320), dir, smallCfg)
      if (codec == "snappy") {
        rewriteSnappy(dir)
        assert(parquetChunks(dir).map(_.codec).toSet == Set("SNAPPY"))
      }
      val built = Manifest.read(s"$dir/manifest.json").segments
      val builtFiles = built.map(s => s -> fileSizes(IndexBuilder.segmentDir(dir, s))).toMap
      IndexBuilder.append(spark, range(320, 400), dir, smallCfg)
      IndexBuilder.delete(spark, dir, liveIds(dir).filter(_ % 5 == 0))
      val m = IndexBuilder.maintain(spark, dir, maxSegments = 2, fanIn = 2)
      // the segments maintain left alone keep their files, byte for byte
      val untouched = m.segments.filter(builtFiles.contains)
      assert(untouched.nonEmpty, s"$codec: maintain rewrote every built segment: ${m.segments}")
      untouched.foreach { s =>
        val segDir = IndexBuilder.segmentDir(dir, s)
        assert(fileSizes(segDir) == builtFiles(s), s"$codec: segment ${s.name} changed")
        assert(parquetChunks(segDir).forall(_.codec == codec.toUpperCase))
      }
      val h = IndexReader.load(spark, dir)
      (m.segments, Wand.topK(h, QuerySet.queries, 10), content(h))
    }
    val Seq((oldSegs, oldTop, oldContent), (newSegs, newTop, newContent)) = runs
    assert(oldSegs == newSegs, "maintain chose different runs")
    assert(oldTop.map { case (q, hits) => q -> hits.toSeq } == newTop.map { case (q, hits) => q -> hits.toSeq })
    assert(oldContent == newContent)
    // the snappy index now holds zstd segments next to its snappy ones
    assert(parquetChunks(s"$root/codec_snappy").map(_.codec).toSet == Set("SNAPPY", "ZSTD"))
  }
}
