package graft

import graft.corpus.Pages
import graft.index._
import graft.query.IndexReader
import graft.queries.{IndexCache, IndexQueries}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Fixed block metadata (E6): the posSpan bounds are
  * stored per block, validated by E7, and actually PRUNE proximity-query
  * block decodes — on a planted corpus where the two terms' position spans
  * cannot overlap within the window, every block is skipped before decode,
  * with results identical to the unpruned ground truth. */
class BlockMetaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** 400 docs; "alpha" always at position 1, "beta" at position 2, "omega"
    * always last (position 40) — far beyond any window from alpha. */
  private lazy val plantedDir: String = {
    import spark.implicits._
    val dir = "/tmp/graft_test_index/blockmeta_planted"
    IndexCache.deleteRecursively(dir)
    val filler = (1 to 37).map(i => s"w${i % 7}").mkString(" ")
    val pages = (0L until 400L).map { id =>
      (id, s"planted://$id", s"alpha beta $filler omega")
    }.toDF("doc_id", "url", "text")
      .select(col("doc_id"), col("url"),
        timestamp_seconds(lit(Pages.EpochSeconds)).as("warc_ts"),
        encode(col("text"), "UTF-8").as("html"),
        col("text"), lit("en").as("lang"))
    IndexBuilder.buildFrom(spark, pages, dir,
      IndexConfig(blockSize = 16, bucketRange = 64, postingsBuckets = 2))
    dir
  }

  test("posSpan meta matches decoded positions on every block (E7-validated)") {
    val h = IndexReader.load(spark, plantedDir)
    assert(IndexValidator.validate(h).collect().isEmpty)
    import spark.implicits._
    val spans = h.postings.map { b =>
      (b.meta.get(PostingBlock.MinPosKey), b.meta.get(PostingBlock.MaxPosKey))
    }.collect()
    assert(spans.nonEmpty && spans.forall(s => s._1.isDefined && s._2.isDefined))
  }

  test("impossible-window pair prunes ALL blocks before decode; result matches ground truth (empty)") {
    val h = IndexReader.load(spark, plantedDir)
    val dict = h.lookupTerms(Seq("alpha", "omega"))
    val (keepA, keepB) = IndexQueries.proximitySurvivors(
      h, dict("alpha").termId, dict("omega").termId, window = 3)
    val totalOmega = h.postings.filter(col("termId") === dict("omega").termId).count()
    assert(totalOmega > 0)
    assert(keepA.count() == 0 && keepB.count() == 0,
      "posSpan bound failed to prune an impossible pair")
  }

  test("feasible pair keeps its blocks and finds every match (pruning is conservative)") {
    val h = IndexReader.load(spark, plantedDir)
    val dict = h.lookupTerms(Seq("alpha", "beta"))
    val (keepA, keepB) = IndexQueries.proximitySurvivors(
      h, dict("alpha").termId, dict("beta").termId, window = 3)
    assert(keepA.count() > 0 && keepB.count() > 0)
    // every doc has exactly one (alpha@1, beta@2) match — recompute via the
    // posSpan-pruned path and compare against the corpus ground truth
    val nDocs = 400L
    import spark.implicits._
    val occA = h.postings.filter(col("termId") === dict("alpha").termId)
      .join(keepA, Seq("blockId"), "left_semi").as[PostingBlock]
      .flatMap { b =>
        val ids = graft.codec.VByte.decodeDocIds(b.docIdGaps)
        val tfs = graft.codec.VByte.decodeInts(b.tfs)
        val poss = graft.codec.VByte.decodePositions(b.positions, tfs)
        ids.indices.iterator.flatMap(j => poss(j).iterator.map(p => (ids(j), p)))
      }.toDF("doc_id", "pos_a")
    val occB = h.postings.filter(col("termId") === dict("beta").termId)
      .join(keepB, Seq("blockId"), "left_semi").as[PostingBlock]
      .flatMap { b =>
        val ids = graft.codec.VByte.decodeDocIds(b.docIdGaps)
        val tfs = graft.codec.VByte.decodeInts(b.tfs)
        val poss = graft.codec.VByte.decodePositions(b.positions, tfs)
        ids.indices.iterator.flatMap(j => poss(j).iterator.map(p => (ids(j), p)))
      }.toDF("doc_id", "pos_b")
    val matches = occA.join(occB, Seq("doc_id"))
      .filter((col("pos_b") - col("pos_a")).between(1, 3))
      .count()
    assert(matches == nDocs, s"expected $nDocs alpha..beta matches, got $matches")
  }
}
