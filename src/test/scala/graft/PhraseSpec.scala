package graft

import graft.codec.VByte
import graft.corpus.Pages
import graft.query.IndexReader
import graft.tokenize.Tokenizers
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Positional-index round-trip + phrase retrieval correctness (the engine
  * analog of the reference's lossless token-stream decode,
  * tests/test_tokenize.py:201-250 round-trip golden invariant). */
class PhraseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val dir = {
    val d = "/tmp/graft_test_index/phrase"
    graft.queries.IndexCache.deleteRecursively(d)
    graft.index.IndexBuilder.build(spark, sfDir, d,
      graft.index.IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 2, postingsBuckets = 2))
    d
  }
  private lazy val handle = IndexReader.load(spark, dir)

  /** (docId, term) -> ascending positions, from the tokenizer (ground truth). */
  private lazy val truth: Map[(Long, String), Seq[Int]] = {
    import spark.implicits._
    val tok = Tokenizers.default
    Pages.cleaned(Pages.withInjections(spark, sfDir))
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect()
      .flatMap { case (id, tx) => tok.tokenize(tx).map { case (t, p) => ((id, t), p) } }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted.toSeq }
  }

  test("positions decode losslessly for EVERY posting in the index") {
    val termById = handle.dictMap.values.map(e => e.termId -> e.term).toMap
    var checked = 0
    handle.postings.collect().foreach { b =>
      val ids = VByte.decodeDocIds(b.docIdGaps)
      val tfs = VByte.decodeInts(b.tfs)
      val poss = VByte.decodePositions(b.positions, tfs)
      val term = termById(b.termId)
      ids.indices.foreach { j =>
        val want = truth((ids(j), term))
        assert(poss(j).toSeq == want,
          s"positions for (doc=${ids(j)}, term=$term): got ${poss(j).toSeq} want $want")
        checked += 1
      }
    }
    assert(checked > 1000, s"only $checked postings checked — fixture too small?")
  }

  test("q_phrase equals a brute-force positional scan (incl. overlapping repeats)") {
    val got = graft.queries.IndexQueries.queries("q_phrase")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq
    // brute force over the tokenized corpus
    val byDoc: Map[Long, Array[String]] = {
      import spark.implicits._
      val tok = Tokenizers.default
      Pages.cleaned(Pages.withInjections(spark, sfDir))
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .collect().map { case (id, tx) => id -> tok.terms(tx) }.toMap
    }
    val want = graft.queries.IndexQueries.Phrases.flatMap { case (pid, ts) =>
      byDoc.toSeq.flatMap { case (docId, terms) =>
        (0 to terms.length - ts.length).collect {
          case s if ts.indices.forall(i => terms(s + i) == ts(i)) => (pid, docId, s + 1)
        }
      }
    }.sorted
    assert(got.sorted == want, s"got ${got.size} matches, want ${want.size}")
    assert(want.nonEmpty, "phrase fixture matched nothing — pick livelier phrases")
    // the repeated-term bigram must report overlapping matches
    assert(want.exists(_._1 == 2), "no 'batch batch' match in fixture")
  }
}
