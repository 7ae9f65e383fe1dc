package graft

import graft.corpus.Pages
import graft.index._
import graft.query.IndexReader
import graft.queries.{IndexCache, IndexQueries}
import graft.tokenize.{CharNgramTokenizer, TokenizerConfig, Tokenizers}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Strategy interchangeability (§2.11, the reference's nine-tokenizations-
  * one-surface property): the ENTIRE engine — build, invariants, positional
  * decode — runs unchanged under the char-trigram subword strategy. */
class StrategySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("chargram terms: whole short words, sliding trigrams, deterministic") {
    val tok = new CharNgramTokenizer(TokenizerConfig(strategy = "chargram"))
    assert(tok.terms("ab").toSeq == Seq("ab"))
    assert(tok.terms("abcd").toSeq == Seq("abc", "bcd"))
    assert(tok.terms("the fast key").toSeq == Seq("the", "fas", "ast", "key"))
    assert(tok.terms("").isEmpty && tok.terms(null).isEmpty)
    assert(Tokenizers(TokenizerConfig(strategy = "chargram")).isInstanceOf[CharNgramTokenizer])
    intercept[IllegalArgumentException](Tokenizers(TokenizerConfig(strategy = "nope")))
  }

  test("full engine under the chargram strategy: build validates clean, decode round-trips") {
    import spark.implicits._
    val dir = "/tmp/graft_test_index/strategy_chargram"
    IndexCache.deleteRecursively(dir)
    val cfg = IndexConfig(tokenizer = TokenizerConfig(strategy = "chargram"),
      blockSize = 16, bucketRange = 64, postingsBuckets = 2)
    val m = IndexBuilder.buildFrom(spark, Pages.withInjections(spark, sfDir), dir, cfg)
    val h = IndexReader.load(spark, dir)
    assert(IndexValidator.validate(h).collect().isEmpty, "chargram index violates invariants")
    // subword vocabulary is real: trigram terms carry postings
    assert(h.dictionary.filter(length(col("term")) === 3).count() > 0)
    // decode(index) == chargram tokenize(cleaned corpus), doc by doc
    val decoded = IndexQueries.decodeRange(spark, h, 0L, m.maxDocId + 1)
      .collect().groupBy(_.getLong(0))
      .map { case (doc, rows) => doc -> rows.sortBy(_.getInt(1)).map(_.getString(2)).toSeq }
    val tok = Tokenizers(cfg.tokenizer)
    val expected = Pages.cleaned(Pages.withInjections(spark, sfDir))
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect()
      .map { case (doc, text) => doc -> tok.terms(text).toSeq }
      .filter(_._2.nonEmpty).toMap
    assert(decoded.keySet == expected.keySet)
    expected.foreach { case (doc, ts) => assert(decoded(doc) == ts, s"doc $doc differs") }
  }
}
