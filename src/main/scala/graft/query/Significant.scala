package graft.query

import graft.index.Postings
import graft.tokenize.TokenizerStrategy
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Significant terms over a query's match window — the search-analytics
  * aggregation behind "related searches" / topic words: terms whose rate
  * in the TOP-W matched docs (the foreground sample) is high relative to
  * their corpus rate, scored JLH-style
  * score(t) = (fgRate − bgRate) × (fgRate / bgRate), reported top-N by
  * (rounded score desc, term asc) with a min-foreground-count floor
  * (singleton terms are noise, the standard min_doc_count discipline).
  *
  * Scale shape: the foreground sample is the W-deep ranked window (the
  * rescore-window discipline — sampling the match set's head is how
  * production engines bound this aggregation), so the forward-term
  * reconstruction reads ONLY posting blocks in the sample docs' buckets
  * — cost ∝ (W × bucketRange / corpus) of the postings, never the whole
  * index. Foreground counting is one partial+final hash agg over those
  * decoded pairs; the dictionary join streams the vocabulary once per
  * BATCH against the broadcast fg side; the per-query top-N is a rank
  * window over an fg-bounded relation.
  *
  * Exactness discipline: window membership by the rounded comparison key
  * with the boundary-tie guard; final ordering by (round(score, 6),
  * term) on both engine and oracle sides; the score expression tree is
  * op-for-op identical to the oracle SQL's, so the doubles agree.
  *
  * Reference analog: frequency-driven vocabulary selection —
  * `MusicTokenizer.train` ranks merge candidates by corpus frequency
  * (midi_tokenizer.py:2681-2927); here the same contrast runs between a
  * match-set sample and the corpus instead of within one corpus.
  */
object Significant {

  def terms(index: IndexHandle, fixtures: Seq[(Int, String)],
      analyzer: TokenizerStrategy, topN: Int, window: Int = 20,
      minFg: Long = 2): DataFrame = {
    val spark = index.spark
    import spark.implicits._
    val fetch = 2 * window
    val parsed = QueryParser.parseAll(fixtures, analyzer)
    val base: Map[Int, Seq[Long]] =
      Search.search(index, parsed, Wand.Ranked(fetch)).map { case (qid, arr) =>
        qid -> Search.windowByRoundedKey(arr, fetch, window,
          s"query $qid sample").map(_._1)
      }
    val sample: Seq[(Int, Long)] = base.toSeq.flatMap { case (qid, ds) => ds.map(qid -> _) }
    if (sample.isEmpty)
      return Seq.empty[(Int, Int, String, Long, Double)]
        .toDF("query_id", "rank", "term", "fg", "score")
    val m = index.manifest
    // forward-term reconstruction for the sample docs: every term's blocks
    // in the sample buckets only (one (term, doc) pair per posting entry)
    val pairs = Postings.decode(
        index.postings.filter(Postings.inBuckets(m, sample.map(_._2 / m.bucketRange))), positions = false)
      .select(col("termId").as("term_id"), col("docId").as("doc_id"))
      .transform(index.excludeDeleted(_, "doc_id"))
    val sampleDf = sample.toDF("query_id", "doc_id")
    val wnDf = base.toSeq.map { case (qid, ds) => (qid, ds.length.toLong) }
      .toDF("query_id", "w_n")
    val fg = pairs.join(broadcast(sampleDf), "doc_id")
      .groupBy("query_id", "term_id").agg(count(lit(1)).as("fg"))
      .filter(col("fg") >= minFg)
    val scored = fg
      .join(index.dictionary.toDF()
        .select(col("termId").as("term_id"), col("term"), col("df")), "term_id")
      .join(broadcast(wnDf), "query_id")
      .withColumn("fg_rate", col("fg").cast("double") / col("w_n").cast("double"))
      .withColumn("bg_rate", col("df").cast("double") / lit(m.nDocs.toDouble))
      .withColumn("score",
        (col("fg_rate") - col("bg_rate")) * (col("fg_rate") / col("bg_rate")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(round(col("score"), 6).desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("query_id"), col("rank"), col("term"), col("fg"),
        round(col("score"), 4).as("score"))
      .orderBy("query_id", "rank")
  }
}
