package graft.query

import graft.pipeline.Similarity
import graft.tokenize.TokenizerStrategy
import org.apache.spark.sql.DataFrame

/** Hybrid retrieval: lexical BM25 ∪ dense-vector cosine, fused by
  * reciprocal-rank fusion (RRF, Cormack/Clarke/Buettcher's
  * score(d) = Σ_lists 1/(c + rank_list(d)), c = 60) — the standard
  * modern-search composition of the two retrieval modalities this engine
  * already ships (block-max WAND on the inverted index; brute/IVF/PQ
  * cosine over the embedding column).
  *
  * Scale shape: each modality produces a RANK-WINDOW-bounded list (W per
  * query per modality, exactly like every other top-k reduce here), so
  * the fusion itself is O(queries × W) driver work over already-reduced
  * lists — no new scan, join, or shuffle beyond the two component paths,
  * both of which keep their own pruned/bucketed plans. At 10^12 docs the
  * vector side swaps brute-force for the IVF or PQ path unchanged (the
  * fusion consumes ranks, not scores, so modality internals are opaque
  * to it).
  *
  * Exactness discipline: ranks feeding the fusion are comparison-key
  * ranks (BM25 re-ranked by round(score, 6) with the boundary-tie guard;
  * cosine ranked by round(cos, 6) on BOTH engine and oracle sides), so
  * the fused RRF doubles are bit-identical to the oracle's — fused ties
  * break by docId ascending in both systems.
  *
  * Reference analog: MidiTok has no retrieval; the closest structural
  * shape is `TokSequence.__add__/__iadd__` combining two token streams
  * into one ordered sequence (classes.py:263-276) — here the combined
  * streams are rank lists and the order is the fused RRF score.
  */
object Hybrid {

  /** RRF over rank lists: `lists(i)` maps queryId → docIds in rank order
    * (rank = position + 1). Returns per-query fused top-k as
    * (rrfScore, docId), ties broken by docId ascending. The contribution
    * sum runs in list order, so oracle SQL re-deriving it adds terms in
    * the same order (bit-identical doubles). */
  def rrf(lists: Seq[Map[Int, Seq[Long]]], k: Int, c: Int = 60): Map[Int, Array[(Double, Long)]] = {
    val queryIds = lists.flatMap(_.keys).distinct
    queryIds.map { qid =>
      val rankMaps = lists.map(_.getOrElse(qid, Seq.empty).zipWithIndex.toMap)
      val docs = rankMaps.flatMap(_.keys).distinct
      val fused = docs.map { d =>
        val s = rankMaps.foldLeft(0.0) { (acc, m) =>
          m.get(d).fold(acc)(i => acc + 1.0 / (c + i + 1))
        }
        (s, d)
      }.sortBy { case (s, d) => (-s, d) }.take(k).toArray
      qid -> fused
    }.toMap
  }

  /** End-to-end hybrid top-k: WAND BM25 over `index` for the raw query
    * strings + brute-force cosine over `emb` with probe vectors
    * `vec_id == queryId`, each windowed to `window` ranks, RRF-fused to
    * top-k. BM25 fetches 2×window headroom and re-ranks by the rounded
    * comparison key with the window-boundary tie guard (the rankedReport
    * discipline); the cosine side is rounded-before-ranked on both engine
    * and oracle sides already. */
  def topK(index: IndexHandle, fixtures: Seq[(Int, String)], emb: DataFrame,
      analyzer: TokenizerStrategy, k: Int, window: Int = 20,
      c: Int = 60): Map[Int, Array[(Double, Long)]] = {
    val fetch = 2 * window
    val parsed = QueryParser.parseAll(fixtures, analyzer)
    val bm = Search.search(index, parsed, Wand.Ranked(fetch)).map { case (qid, arr) =>
      qid -> Search.windowByRoundedKey(arr, fetch, window,
        s"query $qid fusion").map(_._1)
    }
    val vec = Similarity.bruteForceTopK(emb, fixtures.map(_._1.toLong), window)
      .collect()
      .map(r => (r.getLong(0).toInt, r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (qid, rows) => qid -> rows.sortBy(_._2).map(_._3).toSeq }
    rrf(Seq(bm, vec), k, c)
  }
}
