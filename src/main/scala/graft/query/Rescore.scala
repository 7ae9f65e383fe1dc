package graft.query

import graft.index.Postings
import graft.tokenize.TokenizerStrategy
import org.apache.spark.sql.functions._

/** Two-stage retrieval — the Lucene/ES "rescore window" pattern: a first
  * exact BM25 WAND pass produces a W-deep candidate window per query; a
  * second stage adds an exact-adjacency bigram proximity bonus
  * (final(d) = bm25(d) + β × #distinct consecutive-scoring-term bigrams
  * occurring adjacently in d; the bigram list derives from the parsed
  * query's deduped scoring terms, shared with the oracle) and re-ranks
  * the window — a soft proximity reward, not the hard constraint a
  * quoted phrase imposes.
  *
  * Scale shape: stage 2 decodes positional postings for the CANDIDATE
  * BUCKETS ONLY — the block filter is (termId IN bigram-terms AND bucket
  * IN window-docs' buckets), both pushed to the postings scan, so the
  * decode cost scales with queries × W, not with the bigram terms'
  * posting lists. The rescoring itself is O(queries × W × bigrams)
  * driver work over collected candidate positions (k-bounded, like every
  * other top-k reduce here).
  *
  * Exactness discipline: the window is cut on the rounded comparison key
  * with the boundary-tie guard (the rankedReport/Hybrid discipline); the
  * re-rank orders by round(final, 6) with docId tiebreak on both engine
  * and oracle sides; OOV bigram members contribute nothing on either
  * side.
  *
  * No direct reference analog (MidiTok has no ranking); the W-window
  * discipline and bucket-pruned positional decode are [[Wand]]'s own
  * top-k reduce and the `q_phrase` path's block pruning, composed.
  */
object Rescore {

  def topK(index: IndexHandle, fixtures: Seq[(Int, String)],
      analyzer: TokenizerStrategy, k: Int, window: Int = 20,
      beta: Double = 2.0): Map[Int, Array[(Double, Long)]] = {
    val parsed = QueryParser.parseAll(fixtures, analyzer)
    val fetch = 2 * window
    val base: Map[Int, Seq[(Long, Double)]] =
      Search.search(index, parsed, Wand.Ranked(fetch)).map { case (qid, arr) =>
        qid -> Search.windowByRoundedKey(arr, fetch, window, s"query $qid rescore")
      }
    // consecutive scoring-term bigrams, deduped (the oracle derives the
    // same list from the same ParsedQuery)
    val bigrams: Map[Int, Seq[(String, String)]] = parsed.map { q =>
      val ts = q.scoring.map(_._1)
      q.queryId -> ts.zip(ts.drop(1)).distinct
    }.toMap
    val terms = bigrams.valuesIterator.flatten.flatMap(b => Seq(b._1, b._2)).toSeq.distinct
    val dict = index.lookupTerms(terms)
    val candDocs: Set[Long] = base.valuesIterator.flatten.map(_._1).toSet
    // positions of each bigram term inside each candidate doc: only blocks
    // whose (termId, bucket) can hold a candidate are decoded
    val occ: Map[(Int, Long), Array[Int]] =
      if (dict.isEmpty || candDocs.isEmpty) Map.empty
      else {
        val m = index.manifest
        val ids = dict.valuesIterator.map(_.termId).toSeq
        // candDocs rides the closure so the candidate filter runs INSIDE
        // the decode pass — only the ~queries×W candidate rows ever ship
        // to the driver, never every doc sharing a candidate's bucket
        val cand = candDocs
        Postings.decode(index.postings.filter(col("termId").isin(ids.map(Int.box): _*) &&
            Postings.inBuckets(m, candDocs.toSeq.map(_ / m.bucketRange))), positions = true)
          .filter(p => cand(p.docId))
          .collect()
          .iterator
          .map(p => (p.termId, p.docId) -> p.positions).toMap
      }
    base.map { case (qid, wnd) =>
      val bgs = bigrams.getOrElse(qid, Seq.empty)
      val rescored = wnd.map { case (d, s) =>
        val n = bgs.count { case (a, b) =>
          (for (ea <- dict.get(a); eb <- dict.get(b)) yield {
            val pa = occ.getOrElse((ea.termId, d), Array.empty[Int])
            val pb = occ.getOrElse((eb.termId, d), Array.empty[Int])
            pa.nonEmpty && pb.nonEmpty && {
              val nxt = pb.toSet
              pa.exists(p => nxt.contains(p + 1))
            }
          }).getOrElse(false)
        }
        (s + beta * n, d)
      }.sortBy { case (fs, d) => (-Search.halfUp(fs, 6), d) }.take(k).toArray
      qid -> rescored
    }
  }
}
