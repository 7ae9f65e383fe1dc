package graft.query

/** Fielded (multi-vocabulary) BM25F retrieval — the engine analog of the
  * reference's parallel-token-stream tokenizers: Octuple/CPWord emit
  * MULTIPLE vocabularies over one document per timestep
  * (tokenizations/octuple.py:173-203, cp_word.py:319-416; `is_multi_voc`
  * midi_tokenizer.py:3691-3698). Here one logical document carries several
  * FIELDS (title/body/anchor…), each with its own sub-index — own
  * dictionary, postings, norms, (nDocs, avgdl) — and the ranked score is
  * the weighted per-field BM25 sum:
  *
  *   score(q, d) = Σ_f w_f · Σ_t BM25_f(t, d)
  *
  * Implementation: [[Wand.search]] — plain BM25 and BM25F share ONE
  * driver and one bucket-cogroup kernel, because BM25 impact is linear in
  * idf: each (field, term) pair is an independent cursor with effective
  * idf = w_f · idf_f, and upper bounds / block-max refinement / threshold
  * seeding compose per field for free. A document absent from a field
  * (e.g. no body) simply has no cursors there; tombstone deletes compose
  * (a doc deleted from ANY sub-index is dead for the logical document —
  * union-of-fields docLen = -1 sentinels, per-field live stats keep the
  * surviving scores exact). Bm25fSpec pins bit-identical doubles vs a
  * from-the-definition scorer, including title-only short docs and
  * delete == rebuilt-pair equality; `q_bm25f_topk` is the oracle row. */
object Bm25f {

  /** Distributed fielded top-k. `fields` = (sub-index handle, weight) per
    * field; returns exact (score, docId) per query, ranked (score desc,
    * docId asc), up to k rows each. */
  def topK(fields: Seq[(IndexHandle, Double)], queries: Seq[QuerySpec],
      k: Int): Map[Int, Array[(Double, Long)]] =
    Wand.search(fields, queries, Wand.Ranked(k))
}
