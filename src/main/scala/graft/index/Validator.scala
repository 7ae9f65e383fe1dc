package graft.index

import graft.codec.VByte
import graft.query.{Bm25, IndexHandle}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

/** Index invariant validator — the engine analog of the reference's
  * `tokens_errors` grammar state machine (midi_tokenizer.py:3246-3370, E7).
  *
  * Checks, per posting block:
  *  - docIds strictly increasing (gaps >= 1) and within the block's bucket;
  *  - tf >= 1 for every posting;
  *  - stored nDocs equals decoded length for both arrays;
  *  - positions decode to exactly tf strictly-increasing values >= 1 per
  *    posting, bounded by the doc's length;
  *  - maxTf equals the max decoded tf; minDocLen equals the min member
  *    docLen; the derived bound impact(maxTf, minDocLen) dominates every
  *    member's exact BM25 impact;
  *  - firstDocId equals the first decoded docId.
  *
  * Distribution: NOTHING is collected to the driver. Term df is joined in
  * distributively (dictionary join on termId), and per-doc lengths reach
  * each block via a cogroup of postings with docstats by docId BUCKET —
  * the same pattern as [[graft.query.Wand.topK]] — so per-task state is
  * bounded by one bucket's docs (<= bucketRange), never the corpus. The
  * reference's analog validator likewise streams per sequence
  * (midi_tokenizer.py:3246-3370) without materializing the corpus.
  *
  * Returns human-readable violations; an empty result is a clean index.
  */
object IndexValidator {

  def validate(index: IndexHandle): Dataset[String] = {
    val spark = index.spark
    import spark.implicits._
    val m = index.manifest
    val nDocs = m.nDocs
    val avgdl = m.avgdl
    val bucketRange = m.bucketRange
    val blocksPerBucket = m.bucketRange / m.blockSize

    // df per block, joined distributively (left outer: a missing dictionary
    // row must surface as a violation, not drop the block)
    val dictDf = index.dictionary.select(col("termId").as("d_termId"), col("df"))
    val withDf: Dataset[(PostingBlock, Long)] = index.postings.toDF()
      .join(dictDf, col("termId") === col("d_termId"), "left_outer")
      .select(col("termId"), col("blockId"), col("firstDocId"), col("nDocs"),
        col("docIdGaps"), col("tfs"), col("positions"), col("maxTf"), col("minDocLen"),
        col("meta"),
        org.apache.spark.sql.functions.coalesce(col("df"), org.apache.spark.sql.functions.lit(-1L)).as("_df"))
      .as[(Int, Long, Long, Int, Array[Byte], Array[Byte], Array[Byte], Int, Int, Map[String, Int], Long)]
      .map { case (t, bid, fd, n, gaps, tfs, pos, mx, mn, meta, df) =>
        (PostingBlock(t, bid, fd, n, gaps, tfs, pos, mx, mn, meta), df)
      }

    val blocksByBucket = withDf.groupByKey { case (b, _) => b.blockId / blocksPerBucket }
    // physical stats: per-block invariants cover tombstoned rows too
    val statsByBucket = index.docstatsRaw.groupByKey(_.docId / bucketRange)

    blocksByBucket.cogroup(statsByBucket) { (bucket, blocks, stats) =>
      val lens = new java.util.HashMap[Long, Integer]()
      stats.foreach(s => lens.put(s.docId, Integer.valueOf(s.docLen)))
      blocks.flatMap { case (b, df) =>
        validateBlock(b, df, bucket, lens, nDocs, avgdl, bucketRange)
      }
    }
  }

  /** All violations of one block, given its term's df and the bucket's
    * docId → docLen map. */
  private def validateBlock(
      b: PostingBlock,
      df: Long,
      bucket: Long,
      lens: java.util.HashMap[Long, Integer],
      nDocs: Long,
      avgdl: Double,
      bucketRange: Long
  ): Seq[String] = {
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    def err(msg: String): Unit = errs += s"term=${b.termId} block=${b.blockId}: $msg"
    def lenOf(docId: Long, miss: Int): Int = {
      val v = lens.get(docId)
      if (v == null) miss else v.intValue()
    }
    val ids =
      try VByte.decodeDocIds(b.docIdGaps)
      catch { case e: Exception => err(s"docId decode failed: ${e.getMessage}"); Array.empty[Long] }
    val tfs =
      try VByte.decodeInts(b.tfs)
      catch { case e: Exception => err(s"tf decode failed: ${e.getMessage}"); Array.empty[Int] }
    if (ids.nonEmpty || tfs.nonEmpty) {
      if (ids.length != b.nDocs) err(s"nDocs=${b.nDocs} but ${ids.length} docIds")
      if (tfs.length != b.nDocs) err(s"nDocs=${b.nDocs} but ${tfs.length} tfs")
      if (ids.nonEmpty && ids(0) != b.firstDocId) err(s"firstDocId=${b.firstDocId} != ids(0)=${ids(0)}")
      var i = 1
      while (i < ids.length) {
        if (ids(i) <= ids(i - 1)) err(s"docIds not strictly increasing at $i")
        i += 1
      }
      ids.foreach { d =>
        if (d / bucketRange != bucket) err(s"docId $d outside bucket $bucket")
      }
      tfs.foreach { tf => if (tf < 1) err(s"tf=$tf < 1") }
      if (tfs.nonEmpty && tfs.max != b.maxTf) err(s"maxTf=${b.maxTf} != max(tfs)=${tfs.max}")
      // the tfP90 metadata must equal the exact nearest-rank p90 of the
      // decoded tfs (and can never exceed the exact maxTf bound)
      b.meta.get(PostingBlock.TfP90Key).foreach { q =>
        if (tfs.isEmpty) err("tfP90 meta present but no postings")
        else {
          val sorted = tfs.sorted
          val expect = sorted((9 * sorted.length + 9) / 10 - 1)
          if (q != expect) err(s"meta tfP90=$q != exact p90 $expect")
          if (q > b.maxTf) err(s"meta tfP90=$q exceeds maxTf=${b.maxTf}")
        }
      }
      // positional payload: tf values per posting, strictly increasing,
      // 1-based, bounded by the doc's length
      val poss =
        try VByte.decodePositions(b.positions, tfs)
        catch { case e: Exception => err(s"positions decode failed: ${e.getMessage}"); Array.empty[Array[Int]] }
      if (poss.nonEmpty) {
        // the posSpan metadata must bound the decoded positions exactly
        (b.meta.get(PostingBlock.MinPosKey), b.meta.get(PostingBlock.MaxPosKey)) match {
          case (Some(mp), Some(xp)) =>
            val nonEmpty = poss.filter(_.nonEmpty)
            if (nonEmpty.isEmpty) err("posSpan meta present but no positions")
            else {
              val fMin = nonEmpty.iterator.map(_.head).min
              val lMax = nonEmpty.iterator.map(_.last).max
              if (mp != fMin) err(s"meta minPos=$mp != min first-position $fMin")
              if (xp != lMax) err(s"meta maxPos=$xp != max last-position $lMax")
            }
          case _ => // no posSpan entry (no posting carries positions) — nothing to check
        }
        var j = 0
        while (j < poss.length) {
          val ps = poss(j)
          if (ps.length != tfs(j)) err(s"posting $j: ${ps.length} positions but tf=${tfs(j)}")
          if (ps.nonEmpty && ps(0) < 1) err(s"posting $j: position ${ps(0)} < 1")
          var q = 1
          while (q < ps.length) {
            if (ps(q) <= ps(q - 1)) err(s"posting $j: positions not strictly increasing")
            q += 1
          }
          val dl = lenOf(ids(j), Int.MaxValue)
          if (ps.nonEmpty && ps(ps.length - 1) > dl)
            err(s"posting $j: position ${ps(ps.length - 1)} exceeds docLen $dl")
          j += 1
        }
      }
      if (df < 0) err("termId not in dictionary")
      else {
        val idf = Bm25.idf(nDocs, df)
        val bound = Bm25.scoreWithIdf(idf, b.maxTf, b.minDocLen, avgdl)
        var minLen = Int.MaxValue
        var j = 0
        while (j < ids.length) {
          val len = lenOf(ids(j), 0)
          if (len < minLen) minLen = len
          val s = Bm25.scoreWithIdf(idf, tfs(j), len, avgdl)
          if (s > bound)
            err(f"member score $s%.9f exceeds derived bound $bound%.9f at doc ${ids(j)}")
          j += 1
        }
        if (ids.nonEmpty && minLen != b.minDocLen)
          err(s"minDocLen=${b.minDocLen} != min member docLen $minLen")
      }
    } else if (b.nDocs != 0) err(s"empty arrays but nDocs=${b.nDocs}")
    errs.toSeq
  }
}
