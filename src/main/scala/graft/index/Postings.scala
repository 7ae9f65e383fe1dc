package graft.index

import graft.codec.VByte
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.functions.{col, lit}

/** One decoded posting of a [[PostingBlock]]. `positions` is the term's
  * ascending 1-based positions in the doc when they were decoded, else
  * empty. */
final case class Posting(termId: Int, docId: Long, tf: Int, positions: Array[Int])

/** The one relational reader of the [[PostingBlock]] format — the engine's
  * exact inverse of the block encoding, the way MidiTok reads token ids
  * back through one `decode` (midi_tokenizer.py:1927-1991). Index verbs,
  * query operators and driver rows decode, point-probe and bucket-filter
  * blocks through these three helpers, so a codec change edits this object.
  *
  * Three readers keep their own decode on purpose:
  *  - WAND's kernel (`Wand.DecodedBlock`, whose positions decode on the
  *    first phrase check) decodes per block into primitive arrays on the
  *    benchmark's hot path, where a row per posting would cost allocation
  *    and serialization;
  *  - [[IndexValidator]] decodes under `try` so a corrupt block becomes a
  *    report row, not a failed job;
  *  - `graft.functions.VByteExpressions` is the codec's SQL surface. */
object Postings {

  /** Every posting of `blocks`, one row each. Positions are decoded only
    * when `positions` is set (otherwise each row carries an empty array). */
  def decode(blocks: Dataset[PostingBlock], positions: Boolean): Dataset[Posting] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.flatMap { b =>
      val ids = VByte.decodeDocIds(b.docIdGaps)
      val tfs = VByte.decodeInts(b.tfs)
      val poss = if (positions) VByte.decodePositions(b.positions, tfs) else null
      ids.indices.iterator.map(j =>
        Posting(b.termId, ids(j), tfs(j), if (poss == null) Array.emptyIntArray else poss(j)))
    }
  }

  /** `docId`'s tf in block `b`: a binary search over the decoded docIds. */
  def tfAt(b: PostingBlock, docId: Long): Option[Int] = {
    val ix = java.util.Arrays.binarySearch(VByte.decodeDocIds(b.docIdGaps), docId)
    if (ix < 0) None else Some(VByte.decodeInts(b.tfs)(ix))
  }

  /** The blocks of the given docId buckets, as an OR of `blockId` ranges
    * ([[inRuns]]). Blocks never span buckets, so the ranges are exact. */
  def inBuckets(m: IndexManifest, buckets: Seq[Long]): Column =
    inRuns(col("blockId"), m.blocksPerBucket, buckets)

  /** `c` inside the given buckets of `width` consecutive values each, as
    * an OR of ranges — one per run of consecutive buckets. A range
    * predicate on a plain column pushes to the parquet scan. No buckets
    * selects nothing. */
  def inRuns(c: Column, width: Long, buckets: Seq[Long]): Column = {
    val runs = buckets.distinct.sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: rest, b) if b == hi + 1 => (lo, b) :: rest
      case (acc, b) => (b, b) :: acc
    }
    runs.reverse
      .map { case (lo, hi) => c >= lo * width && c < (hi + 1) * width }
      .reduceOption(_ || _).getOrElse(lit(false))
  }
}
