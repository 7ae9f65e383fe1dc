package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One BPE merge step. */
final case class MergeStep(step: Int, left: String, right: String, count: Long, merged: String)

/** One WordPiece merge step: the pair maximizing the likelihood score
  * count(l,r) / (count(l)·count(r)) rather than the raw pair count. */
final case class WpMergeStep(step: Int, left: String, right: String, count: Long,
    score: Double, merged: String)

/** Iterative frequency-driven vocabulary training — the engine analog of
  * MidiTok's `train` surface (midi_tokenizer.py:2681-2938), which trains
  * BPE, Unigram and WordPiece models alike (:2784-2832). Here the three
  * trainers are three step rules over one iteration core ([[iterate]]):
  * count the corpus's adjacent token pairs, let the rule pick this step's
  * pair set, fuse it into new vocabulary units, rewrite the corpus, repeat.
  *
  * Deterministic: every rule ranks its candidates under one total order
  * (key desc, then left and right in UTF-8 binary order), and a rewrite is
  * leftmost-non-overlapping, like the reference's deterministic BPE path
  * (vs its explicitly-nondeterministic Unigram path,
  * midi_tokenizer.py:2723-2727, which we avoid). */
object PhraseVocab {
  private type Docs = RDD[(Long, Array[String])]
  private type Pair = (String, String)
  /** A candidate pair with its count and its ranking key. */
  private type Cand = (Pair, Long, Double)

  private val Cached = StorageLevel.MEMORY_AND_DISK

  /** The one candidate order: key descending, then (left, right) in UTF-8
    * BINARY (code-point) order, the collation of the DuckDB replay oracles;
    * Java `String.compareTo` (UTF-16 units) would diverge on
    * supplementary-plane terms. BPE and Unigram rank by count, which a
    * double holds exactly below 2^53. */
  private val KeyDesc: Ordering[Cand] = new Ordering[Cand] {
    def compare(a: Cand, b: Cand): Int = {
      val k = java.lang.Double.compare(b._3, a._3)
      if (k != 0) k
      else {
        val l = Overlap.utf8Compare(a._1._1, b._1._1)
        if (l != 0) l else Overlap.utf8Compare(a._1._2, b._1._2)
      }
    }
  }

  /** Apply one merge to a token sequence: leftmost non-overlapping. */
  def applyMerge(tokens: Array[String], left: String, right: String, merged: String): Array[String] = {
    if (tokens.length < 2) return tokens
    val out = new scala.collection.mutable.ArrayBuffer[String](tokens.length)
    var i = 0
    while (i < tokens.length) {
      if (i + 1 < tokens.length && tokens(i) == left && tokens(i + 1) == right) {
        out += merged
        i += 2
      } else {
        out += tokens(i)
        i += 1
      }
    }
    out.toArray
  }

  /** Apply one fuse pass: every adjacent pair in `qualifying` is fused
    * leftmost-non-overlapping into `l_r`. A one-pair set is exactly
    * `applyMerge(tokens, l, r, l + "_" + r)`. */
  def applyFuseSet(tokens: Array[String], qualifying: Set[(String, String)]): Array[String] = {
    if (tokens.length < 2) return tokens
    val out = new scala.collection.mutable.ArrayBuffer[String](tokens.length)
    var i = 0
    while (i < tokens.length) {
      if (i + 1 < tokens.length && qualifying((tokens(i), tokens(i + 1)))) {
        out += tokens(i) + "_" + tokens(i + 1)
        i += 2
      } else {
        out += tokens(i)
        i += 1
      }
    }
    out.toArray
  }

  /** Adjacent-pair counts over the corpus (one hash-agg job). */
  def pairCounts(docs: Dataset[(Long, Array[String])]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap { case (_, ts) => adjacentPairs(ts) }
      .toDF("left", "right").groupBy("left", "right").agg(count(lit(1)).as("cnt"))
  }

  private def adjacentPairs(ts: Array[String]): Iterator[Pair] =
    if (ts.length < 2) Iterator.empty
    else (0 until ts.length - 1).iterator.map(i => (ts(i), ts(i + 1)))

  /** Corpus-wide counts of the adjacent pairs that occur at least twice. */
  private def pairs(docs: Docs): RDD[(Pair, Long)] =
    docs.flatMap { case (_, ts) => adjacentPairs(ts) }
      .map((_, 1L)).reduceByKey(_ + _).filter(_._2 >= 2)

  private def unigrams(docs: Docs): RDD[(String, Long)] =
    docs.flatMap { case (_, ts) => ts.iterator }.map((_, 1L)).reduceByKey(_ + _)

  /** (pair, cnt(l,r), cnt(l), cnt(r)) for every pair of [[pairs]]. Both
    * joins stay distributed: `uni` is the corpus vocabulary and never
    * reaches the driver (the dictionary build's broadcastVocabMax
    * discipline). */
  private def withUnigrams(docs: Docs, uni: RDD[(String, Long)]): RDD[(Pair, Long, Long, Long)] =
    pairs(docs).map { case ((l, r), c) => (l, (r, c)) }.join(uni)
      .map { case (l, ((r, c), cl)) => (r, (l, c, cl)) }.join(uni)
      .map { case (r, ((l, c, cl), cr)) => ((l, r), c, cl, cr) }

  /** The best candidate as a one-pair set, with its record. */
  private def top1[R](cands: RDD[Cand])(record: Cand => R): Option[(Set[Pair], R)] =
    cands.takeOrdered(1)(KeyDesc).headOption.map(c => (Set(c._1), record(c)))

  /** The iteration core of all three trainers. Each step, `rule(docs,
    * step)` runs the step's own Spark job(s) over the persisted corpus and
    * picks a pair set and the step's record, or nothing (the loop stops).
    * Only then is the previous corpus unpersisted — a job has materialized
    * its child, so no step recomputes the rewrite chain. The corpus is
    * rewritten by [[applyFuseSet]] and persisted (`MEMORY_AND_DISK`). After
    * the last step one job materializes the final rewrite so its parent can
    * go too.
    *
    * Job shape (TrainerLoopSpec pins it): n steps that end at the step
    * limit cost n + 1 jobs for BPE and WordPiece (one `takeOrdered` per
    * step, pair and unigram aggregations meeting in it) and 2n + 1 for
    * Unigram (a `fold` total and a `takeOrdered` per step), the last job
    * being the final materialization. A loop that stops because the rule
    * picked nothing pays that step's jobs on top.
    *
    * The core runs on the RDD layer, the engine's one exception to its
    * Dataset-only rule: the corpus caches as JVM objects, so each
    * full-corpus scan skips a Dataset cache's columnar decode, and no
    * Catalyst plan grows with the rewrites. Against the Dataset loop it
    * replaced, `q_wp_merges` went from 61 jobs / 19.2 s to 11 jobs / 5.8 s
    * (OPTIMIZATION_r06.md §5). Returns the records, the final corpus and a
    * handle that frees its cache (call it once the corpus is consumed). */
  private def iterate[R](docs0: Dataset[(Long, Array[String])], maxSteps: Int)(
      rule: (Docs, Int) => Option[(Set[Pair], R)]
  ): (Seq[R], Dataset[(Long, Array[String])], () => Unit) = {
    val spark = docs0.sparkSession
    import spark.implicits._
    var docs = docs0.rdd.persist(Cached)
    var parent: Docs = null
    val records = scala.collection.mutable.ArrayBuffer.empty[R]
    var done = false
    while (records.size < maxSteps && !done) {
      val pick = rule(docs, records.size)
      if (parent != null) { parent.unpersist(); parent = null }
      pick match {
        case None => done = true
        case Some((set, record)) =>
          records += record
          parent = docs
          docs = docs.map { case (id, ts) => (id, applyFuseSet(ts, set)) }.persist(Cached)
      }
    }
    if (parent != null) { docs.count(); parent.unpersist() }
    val out = docs
    (records.toSeq, spark.createDataset(out), () => { out.unpersist(); () })
  }

  /** BPE: each step merges the most frequent adjacent pair (count >= 2).
    * Counts are exact integers and the order is total, so the merge table
    * equals [[trainLocal]]'s (BpeSpec). */
  def train(docs0: Dataset[(Long, Array[String])], numMerges: Int): (Seq[MergeStep], Dataset[(Long, Array[String])], () => Unit) =
    iterate(docs0, numMerges) { (docs, step) =>
      top1(pairs(docs).map { case (p, c) => (p, c, c.toDouble) }) { case ((l, r), c, _) =>
        MergeStep(step, l, r, c, l + "_" + r)
      }
    }

  /** WordPiece: each step merges the pair (count >= 2) with the best
    * LIKELIHOOD score `count(l,r) / (count(l)·count(r))` — pairs that
    * co-occur more than their unigram frequencies predict win, rather than
    * BPE's raw-count argmax. The score is one double multiply + one divide
    * of exact integer counts, bit-identical in the JVM and the SQL oracle. */
  def trainWordPiece(docs0: Dataset[(Long, Array[String])], numMerges: Int): (Seq[WpMergeStep], Dataset[(Long, Array[String])], () => Unit) =
    iterate(docs0, numMerges) { (docs, step) =>
      top1(withUnigrams(docs, unigrams(docs)).map { case (p, c, cl, cr) =>
        (p, c, c.toDouble / (cl.toDouble * cr.toDouble))
      }) { case ((l, r), c, sc) => WpMergeStep(step, l, r, c, sc, l + "_" + r) }
    }

  /** Unigram-style EM: unlike the single-pair argmax of BPE/WordPiece, each
    * step is a full E/M cycle. The E-step SEGMENTS the whole corpus under
    * the current unigram model — every adjacent pair (count >= 2) whose
    * joint count beats its independence prediction (cnt(l,r)·N >
    * cnt(l)·cnt(r), i.e. positive PMI; the top `cap` by (cnt desc, l, r))
    * is fused in ONE pass — and the M-step re-estimates unit frequencies
    * from the new segmentation (the next step's counts). The fuse decision
    * is pure int64 arithmetic (exact below ~3·10^9 corpus tokens), so the
    * chain replays exactly in SQL; at most `cap` pairs reach the driver per
    * step. Returns each step's fused-set size. */
  def trainUnigram(
      docs0: Dataset[(Long, Array[String])],
      iters: Int,
      cap: Int
  ): (Seq[Int], Dataset[(Long, Array[String])], () => Unit) =
    iterate(docs0, iters) { (docs, _) =>
      // the unigram model feeds the total AND both joins of this step
      val uni = unigrams(docs).persist(Cached)
      val total = uni.map(_._2).fold(0L)(_ + _)
      val q = withUnigrams(docs, uni)
        .collect { case (p, c, cl, cr) if c * total > cl * cr => (p, c, c.toDouble) }
        .takeOrdered(cap)(KeyDesc)
      uni.unpersist()
      if (q.isEmpty) None else { val set = q.map(_._1).toSet; Some((set, set.size)) }
    }

  /** Single-threaded Unigram-EM reference for tests (the oracle twin). */
  def trainUnigramLocal(corpus: Seq[Array[String]], iters: Int, cap: Int): (Seq[Int], Seq[Array[String]]) = {
    var docs = corpus
    val perStep = scala.collection.mutable.ArrayBuffer.empty[Int]
    var step = 0
    var done = false
    while (step < iters && !done) {
      val uni = scala.collection.mutable.HashMap.empty[String, Long]
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      docs.foreach { ts =>
        ts.foreach(t => uni.updateWith(t)(v => Some(v.getOrElse(0L) + 1)))
        var i = 0
        while (i + 1 < ts.length) {
          pairs.updateWith((ts(i), ts(i + 1)))(v => Some(v.getOrElse(0L) + 1))
          i += 1
        }
      }
      val total = uni.valuesIterator.sum
      val q = pairs.iterator
        .filter { case ((l, r), c) => c >= 2 && c * total > uni(l) * uni(r) }
        .toSeq
        .sortBy { case ((l, r), c) => (-c, l, r) }
        .take(cap)
        .map(_._1).toSet
      if (q.isEmpty) done = true
      else {
        perStep += q.size
        docs = docs.map(ts => applyFuseSet(ts, q))
        step += 1
      }
    }
    (perStep.toSeq, docs)
  }

  /** Single-threaded WordPiece reference for tests (the oracle twin). */
  def trainLocalWordPiece(corpus: Seq[Array[String]], numMerges: Int): Seq[WpMergeStep] = {
    var docs = corpus
    val merges = scala.collection.mutable.ArrayBuffer.empty[WpMergeStep]
    var step = 0
    var done = false
    while (step < numMerges && !done) {
      val uni = scala.collection.mutable.HashMap.empty[String, Long]
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      docs.foreach { ts =>
        ts.foreach(t => uni.updateWith(t)(v => Some(v.getOrElse(0L) + 1)))
        var i = 0
        while (i + 1 < ts.length) {
          pairs.updateWith((ts(i), ts(i + 1)))(v => Some(v.getOrElse(0L) + 1))
          i += 1
        }
      }
      val cands = pairs.iterator.filter(_._2 >= 2).map { case ((l, r), c) =>
        (l, r, c, c.toDouble / (uni(l).toDouble * uni(r).toDouble))
      }.toSeq
      if (cands.isEmpty) done = true
      else {
        val (l, r, c, sc) = cands.minBy { case (a, b, _, s) => (-s, a, b) }
        val m = l + "_" + r
        merges += WpMergeStep(step, l, r, c, sc, m)
        docs = docs.map(ts => applyMerge(ts, l, r, m))
        step += 1
      }
    }
    merges.toSeq
  }

  /** Single-threaded reference implementation for tests (the oracle). */
  def trainLocal(corpus: Seq[Array[String]], numMerges: Int): Seq[MergeStep] = {
    var docs = corpus
    val merges = scala.collection.mutable.ArrayBuffer.empty[MergeStep]
    var step = 0
    var done = false
    while (step < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      docs.foreach { ts =>
        var i = 0
        while (i + 1 < ts.length) {
          counts.updateWith((ts(i), ts(i + 1))) { v => Some(v.getOrElse(0L) + 1) }
          i += 1
        }
      }
      if (counts.isEmpty || counts.values.max < 2) done = true
      else {
        val ((l, r), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        val m = l + "_" + r
        merges += MergeStep(step, l, r, c, m)
        docs = docs.map(ts => applyMerge(ts, l, r, m))
        step += 1
      }
    }
    merges.toSeq
  }
}
