package graft.query

import graft.codec.VByte
import graft.index._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

/** One retrieval query: its scoring `terms`, their boosts and the
  * constraints its hits must pass — the one value every pass of
  * [[Wand.search]] and [[Wand.matching]] reads. `boosts` are optional
  * query-time per-term weights (the `term^2.0` syntax of a search box):
  * BM25 impact is linear in idf, so a boost folds into the cursor's
  * effective idf at query-plan time — upper bounds, block-max refinement
  * and threshold seeding all scale with it and the WAND kernel is
  * untouched. Absent terms default to weight 1.0; non-positive boosts are
  * rejected (a zero-weight term is term removal — do that in the query,
  * not the scorer). `constraints` (none by default) are the parsed
  * query's required, excluded, phrase and minimum-match rules
  * ([[ParsedQuery.toQuerySpec]] fills them); their `minMatch` counts this
  * spec's own in-vocabulary `terms`. */
final case class QuerySpec(queryId: Int, terms: Seq[String],
    boosts: Map[String, Double] = Map.empty,
    constraints: Wand.Constraints = Wand.Constraints()) {
  require(boosts.values.forall(_ > 0.0), s"non-positive boost in $boosts")
  def boost(term: String): Double = boosts.getOrElse(term, 1.0)
}
/** A row a WAND bucket ships to the per-query reduce. A hit
  * (`tally = false`) is one doc: its score and, under collapse or sort-by,
  * its key in `group`. A tally (`tally = true`) is a bucket's partial
  * count of the match set: `docId` holds the count and `group` the facet
  * value counted ("" for a plain total). */
final case class ScoredDoc(queryId: Int, docId: Long, score: Double,
    group: String = "", tally: Boolean = false)

/** One docstats row as the WAND cogroup reads it: the field it belongs to,
  * its norm (-1 = tombstoned or filtered out) and the values of the mode's
  * slot expressions ([[Wand.Mode]]), in slot order. */
private[query] final case class SlotStat(field: Int, docId: Long, docLen: Int,
    slots: Seq[String])

/** k-way sorted-array intersection with galloping (exponential) search:
  * driven by the smallest list, each probe doubles its step then binary
  * searches — O(Σ min-list · log(skip)) instead of scanning every list. */
object Intersect {
  def gallop(lists0: Array[Array[Long]]): Array[Long] = {
    if (lists0.isEmpty || lists0.exists(_.isEmpty)) return Array.empty
    val lists = lists0.sortBy(_.length) // rarest first drives the probes
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    val pos = new Array[Int](lists.length)
    val lead = lists(0)
    var i = 0
    while (i < lead.length) {
      val target = lead(i)
      var k = 1
      var ok = true
      while (ok && k < lists.length) {
        val p = gallopTo(lists(k), pos(k), target)
        pos(k) = p
        if (p >= lists(k).length) { ok = false; i = lead.length } // list exhausted → done
        else if (lists(k)(p) != target) ok = false
        k += 1
      }
      if (ok) out += target
      i += 1
    }
    out.result()
  }

  /** first index >= `from` with a(idx) >= target (galloping + binary).
    * The binary window's lower bound is the PREVIOUS probe index (the last
    * index proven < target) — never re-derived from the step width, which
    * would break once the step clamps at 2^30 on >2^30-element lists (the
    * overflow-safe regime this generic U4 kernel must serve). */
  private def gallopTo(a: Array[Long], from: Int, target: Long): Int = {
    if (from >= a.length || a(from) >= target) return from
    var step = 1
    var lo = from // invariant: a(lo) < target
    var hi = from
    while (hi < a.length && a(hi) < target) {
      lo = hi
      // overflow clamp: hi + step wraps negative once both near 2^30
      val next = hi + step
      hi = if (next < 0) a.length else next
      if (step < (1 << 30)) step <<= 1
    }
    var h = math.min(hi, a.length)
    while (lo < h) {
      val mid = (lo + h) >>> 1
      if (a(mid) < target) lo = mid + 1 else h = mid
    }
    lo
  }
}

/** Loaded index handle: a fixed manifest plus its tables, each resolved
  * (file listing; the schema is the row type's, so no Spark job) ONCE per
  * handle, on first use, instead of once per query pass.
  *
  * Caching the resolved relations is safe because everything they name is
  * immutable once a manifest that names it is committed: dictionary and
  * tombstone directories are versioned (`v%05d`), segments are named by
  * (lo, hi, v), and every lifecycle verb writes only names no committed
  * manifest holds yet — build writes nothing once its manifest exists;
  * append, delete, merge and compaction write dictionary/tombstone
  * version N+1 and fresh segment names (append and merge start past the
  * old maxDocId, compaction bumps the segment version to max(v)+1) — and
  * commit the manifest last. Only [[graft.index.IndexBuilder.vacuum]]
  * removes named directories, and a handle on a vacuumed snapshot is
  * unusable with or without the cache. */
final case class IndexHandle(spark: SparkSession, dir: String, manifest: IndexManifest) {
  import spark.implicits._
  lazy val dictionary: Dataset[TermEntry] =
    graft.index.IndexBuilder.readDict(spark, dir, manifest.dictVersion).as[TermEntry]
  lazy val postings: Dataset[PostingBlock] =
    graft.index.IndexBuilder.readPostings(spark, dir, manifest).as[PostingBlock]
  /** PHYSICAL docstats — includes tombstoned docs' rows until compaction.
    * Internal machinery only: WAND (which overlays docLen = -1 sentinels)
    * and the validator (whose per-block invariants are physical). */
  lazy val docstatsRaw: Dataset[DocStat] =
    graft.index.IndexBuilder.readDocstats(spark, dir, manifest).as[DocStat]
  /** LIVE docstats — the public accessor: tombstoned docs excluded, so
    * every docstats-derived surface (norms, quantiles, stats queries)
    * reflects the live corpus by construction. No-op when never deleted. */
  lazy val docstats: Dataset[DocStat] = {
    val raw = docstatsRaw
    if (manifest.tombVersion < 0) raw
    else excludeDeleted(raw.toDF(), "docId")
      .select("docId", "url", "docLen").as[DocStat]
  }
  /** Tombstoned docIds (empty dataset when no delete ever ran). */
  lazy val tombstones: Dataset[Long] =
    graft.index.IndexBuilder.readTombstones(spark, dir, manifest).as[Long]
  /** Anti-join `docCol` against the tombstone set — a no-op (the input
    * plan, untouched) on never-deleted indexes, a result-sized anti-join
    * otherwise. Every non-WAND query path routes its doc-bearing rows
    * through this; WAND skips tombstones inside the bucket cogroup
    * (a post-heap anti-join could under-fill k). */
  def excludeDeleted(df: org.apache.spark.sql.DataFrame, docCol: String): org.apache.spark.sql.DataFrame =
    if (manifest.tombVersion < 0) df
    else df.join(tombstones.toDF("__tomb_doc_id"),
      org.apache.spark.sql.functions.col(docCol) === org.apache.spark.sql.functions.col("__tomb_doc_id"),
      "left_anti")
  /** Dictionary lookup of the given terms — the query path never collects
    * the whole dictionary, only the matching entries. The `term IN (...)`
    * predicate is pushed to the parquet dictionary scan (asserted in
    * PlanSpec), but it prunes little: the dictionary is clustered by termId
    * (df order), so every file's term range spans nearly the whole alphabet
    * and the scan reads nearly the whole `term` column (a one-term lookup
    * read 96,911 to 116,916 of a perfbench serp_read dictionary's 151,771
    * rows) until the dictionary is clustered by term (ROADMAP direction 1). */
  def lookupTerms(terms: Seq[String]): Map[String, TermEntry] = {
    import org.apache.spark.sql.functions.col
    val ts = terms.distinct
    if (ts.isEmpty) Map.empty
    else dictionary.filter(col("term").isin(ts: _*)).collect()
      .map(e => e.term -> e).toMap
  }

  /** Driver-side FULL dictionary map — bench/test-side only (vocabulary
    * enumeration for query generation and oracle building); the query path
    * uses [[lookupTerms]]. */
  lazy val dictMap: Map[String, TermEntry] =
    dictionary.collect().map(e => e.term -> e).toMap

  /** Wildcard expansion: prefix → every dictionary term with it,
    * ascending ([[expand]] with no needles). */
  def expandPrefixes(prefixes: Seq[String], max: Int): Map[String, Seq[String]] =
    expand(prefixes, Nil, max)._1

  /** Fuzzy expansion: needle → every dictionary term within edit distance
    * 1, ascending, including the needle itself when in-vocab ([[expand]]
    * with no prefixes). */
  def expandFuzzy(needles: Seq[String], maxExp: Int): Map[String, Seq[String]] =
    expand(Nil, needles, maxExp)._2

  /** Wildcard and fuzzy expansion for a whole BATCH in ONE narrow scan of
    * the dictionary's `term` column — no key rows, no join, no exchange.
    * Returns (prefix → every term with it, needle → every term within
    * edit distance 1), each ascending; every prefix has an entry, a needle
    * with no neighbour has none.
    *
    * Inside each scan task a term is tested against every prefix with
    * `startsWith`, and its [[IndexHandle.deletionKeys]] probe a
    * driver-built map from the needles' own keys to the needles (the
    * SymSpell shape shared with spell correction): a deletion, insertion
    * or substitution always leaves the two sides a shared key, so the
    * probe hits are a complete candidate set, each verified exactly by
    * [[IndexHandle.withinOneEdit]] — the code-point distance Spark's
    * `levenshtein` computes. The dictionary is clustered by termId (df
    * order), so a file's term range spans nearly the whole alphabet and a
    * term predicate would skip almost no file: the scan reads the whole
    * column whatever it filters on.
    *
    * More than `max` terms under any prefix or needle is a LOUD error
    * (Lucene's TooManyClauses analog): a silently truncated expansion set
    * would make scoring depend on scan order. A task emits at most
    * `max + 1` terms per prefix and per needle, so the collect is bounded
    * by (scan partitions) · (|prefixes| + |needles|) · (max + 1) terms and
    * a prefix or needle over the cap still collects more than `max` terms:
    * the error is exact.
    * Deletes never shrink the dictionary (tombstones are doc-level), so
    * expansion over a deleted corpus may include df-stale terms — their
    * cursors simply find no live docs, exactly like any stale df. */
  private[query] def expand(prefixes: Seq[String], needles: Seq[String], max: Int)
      : (Map[String, Seq[String]], Map[String, Seq[String]]) = {
    val ps = prefixes.distinct.toArray
    ps.foreach(p => require(p.nonEmpty, "empty wildcard prefix"))
    val ns = needles.distinct.filter(_.nonEmpty).toArray
    if (ps.isEmpty && ns.isEmpty) return (Map.empty, Map.empty)
    // key → the needles owning it; needle j is output slot ps.length + j
    val probe: Map[String, Array[Int]] = ns.indices
      .flatMap(j => IndexHandle.deletionKeys(ns(j)).map(_ -> (ps.length + j)))
      .groupMap(_._1)(_._2).map { case (k, slots) => k -> slots.toArray }
    val needleCps = ns.map(_.codePoints.toArray)
    // a term within one edit of a needle is at most one code point longer or shorter
    val lengths = needleCps.flatMap(c => Seq(c.length - 1, c.length, c.length + 1)).toSet
    val hits = dictionary.select("term").as[String].mapPartitions { terms =>
      val taken = new Array[Int](ps.length + ns.length)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      def take(slot: Int, t: String): Unit =
        if (taken(slot) <= max) { taken(slot) += 1; out += (slot -> t) }
      terms.foreach { t =>
        var i = 0
        while (i < ps.length) { if (t.startsWith(ps(i))) take(i, t); i += 1 }
        if (t.nonEmpty && lengths(t.codePointCount(0, t.length))) {
          lazy val cps = t.codePoints.toArray
          IndexHandle.deletionKeys(t).flatMap(probe.getOrElse(_, Array.empty[Int])).distinct
            .foreach(slot => if (IndexHandle.withinOneEdit(needleCps(slot - ps.length), cps)) take(slot, t))
        }
      }
      out.iterator
    }.collect()
    val bySlot = hits.groupMap(_._1)(_._2).map { case (slot, ts) => slot -> ts.distinct.sorted.toSeq }
    ns.indices.find(j => bySlot.get(ps.length + j).exists(_.length > max)).foreach { j =>
      throw new IllegalArgumentException(
        s"fuzzy '${ns(j)}~1' expands to more than $max terms — raise maxExpansions") }
    ps.indices.find(i => bySlot.get(i).exists(_.length > max)).foreach { i =>
      throw new IllegalArgumentException(
        s"wildcard '${ps(i)}*' expands to more than $max terms — narrow the prefix or raise maxExpansions") }
    (ps.indices.map(i => ps(i) -> bySlot.getOrElse(i, Seq.empty)).toMap,
      ns.indices.flatMap(j => bySlot.get(ps.length + j).map(ns(j) -> _)).toMap)
  }
}

object IndexHandle {
  /** A word's `{word} ∪ del1(word)` keys, by code point (the unit of
    * Catalyst's `length`/`substr` and of `levenshtein`): two words within
    * edit distance 1 always share one. */
  private[graft] def deletionKeys(w: String): Seq[String] = {
    val cps = w.codePoints.toArray
    (w +: cps.indices.map(i => new String(cps, 0, i) + new String(cps, i + 1, cps.length - i - 1))).distinct
  }

  /** Code-point edit distance ≤ 1 (Spark's `levenshtein(a, b) <= 1`). */
  private[query] def withinOneEdit(a: Array[Int], b: Array[Int]): Boolean = {
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    if (l.length - s.length > 1) false
    else {
      var i = 0
      while (i < s.length && s(i) == l(i)) i += 1
      if (i == s.length) true
      else if (s.length == l.length) java.util.Arrays.equals(s, i + 1, s.length, l, i + 1, l.length)
      else java.util.Arrays.equals(s, i, s.length, l, i + 1, l.length)
    }
  }
}

object IndexReader {
  def load(spark: SparkSession, dir: String): IndexHandle =
    IndexHandle(spark, dir, Manifest.read(s"$dir/manifest.json"))

  /** Time-travel load: the index exactly as of snapshot `snapshotId` —
    * every query surface (WAND, decode, stats, tombstone overlays) runs
    * against the archived manifest's segment/dictionary/tombstone versions,
    * which stay on disk until vacuum retention expires the snapshot. */
  def loadAt(spark: SparkSession, dir: String, snapshotId: Int): IndexHandle =
    IndexHandle(spark, dir, Manifest.readAt(dir, snapshotId))
}

/** Document-at-a-time block-max WAND top-k (the new query surface mandated
  * by the north rule; its stateful cursor machinery is the engine analog of
  * the reference's replay-interpreter decode path, remi.py:368-651).
  *
  * Distribution: postings and docstats are grouped by docId bucket —
  * each bucket runs an independent exact WAND producing a local top-k;
  * local top-ks are reduced to the global top-k with a bounded heap. A
  * small pass does this on the driver, a large one as a cogroup
  * ([[Wand.search]]'s two placements).
  * Wall-clock scales with the largest bucket, not the largest term
  * (head-term skew immunity), and no stage ever materializes more than
  * (buckets × k) candidate rows.
  *
  * Exactness discipline (rank-identical scores vs the brute-force oracle):
  *  - per-doc score sums impacts in ascending-termId order, Double accum;
  *  - heap tie-break prefers smaller docId; DAAT visits docIds ascending, so
  *    pruning a doc whose upper bound equals the threshold is tie-safe
  *    (any equal-scored doc already in the heap has a smaller docId).
  */
object Wand {

  /** The match constraints of one [[QuerySpec]] — raw analyzer terms,
    * resolved against the dictionary inside the one WAND driver. A result
    * doc must contain every `required` term, at least one member of every
    * `requiredAny` group, every `phrases` sequence within its slop, at
    * least `minMatch` distinct terms of its spec's own `terms`, none of the
    * `excluded` terms and none of the `excludedPhrases`. An OOV required or
    * phrase term, an all-OOV `requiredAny` group or a `minMatch` above the
    * spec's in-vocabulary terms empties the query; OOV excluded terms and
    * excluded phrases holding one are no-ops. Verification is bucket-local
    * (a doc and all its postings share a bucket) and runs only on docs
    * that survive the WAND pivot + block-max gates. */
  final case class Constraints(required: Seq[String] = Seq.empty,
      excluded: Seq[String] = Seq.empty, phrases: Seq[Phrase] = Seq.empty,
      excludedPhrases: Seq[Phrase] = Seq.empty,
      requiredAny: Seq[Seq[String]] = Seq.empty, minMatch: Int = 0) {
    def isEmpty: Boolean =
      required.isEmpty && excluded.isEmpty && phrases.isEmpty &&
        excludedPhrases.isEmpty && requiredAny.isEmpty && minMatch == 0
    /** Every term the constraints name, for the pass's one lookup. */
    private[query] def terms: Seq[String] =
      required ++ excluded ++ phrases.flatMap(_.terms) ++
        excludedPhrases.flatMap(_.terms) ++ requiredAny.flatten
  }

  /** Dictionary-resolved constraints (termIds, field 0); each phrase
    * carries its slop (max extra gap between consecutive terms).
    * `requiredAny` groups are disjunctions: the doc must contain at least
    * one member of EVERY group (the expanded `+pre*` wildcard). */
  private[query] final case class ResolvedConstraints(
      required: Array[Int], excluded: Array[Int],
      phrases: Array[(Array[Int], Int)],
      excludedPhrases: Array[(Array[Int], Int)],
      requiredAny: Array[Array[Int]], minMatch: Int) {
    def isEmpty: Boolean =
      required.isEmpty && excluded.isEmpty && phrases.isEmpty &&
        excludedPhrases.isEmpty && requiredAny.isEmpty && minMatch == 0
  }

  /** `c` against field 0's lookup, for a spec whose in-vocabulary scoring
    * terms number `inVocab`: `None` when no doc can satisfy it (see
    * [[Constraints]]), else its termIds with the no-op OOV terms dropped. */
  private def resolve(c: Constraints, inVocab: Int,
      dict: Map[String, TermEntry]): Option[ResolvedConstraints] = {
    def ids(ts: Seq[String]): Array[Int] = ts.distinct.flatMap(dict.get).map(_.termId).toArray
    def phrase(p: Phrase): (Array[Int], Int) = (p.terms.map(t => dict(t).termId).toArray, p.slop)
    if (c.required.exists(t => !dict.contains(t)) ||
        c.phrases.exists(_.terms.exists(t => !dict.contains(t))) ||
        c.requiredAny.exists(g => !g.exists(dict.contains)) || inVocab < c.minMatch) None
    else Some(ResolvedConstraints(ids(c.required), ids(c.excluded), c.phrases.map(phrase).toArray,
      c.excludedPhrases.filter(_.terms.forall(dict.contains)).map(phrase).toArray,
      c.requiredAny.map(ids).toArray, c.minMatch))
  }

  /** The index of the block among one term's bucket-local decoded blocks
    * (ascending disjoint runs) that may hold `doc`, or -1: a binary search
    * for the last block starting at or before it. */
  private def blockOf(blocks: Array[DecodedBlock], doc: Long): Int = {
    var lo = 0
    var hi = blocks.length - 1
    var bi = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (blocks(mid).firstDocId <= doc) { bi = mid; lo = mid + 1 } else hi = mid - 1
    }
    bi
  }

  /** docId membership across one term's bucket-local decoded blocks. */
  private[query] def containsDoc(blocks: Array[DecodedBlock], doc: Long): Boolean = {
    val bi = blockOf(blocks, doc)
    bi >= 0 && java.util.Arrays.binarySearch(blocks(bi).ids, doc) >= 0
  }

  /** `doc`'s positions of one term from the same decoded blocks, or null
    * when the term is absent from it. */
  private def positionsOf(blocks: Array[DecodedBlock], doc: Long): Array[Int] = {
    val bi = blockOf(blocks, doc)
    val ix = if (bi < 0) -1 else java.util.Arrays.binarySearch(blocks(bi).ids, doc)
    if (ix < 0) null else blocks(bi).positions(ix)
  }

  /** {q ∈ b : ∃p ∈ a, p + lo ≤ q ≤ p + hi} — both ascending; linear
    * two-pointer. With lo = hi = 1 this is exact-adjacency chain
    * extension (the plain quoted phrase); hi = 1 + slop widens the window
    * (`"a b"~slop` ordered-window proximity). Returns the END positions,
    * so chains fold left-to-right across an n-term phrase. */
  private[query] def windowIntersect(
      a: Array[Int], b: Array[Int], lo: Int, hi: Int): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val q = b(j)
      if (a(i) + hi < q) i += 1          // window entirely before q
      else if (a(i) + lo > q) j += 1     // q before the window
      else { out += q; j += 1 }          // a(i)+lo <= q <= a(i)+hi
    }
    out.result()
  }

  /** One block decoded once per bucket and shared by every query in the
    * batch and every check of it (decode amortization: a 512-query batch
    * touches each block's bytes once, not 512 times). Cursors, membership
    * probes and the match walk read its docIds and tfs; it keeps the
    * positional bytes and decodes them on the first phrase check that
    * reaches the block, so the scoring path never touches them. */
  private[query] final class DecodedBlock(
      val firstDocId: Long,
      val ids: Array[Long],
      val tfs: Array[Int],
      /** tf used for the block's pruning bound: maxTf on the exact path; a
        * quantile (e.g. the tfP90 block metadata) on the TIERED approximate path, where a
        * tighter-but-unsafe bound trades bounded recall for fewer exact
        * evaluations (the score-at-a-time pruning experiment). */
      val boundTf: Int,
      val minDocLen: Int,
      positionBytes: Array[Byte]) {
    /** Each posting's positions, in `ids` order. */
    lazy val positions: Array[Array[Int]] = VByte.decodePositions(positionBytes, tfs)
  }

  private[query] object DecodedBlock {
    def apply(b: PostingBlock, boundKey: Option[String]): DecodedBlock =
      new DecodedBlock(b.firstDocId, VByte.decodeDocIds(b.docIdGaps),
        VByte.decodeInts(b.tfs),
        boundKey.flatMap(b.meta.get).getOrElse(b.maxTf), b.minDocLen, b.positions)
  }

  /** Cursor over one term's decoded blocks within one bucket. Block upper
    * bounds are derived at query time from the stored (maxTf, minDocLen)
    * under the CURRENT (idf, avgdl): BM25 impact is monotone ↑tf / ↓docLen,
    * so the bound dominates every member exactly, in doubles, and survives
    * stats drift from incremental appends. */
  private[query] final class TermCursor(
      val termId: Int,
      val blocks: Array[DecodedBlock],
      /** EFFECTIVE idf — BM25 impact is linear in idf, so a fielded cursor
        * folds its field weight in here (w_f · idf_f) and the kernel stays
        * field-agnostic. */
      val idf: Double,
      val avgdl: Double,
      /** index into the kernel's per-field docLens array (0 for the
        * single-field BM25 path). */
      val field: Int = 0
  ) {
    private val bounds: Array[Double] = {
      val a = new Array[Double](blocks.length)
      var i = 0
      while (i < blocks.length) {
        a(i) = Bm25.scoreWithIdf(idf, blocks(i).boundTf, blocks(i).minDocLen, avgdl)
        i += 1
      }
      a
    }
    /** Term-level upper bound: max over this bucket's block bounds. */
    val termUB: Double = { var m = 0.0; var i = 0; while (i < bounds.length) { if (bounds(i) > m) m = bounds(i); i += 1 }; m }
    private var bi = 0
    private var pi = 0

    /** Postings in this bucket for this term (instrumentation only). */
    def totalDocs: Int = { var n = 0; var i = 0; while (i < blocks.length) { n += blocks(i).ids.length; i += 1 }; n }

    def exhausted: Boolean = bi >= blocks.length
    def curDoc: Long = if (exhausted) Long.MaxValue else blocks(bi).ids(pi)
    def curTf: Int = blocks(bi).tfs(pi)
    def blockMax: Double = if (exhausted) 0.0 else bounds(bi)

    /** Advance to the first posting with docId >= target; skips whole
      * blocks via the NEXT block's firstDocId. */
    def advanceTo(target: Long): Unit = {
      if (exhausted) return
      while (bi + 1 < blocks.length && blocks(bi + 1).firstDocId <= target) { bi += 1; pi = 0 }
      if (exhausted) return
      val ids = blocks(bi).ids
      while (pi < ids.length && ids(pi) < target) pi += 1
      if (pi >= ids.length) { bi += 1; pi = 0; if (!exhausted) advanceTo(target) }
    }

    def advanceOne(): Unit = {
      if (exhausted) return
      pi += 1
      if (pi >= blocks(bi).ids.length) { bi += 1; pi = 0 }
    }
  }

  /** Bounded min-heap keyed worst-first: (score asc, docId desc). */
  private[query] final class TopKHeap(k: Int, initTheta: Double = Double.NegativeInfinity) {
    private val ord: Ordering[(Double, Long)] = Ordering.by[(Double, Long), Double](_._1).reverse.orElseBy(_._2)
    // PriorityQueue dequeues the MAX by ordering; we want to pop the WORST,
    // so order by (score desc, docId asc).reverse == (score asc, docId desc)
    private val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord)
    def size: Int = pq.size
    def full: Boolean = pq.size >= k
    /** The pruning threshold never drops below the SEEDED global lower
      * bound, so a bucket whose local candidates are all weak skips them
      * without waiting for its own heap to fill. */
    def threshold: Double =
      if (full) math.max(pq.head._1, initTheta) else initTheta
    def offer(score: Double, docId: Long): Unit = {
      if (!full) pq.enqueue((score, docId))
      else {
        val (ws, wd) = pq.head
        if (score > ws || (score == ws && docId < wd)) { pq.dequeue(); pq.enqueue((score, docId)) }
      }
    }
    /** Ranked best-first: (score desc, docId asc). */
    def ranked: Array[(Double, Long)] = pq.dequeueAll.toArray.reverse
  }

  /** Bounded GROUP-COLLAPSED top-k: keeps each group's best-(score desc,
    * docId asc) doc and the top-k groups ranked by that best — the "one
    * result per site" collector. Same admission/tie discipline as
    * [[TopKHeap]], so WAND's skip-ties-at-θ rule stays exact (DAAT visits
    * docIds ascending).
    *
    * Lazy-deletion heap: improving a group's best leaves a stale pq entry
    * that purges at the next threshold read, so offers stay O(log n).
    * Evicting the worst group when a new group is admitted at capacity is
    * exact: the k better group-bests each lower-bound their group's FINAL
    * best, so the evicted group's current best can never rank top-k; if a
    * LATER doc of that group beats the then-current threshold, the group
    * simply re-enters as new. The threshold (the kth-best group-best) is a
    * sound WAND pruning bound: a doc scoring ≤ θ either fails to improve
    * its group (its group's best already ≥ its score) or becomes a
    * group-best that k groups already beat. */
  private[query] final class CollapseTopK(k: Int) {
    private val best = new java.util.HashMap[String, (Double, Long)]()
    // pop the WORST live entry: order by (score asc, docId desc)
    private val ord: Ordering[(Double, Long, String)] =
      Ordering.by[(Double, Long, String), Double](_._1).reverse.orElseBy(_._2)
    private val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Long, String)](ord)
    private def live(e: (Double, Long, String)): Boolean = {
      val b = best.get(e._3); b != null && b._1 == e._1 && b._2 == e._2
    }
    private def purge(): Unit =
      while (pq.nonEmpty && !live(pq.head)) { pq.dequeue(); () }
    def threshold: Double =
      if (best.size < k) Double.NegativeInfinity else { purge(); pq.head._1 }
    def offer(score: Double, docId: Long, group: String): Unit = {
      val cur = best.get(group)
      if (cur == null) {
        if (best.size >= k) {
          purge()
          val (ws, wd, wg) = pq.head
          // a distinct doc can't tie on BOTH keys: equal score + equal
          // docId would be the same doc, and then cur != null
          if (score < ws || (score == ws && docId > wd)) return
          pq.dequeue(); best.remove(wg); ()
        }
        best.put(group, (score, docId)); pq.enqueue((score, docId, group))
      } else if (score > cur._1 || (score == cur._1 && docId < cur._2)) {
        best.put(group, (score, docId)); pq.enqueue((score, docId, group))
      }
    }
    /** Ranked best-first (score desc, docId asc), one row per group. */
    def ranked: Array[(Double, Long)] = {
      best.values.asScala.toArray.sortBy { case (s, d) => (-s, d) }
    }
  }

  /** Exact WAND over one bucket for one query. `docLens` is indexed by each
    * cursor's `field` (a single-element array on the plain BM25 path); the
    * exact evaluation reads every at-pivot cursor's OWN (field docLen,
    * avgdl), which is what makes the same kernel serve BM25F.
    *
    * `admit` (null = always) is the constraint hook of the parsed-query
    * surface: a doc reaching exact evaluation is scored only if
    * admit(docId) holds (required/excluded/phrase verification, all
    * bucket-local). Constraints only REMOVE candidates, so every upper
    * bound stays valid and the threshold — fed only by admitted docs —
    * remains a lower bound on the true kth-best admitted score: pruning
    * stays exact. The check runs BEFORE the scoring loop (membership
    * probes are cheaper than the docLen lookups + impact math they save).
    *
    * `(afterScore, afterDoc)` is the deep-pagination (search_after) order
    * cursor: only docs STRICTLY after it in the global (score desc, docId
    * asc) ranking enter the heap. The default (+∞, -1) admits everything
    * (every finite score < +∞). The cutoff is one-sided-high, so it cannot
    * interact with WAND/block-max pruning (which skips LOW upper bounds);
    * a before-cursor doc still pays its exact evaluation and is rejected
    * at the heap — the price of exactness, bounded by the page-1 result
    * size per bucket. Scores are deterministic doubles (fixed summation
    * order), so cursor equality is exact across runs. */
  private[query] def wandBucket(
      cursors0: Array[TermCursor],
      docLens: Array[java.util.HashMap[Long, Integer]],
      k: Int,
      metrics: Option[WandMetrics] = None,
      initTheta: Double = Double.NegativeInfinity,
      admit: Long => Boolean = null,
      afterScore: Double = Double.PositiveInfinity,
      afterDoc: Long = -1L,
      groupOf: Long => String = null,
      boostOf: Long => Double = null,
      maxBoost: Double = 1.0
  ): Array[(Double, Long)] = {
    // boostOf (null = none): FUNCTION SCORE — the exact score is
    // boostOf(doc) × Σ impacts, with every upper bound (term UB, block
    // max) scaled by the caller-asserted global maxBoost, so pruning
    // stays exact (weaker by the boost spread, never wrong)
    // groupOf (null = no collapse) keys the group-collapsed collector:
    // the result is then the bucket's top-k GROUP-bests, the threshold the
    // kth-best group-best (sound — see CollapseTopK). Seeding is disabled
    // by the caller under collapse, so initTheta is -inf there.
    val heap = if (groupOf == null) new TopKHeap(k, initTheta) else null
    val cheap = if (groupOf != null) new CollapseTopK(k) else null
    def curTheta: Double =
      if (heap != null) heap.threshold else math.max(cheap.threshold, initTheta)
    val cursors = cursors0.filter(!_.exhausted)
    if (cursors.isEmpty) return Array.empty
    val n = cursors.length
    val order = cursors.indices.toArray // indices sorted by curDoc
    // insertion sort of `order` by curDoc (n <= |query terms| is tiny)
    def resort(): Unit = {
      var i = 1
      while (i < n) {
        val v = order(i)
        val dv = cursors(v).curDoc
        var j = i - 1
        while (j >= 0 && cursors(order(j)).curDoc > dv) { order(j + 1) = order(j); j -= 1 }
        order(j + 1) = v
        i += 1
      }
    }

    var done = false
    while (!done) {
      resort()
      // pivot: smallest prefix whose term-UB sum exceeds threshold
      val theta = curTheta
      var ub = 0.0
      var p = -1
      var i = 0
      while (i < n && p < 0) {
        ub += cursors(order(i)).termUB * maxBoost
        if (ub > theta && cursors(order(i)).curDoc != Long.MaxValue) p = i
        i += 1
      }
      if (p < 0) done = true
      else {
        val pivotDoc = cursors(order(p)).curDoc
        if (cursors(order(0)).curDoc == pivotDoc) {
          // block-max refinement: exact-eval only if block maxima can beat θ
          var bmSum = 0.0
          var j = 0
          while (j <= p) { val c = cursors(order(j)); if (c.curDoc == pivotDoc) { c.advanceTo(pivotDoc); bmSum += c.blockMax * maxBoost }; j += 1 }
          // also add UBs of cursors beyond p that are AT pivotDoc
          var j2 = p + 1
          while (j2 < n) { val c = cursors(order(j2)); if (c.curDoc == pivotDoc) bmSum += c.blockMax * maxBoost; j2 += 1 }
          if (bmSum > theta && (admit == null || admit(pivotDoc))) {
            // exact evaluation: sum impacts in cursor order — cursors are
            // pre-sorted by (field, termId) at construction, Double accum.
            // Each at-pivot cursor reads its OWN field's docLen and avgdl.
            var score = 0.0
            var dead = false
            var t = 0
            while (t < n && !dead) {
              val c = cursors(t)
              if (c.curDoc == pivotDoc) {
                // the build invariant guarantees a DocStat for every
                // posting's doc — a miss means the bucket semi-join pruning
                // or the docstats write is broken; fail loudly, never
                // score with dl=0
                val len = docLens(c.field).get(pivotDoc)
                if (len == null)
                  throw new IllegalStateException(
                    s"no DocStat for docId $pivotDoc (field ${c.field}) — docstats pruning/build bug")
                val dl = len.intValue()
                // dl == -1 marks a tombstoned doc: skip scoring (cursors
                // still advance below), so the heap fills with live docs
                if (dl == -1) dead = true
                else score += Bm25.scoreWithIdf(c.idf, c.curTf, dl, c.avgdl)
              }
              t += 1
            }
            if (!dead) {
              metrics.foreach(_.evals.add(1L))
              if (boostOf != null) score *= boostOf(pivotDoc)
              if (score < afterScore || (score == afterScore && pivotDoc > afterDoc)) {
                if (heap != null) heap.offer(score, pivotDoc)
                else cheap.offer(score, pivotDoc, groupOf(pivotDoc))
              }
            }
          }
          // advance every cursor sitting at pivotDoc
          var a = 0
          while (a < n) { if (cursors(a).curDoc == pivotDoc) cursors(a).advanceOne(); a += 1 }
        } else {
          // advance the lagging cursors up to the pivot
          var a = 0
          while (a <= p) { val c = cursors(order(a)); if (c.curDoc < pivotDoc) c.advanceTo(pivotDoc); a += 1 }
        }
      }
    }
    if (heap != null) heap.ranked else cheap.ranked
  }

  /** Bucket-count cap for the docId-range bucket predicate
    * ([[inDocBuckets]]), and for the cogroup placement's bucket probe;
    * beyond it the probe keeps the distributed semi-join. */
  final val MaxPredicateBuckets = 256

  /** The rows of a docId-keyed table (docstats, tombstones) in the given
    * buckets of `bucketRange` docIds: one docId range per run of
    * consecutive buckets ([[graft.index.Postings.inRuns]]), pushed INTO the
    * parquet scan, so min/max footer stats skip whole files/row groups.
    * Beyond [[MaxPredicateBuckets]] buckets the pushed predicate is the one
    * range spanning them all, narrowed to the listed buckets after the
    * scan. */
  private def inDocBuckets(bucketRange: Long, buckets: Array[Long]): Column = {
    require(buckets.nonEmpty, "at least one bucket")
    if (buckets.length <= MaxPredicateBuckets) Postings.inRuns(col("docId"), bucketRange, buckets)
    else col("docId") >= buckets.min * bucketRange && col("docId") < (buckets.max + 1) * bucketRange &&
      (col("docId") / lit(bucketRange)).cast("long").isin(buckets.toIndexedSeq.map(Long.box): _*)
  }

  /** docstats restricted to the given docId buckets ([[inDocBuckets]]);
    * docstats are clustered by docId bucket on write. */
  def docstatsForBuckets(index: IndexHandle, buckets: Array[Long]): Dataset[DocStat] =
    index.docstatsRaw.filter(inDocBuckets(index.manifest.bucketRange, buckets))

  /** Optional pruning instrumentation: `candidates` counts every posting
    * a naive DAAT would touch (Σ cursor lengths per query per bucket);
    * `evals` counts docs that actually reached exact evaluation after the
    * pivot + block-max gates. evals/candidates is the measured skip rate. */
  final case class WandMetrics(
      evals: org.apache.spark.util.LongAccumulator,
      candidates: org.apache.spark.util.LongAccumulator)

  object WandMetrics {
    def apply(spark: SparkSession): WandMetrics = WandMetrics(
      spark.sparkContext.longAccumulator("wandExactEvals"),
      spark.sparkContext.longAccumulator("wandCandidatePostings"))
  }

  /** What each bucket of one WAND pass computes per query: the docstats
    * slots it reads and the rows it ships. A [[Mode]] also folds the rows
    * into a result per query; [[matching]] keeps them as a relation. */
  sealed abstract class Pass {
    /** The docstats expressions riding into the cogroup next to each doc's
      * norm (collapse, facet or sort keys, or a boost), read per doc
      * through [[BucketQuery.key]]. */
    private[query] def slots: Seq[Column]
    /** Whether the pass may run over several fields (BM25F, shards). */
    private[query] def multiField: Boolean = false
    private[query] def boundKey: Option[String] = None
    /** The ranked part, whose threshold the stats-only seed may raise. */
    private[query] def rankedPart: Option[Ranked] = None
    /** A bucket's rows for one query. Built on the driver from plain values
      * taken from the pass, so no Column reaches an executor. */
    private[query] def emitter: BucketQuery => Iterator[ScoredDoc]
  }

  /** What one pass of the WAND driver ([[search]]) computes per query. Each
    * mode fixes its result type, its no-hit result, what a bucket ships per
    * query and how those rows fold, so a mix without a meaning (a cursor
    * under collapse, a boost on a count) cannot be written. */
  sealed abstract class Mode[R: TypeTag] extends Pass {
    private[query] def empty: R
    /** One query's rows from every bucket folded into its result, on an
      * executor or, in [[search]]'s driver placement, the driver; built
      * like [[emitter]]. */
    private[query] def fold: Iterator[ScoredDoc] => R
    /** Every bucket's rows reduced per query, in one job. */
    private[query] final def reduce(rows: Dataset[ScoredDoc]): Map[Int, R] =
      perQuery(rows)(fold)
  }

  /** How a [[Ranked]] pass orders its hits. */
  sealed trait Order

  /** (score desc, docId asc).
    *
    * `after` holds per-query search_after cursors — DEEP PAGINATION: the
    * next k docs STRICTLY after a query's `(score, docId)` cursor in the
    * global ranking, page N+1 given page N's last row, exactly, without
    * re-materializing pages 1..N. Stateless (the cursor IS the state, like
    * Elasticsearch's search_after vs scroll contexts), so it composes with
    * index appends only in the same snapshot — page against one `loadAt`
    * snapshot for a stable ranking. Scores are deterministic doubles (fixed
    * summation order), so a cursor taken from one run is exact in the next.
    * The cutoff is one-sided-high and cannot interact with WAND/block-max
    * pruning; before-cursor docs re-pay exact evaluation and are rejected
    * at the heap. Queries absent from `after` get their first page.
    *
    * `boost` is a FUNCTION SCORE (doc-value boost): score' = boost(doc) ×
    * BM25(query, doc), where the Column is any expression over the docstats
    * row (recency, a quality signal, pagerank — Lucene's FunctionScoreQuery
    * in multiply mode) and the Double the caller-asserted global bound on
    * its values (validated per doc, loudly). Pruning stays EXACT: every
    * term upper bound and block max scales by that bound, so the cost of a
    * wide boost spread is weaker pruning, never a wrong ranking. Single
    * field only. */
  final case class ByScore(after: Map[Int, (Double, Long)] = Map.empty,
      boost: Option[(Column, Double)] = None) extends Order {
    boost.foreach { case (_, mb) =>
      require(mb > 0.0 && !mb.isInfinite, s"maxBoost must be finite positive, got $mb") }
  }

  /** COLLAPSED ranking: one result per GROUP of `key` (any Column over the
    * docstats row, e.g. a host extracted from url) — the best-scoring doc
    * of each of the k best groups, ranked by their bests; the "field
    * collapse" / site-dedup of a web SERP. Exact by a two-level argument:
    * bucket-locally the kth-best group-best is a sound WAND threshold (a
    * doc scoring ≤ θ either can't improve its group or is beaten by k
    * groups — [[CollapseTopK]]), and a group in the GLOBAL top-k has its
    * best doc inside some bucket's local top-k group-bests. A collapsed
    * ranking has no stable per-doc cursor, so it carries none. */
  final case class Collapse(key: Column) extends Order

  /** Exact top-k (score, docId) per query, ranked (score desc, docId asc)
    * or collapsed.
    *
    * `boundKey` makes the pass a TIERED approximate one: block pruning
    * bounds derive from the named block metadata entry (e.g.
    * [[graft.index.PostingBlock.TfP90Key]]) instead of maxTf — an
    * UNSAFE (quantile) bound, so high-tf postings in blocks whose quantile
    * bound sits under the threshold can be missed. The trade is deliberate
    * and measured (PruneSpec: evals saved vs recall); blocks without the
    * key fall back to the exact maxTf bound, so an unknown key degrades to
    * exact, never to wrong-er. */
  final case class Ranked(k: Int, order: Order = ByScore(),
      override val boundKey: Option[String] = None) extends Mode[Array[(Double, Long)]] {
    require(k > 0, s"Ranked requires k > 0, got $k")
    private[query] def slots: Seq[Column] = order match {
      case ByScore(_, boost) => boost.map(_._1).toSeq
      case Collapse(key)     => Seq(key)
    }
    // a boost rides the one field's docstats row
    private[query] override def multiField: Boolean = order match {
      case ByScore(_, boost) => boost.isEmpty
      case Collapse(_)       => true
    }
    private[query] override def rankedPart: Option[Ranked] = Some(this)
    private[query] def empty: Array[(Double, Long)] = Array.empty
    private[query] def emitter: BucketQuery => Iterator[ScoredDoc] = {
      val kk = k
      val grouped = order.isInstanceOf[Collapse]
      val (after, maxBoost) = order match {
        case ByScore(a, b) => (a, b.map(_._2))
        case Collapse(_)   => (Map.empty[Int, (Double, Long)], None)
      }
      q => {
        val (aScore, aDoc) = after.getOrElse(q.queryId, (Double.PositiveInfinity, -1L))
        val groupOf: Long => String = if (grouped) q.key(_) else null
        val boostOf: Long => Double =
          maxBoost.map(mb => (d: Long) => parseBoost(q.key(d), d, mb)).orNull
        wandBucket(q.cursors, q.docLens, kk, q.metrics, q.theta0, q.admit, aScore, aDoc,
          groupOf, boostOf, maxBoost.getOrElse(1.0)).iterator
          .map { case (s, d) => ScoredDoc(q.queryId, d, s, if (grouped) q.key(d) else "") }
      }
    }
    // a bounded heap per query (no full sort); under collapse the same
    // group-aware collector merges the buckets' group-bests
    private[query] def fold: Iterator[ScoredDoc] => Array[(Double, Long)] = {
      val kk = k
      if (order.isInstanceOf[Collapse]) { it =>
        val ck = new CollapseTopK(kk)
        it.foreach(c => ck.offer(c.score, c.docId, c.group))
        ck.ranked
      } else { it =>
        val heap = new TopKHeap(kk)
        it.foreach(c => heap.offer(c.score, c.docId))
        heap.ranked
      }
    }
  }

  /** EXACT TOTAL HITS per query: the documents holding ≥ 1 scoring term and
    * passing every constraint and filter. No scoring, no heap; each bucket
    * ships ONE partial-count tally per query, so the shuffle is
    * O(candidate buckets), never O(matching docs). */
  case object Count extends Mode[Long] {
    private[query] def slots: Seq[Column] = Seq.empty
    private[query] def empty: Long = 0L
    private[query] def emitter: BucketQuery => Iterator[ScoredDoc] =
      q => Iterator.single(ScoredDoc(q.queryId, q.matches.foldLeft(0L)((n, _) => n + 1L), 0.0,
        tally = true))
    private[query] def fold: Iterator[ScoredDoc] => Long = _.foldLeft(0L)(_ + _.docId)
  }

  /** EXACT FACET COUNTS over the match set — the SERP facet panel: for
    * each query, the per-value count of [[Count]]'s match set under `key`
    * (any Column over the docstats row: docId, url, docLen), top-N values
    * by (count desc, value asc), plus the query's exact total from the
    * SAME pass — the per-value counts partition the match set, so their
    * pre-cutoff sum IS the total. Each bucket emits one tally PER VALUE
    * PRESENT — shuffle O(buckets × values present), never O(matching
    * docs). */
  final case class Facets(key: Column, topN: Int) extends Mode[(Long, Seq[(String, Long)])] {
    private[query] def slots: Seq[Column] = Seq(key)
    private[query] def empty: (Long, Seq[(String, Long)]) = (0L, Seq.empty)
    private[query] def emitter: BucketQuery => Iterator[ScoredDoc] = q =>
      sumByValue(q.matches.map(d => (q.key(d), 1L))).entrySet().iterator().asScala
        .map(e => ScoredDoc(q.queryId, e.getValue, 0.0, e.getKey, tally = true))
    private[query] def fold: Iterator[ScoredDoc] => (Long, Seq[(String, Long)]) = {
      val n = topN
      it => {
        val m = sumByValue(it.map(c => (c.group, c.docId)))
        (m.values.asScala.sum, m.asScala.toSeq.sortBy { case (v, c) => (-c, v) }.take(n))
      }
    }
  }

  /** SORT-BY-FIELD retrieval: each query's match set (same admission as
    * [[Count]] — ≥ 1 scoring term + every constraint and filter) ordered
    * by a DOC-VALUE key instead of relevance — the `sort: [{date: desc}]`
    * surface (freshness, doc length, any docstats expression). `key` must
    * be a STRING-ORDER-SORTABLE encoding (zero-pad numerics —
    * `lpad(cast(v AS string), w, '0')` — the classic sortable-doc-value
    * trick; ascending order = complement the encoding). The cost shape is
    * the facet pass's: each bucket ships its top-k admitted (key, docId)
    * rows — shuffle O(buckets × k), never O(matching docs) — and the
    * global reduce cuts the same order. Returns per query the top-k
    * (key, docId) by (key desc, docId asc).
    *
    * NULL keys: the slot coalesces a null key to "" — the SMALLEST
    * string — so null-keyed docs sort LAST under a plain desc encoding but
    * would surface FIRST under a complement-encoded ascending key. Callers
    * whose key column is nullable should coalesce explicitly to the
    * sentinel their encoding sorts last. */
  final case class SortBy(key: Column, k: Int) extends Mode[Seq[(String, Long)]] {
    require(k > 0, s"SortBy requires k > 0, got $k")
    private[query] def slots: Seq[Column] = Seq(key)
    private[query] def empty: Seq[(String, Long)] = Seq.empty
    private[query] def emitter: BucketQuery => Iterator[ScoredDoc] = {
      val kk = k
      q => topKeys(q.matches.map(d => (q.key(d), d)), kk)
        .map { case (v, d) => ScoredDoc(q.queryId, d, 0.0, v) }
    }
    private[query] def fold: Iterator[ScoredDoc] => Seq[(String, Long)] = {
      val kk = k
      it => topKeys(it.map(c => (c.group, c.docId)), kk).toSeq
    }
  }

  /** ONE SEARCH RESULT PAGE per query in one pass: `ranked`'s hits, the
    * exact total and, when `facets` = (key, topN) is set, [[Facets]]' panel
    * (else an empty one). Each bucket runs the ranked WAND kernel and the
    * exhaustive match walk over the SAME decoded blocks and norms, so the
    * term lookup, bucket probe, postings and docstats scans, shuffle and
    * reduce are paid once, not once per part. The ranked part keeps its
    * own guarantees — threshold seeding under exactly [[Ranked]]'s
    * conditions, block-max pruning, [[WandMetrics]] counted once — and the
    * tallies still count every live, admitted match (seeding and pruning
    * never touch them). A collapse key and a facet key ride into the
    * cogroup as two slots of the same docstats row. */
  final case class Serp(ranked: Ranked, facets: Option[(Column, Int)] = None)
      extends Mode[(Array[(Double, Long)], Long, Seq[(String, Long)])] {
    private[query] def slots: Seq[Column] = ranked.slots ++ facets.map(_._1)
    private[query] override def boundKey: Option[String] = ranked.boundKey
    private[query] override def rankedPart: Option[Ranked] = Some(ranked)
    private[query] def empty: (Array[(Double, Long)], Long, Seq[(String, Long)]) =
      (Array.empty, 0L, Seq.empty)
    private[query] def emitter: BucketQuery => Iterator[ScoredDoc] = {
      val hits = ranked.emitter
      val tallies = facets.fold(Count.emitter) { case (key, n) => Facets(key, n).emitter }
      val facetSlot = ranked.slots.length
      q => hits(q) ++ tallies(q.fromSlot(facetSlot))
    }
    private[query] def fold: Iterator[ScoredDoc] => (Array[(Double, Long)], Long, Seq[(String, Long)]) = {
      val hits = ranked.fold
      val tallies: Iterator[ScoredDoc] => (Long, Seq[(String, Long)]) = facets match {
        case Some((key, n)) => Facets(key, n).fold
        case None =>
          val total = Count.fold
          it => (total(it), Seq.empty)
      }
      it => {
        val (ts, hs) = it.partition(_.tally)
        val h = hits(hs)
        val (total, panel) = tallies(ts)
        (h, total, panel)
      }
    }
  }

  /** The match set of a [[search]] pass, one hit row per doc of
    * [[BucketQuery.matches]], for [[matching]]. */
  private case object MatchSet extends Pass {
    private[query] def slots: Seq[Column] = Seq.empty
    private[query] def emitter: BucketQuery => Iterator[ScoredDoc] =
      q => q.matches.map(d => ScoredDoc(q.queryId, d, 0.0))
  }

  /** One query's view of one bucket, handed to its pass's emitter: cursors
    * over its scoring terms' decoded blocks, per-field norms (docLen -1 =
    * tombstoned or filtered out), the slot values per doc (one map per
    * slot of the pass), the constraint check (null = none), the seeded
    * threshold and the blocks of the required terms that drive
    * [[matches]] (empty = none). */
  private[query] final class BucketQuery(
      val queryId: Int,
      val cursors: Array[TermCursor],
      val docLens: Array[java.util.HashMap[Long, Integer]],
      slots: Array[java.util.HashMap[Long, String]],
      val admit: Long => Boolean,
      val theta0: Double,
      val metrics: Option[WandMetrics],
      required: Array[Array[DecodedBlock]]) {
    /** A scored or matched doc's value of the first slot. */
    def key(d: Long): String = slots(0).get(d)
    /** This view with its slots starting at `i`: the part of a combined
      * mode whose slots follow another part's. */
    def fromSlot(i: Int): BucketQuery =
      new BucketQuery(queryId, cursors, docLens, slots.drop(i), admit, theta0, metrics, required)
    /** The bucket's match set (single field): every doc holding ≥ 1
      * scoring term that is live (no -1 sentinel) and admitted. With
      * required terms the candidates are their galloping intersection,
      * rarest list first, so `+stopword +rare` costs O(rare · log skip);
      * the body passes them only when one of them scores, so every
      * candidate holds a scoring term. Otherwise the candidates are the
      * union of the already-decoded blocks. */
    def matches: Iterator[Long] = {
      val docs: Iterator[Long] =
        if (required.nonEmpty) Intersect.gallop(required.map(_.flatMap(_.ids))).iterator
        else {
          val set = new java.util.HashSet[Long]()
          cursors.foreach(_.blocks.foreach { b =>
            val ids = b.ids
            var i = 0
            while (i < ids.length) { set.add(ids(i)); i += 1 }
          })
          set.iterator().asScala
        }
      docs.filter { d =>
        val len = docLens(0).get(d)
        if (len == null)
          throw new IllegalStateException(
            s"no DocStat for docId $d — docstats pruning/build bug")
        len.intValue() != -1 && (admit == null || admit(d))
      }
    }
  }

  /** Rows grouped by query and folded by `f` on the executors; one job. */
  private def perQuery[R: TypeTag](rows: Dataset[ScoredDoc])(
      f: Iterator[ScoredDoc] => R): Map[Int, R] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_.queryId).mapGroups((qid, it) => (qid, f(it))).collect().toMap
  }

  private def sumByValue(it: Iterator[(String, Long)]): java.util.HashMap[String, Long] = {
    val m = new java.util.HashMap[String, Long]()
    it.foreach { case (v, n) => m.put(v, m.getOrDefault(v, 0L) + n) }
    m
  }

  /** (key desc, docId asc) — the sort-by-key order. */
  private val KeyDocOrdering: java.util.Comparator[(String, Long)] =
    new java.util.Comparator[(String, Long)] with Serializable {
      override def compare(a: (String, Long), b: (String, Long)): Int = {
        val c = b._1.compareTo(a._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }

  /** The ONE bounded cut for sort-by-key — shared by the bucket-local
    * emit and the global reduce so the two cuts are provably identical:
    * admit, then evict the lowest-priority element when over capacity. */
  private def topKeys(it: Iterator[(String, Long)], k: Int): Iterator[(String, Long)] = {
    val ts = new java.util.TreeSet[(String, Long)](KeyDocOrdering)
    it.foreach { e => ts.add(e); if (ts.size > k) { ts.pollLast(); () } }
    ts.iterator().asScala
  }

  /** A scored doc's boost from its raw slot string, validated against
    * the caller-asserted bound (a silent over-bound boost would break
    * pruning exactness). Parsed per scored doc, so a boost that is garbage
    * for docs a filter excludes (or tombstones kill) never fails the job. */
  private def parseBoost(raw: String, d: Long, maxBoost: Double): Double = {
    if (raw == null)
      throw new IllegalStateException(
        s"no funcScore boost for docId $d — docstats pruning/build bug")
    val v = try java.lang.Double.parseDouble(raw) catch {
      case _: NumberFormatException =>
        throw new IllegalStateException(s"non-numeric funcScore boost '$raw' for docId $d")
    }
    if (!(v > 0.0) || v > maxBoost)
      throw new IllegalStateException(
        s"funcScore boost $v for docId $d outside (0, maxBoost=$maxBoost]")
    v
  }

  /** Plain exact BM25 top-k for a batch of queries over one index:
    * (score, docId) per query, ranked (score desc, docId asc), up to k rows
    * each — [[search]] in `Ranked(k)`. */
  def topK(index: IndexHandle, queries: Seq[QuerySpec], k: Int,
      metrics: Option[WandMetrics] = None): Map[Int, Array[(Double, Long)]] =
    search(Seq(index -> 1.0), queries, Ranked(k), metrics = metrics)

  /** FEDERATED exact top-k over DISJOINT shard indexes — search without
    * merging, the query-side dual of [[graft.index.IndexBuilder.merge]].
    * Shards are independently built indexes over disjoint docId spaces
    * (the merge verb's contract); scoring statistics become corpus-GLOBAL:
    * nDocs and avgdl from the summed manifests, per-term df summed across
    * the shards' LIVE dictionaries — so a federated query ranks exactly
    * like the merged index would (same idf/avgdl doubles; per-doc addend
    * order is shard-local, so scores agree to rounding). Machinery: the
    * shards enter [[search]] as weight-1.0 fields — disjoint docId spaces
    * make each doc's cross-field sum degenerate to its own shard's BM25 —
    * so bucket grouping, block-max pruning, tombstone and `docFilter`
    * sentinels and the bounded-heap reduce are all unchanged, and the only
    * extra cost over single-index WAND is one query-term-pruned dictionary
    * lookup per shard (driver-tiny). Reference analog: querying a corpus
    * tokenized in independent chunks without first concatenating them
    * (midi_tokenizer.py:3084-3198's per-chunk outputs). */
  def topKSharded(shards: Seq[IndexHandle], queries: Seq[QuerySpec], mode: Ranked,
      docFilter: Option[Column] = None): Map[Int, Array[(Double, Long)]] =
    search(shards.map(_ -> 1.0), queries, mode, docFilter,
      globalStats = Some(shardStats(shards, queries)))

  /** Corpus-global (nDocs, avgdl, per-term df) summed across the shards'
    * manifests and LIVE dictionaries — identical doubles to the merged
    * index's own stats. */
  private def shardStats(shards: Seq[IndexHandle],
      queries: Seq[QuerySpec]): (Long, Double, Map[String, Long]) = {
    require(shards.nonEmpty, "at least one shard")
    val gN = shards.map(_.manifest.nDocs).sum
    val gLen = shards.map(_.manifest.totalLen).sum
    val gAvgdl = gLen.toDouble / gN.toDouble // == merged manifest's avgdl
    val allTerms = queries.flatMap(_.terms).distinct
    val gDf: Map[String, Long] = shards
      .flatMap(_.lookupTerms(allTerms).map { case (t, e) => t -> e.df })
      .groupBy(_._1).map { case (t, xs) => t -> xs.iterator.map(_._2).sum }
    (gN, gAvgdl, gDf)
  }

  /** THE WAND driver: one pass over a batch of queries in one [[Mode]] —
    * ranked top-k, exact count, facet counts, sort-by-key, or a whole
    * search result page (hits + total + facets, [[Serp]]) — generalized
    * over weighted FIELDS: plain BM25 is the single-field instance (weight
    * 1.0), federated shards another ([[topKSharded]]).
    *
    * FIELDED (multi-vocabulary) BM25F is the multi-field instance — the
    * engine analog of the reference's parallel-token-stream tokenizers:
    * Octuple/CPWord emit MULTIPLE vocabularies over one document per
    * timestep (tokenizations/octuple.py:173-203, cp_word.py:319-416;
    * `is_multi_voc` midi_tokenizer.py:3691-3698). One logical document
    * carries several fields (title/body/anchor…), each with its own
    * sub-index ([[graft.index.FieldedIndex]]) — own dictionary, postings,
    * norms, (nDocs, avgdl) — and the ranked score is the weighted per-field
    * BM25 sum, score(q, d) = Σ_f w_f · Σ_t BM25_f(t, d). Per field: its
    * own dictionary lookup, (nDocs, avgdl), docstats; each (field, term)
    * pair becomes an independent cursor with effective idf = w_f · idf_f
    * (BM25 impact is linear in idf), so upper bounds, block-max refinement
    * and threshold seeding compose per field with no kernel changes. A
    * document absent from a field (e.g. no body) simply has no cursors
    * there. Bm25fSpec pins bit-identical doubles vs a from-the-definition
    * scorer; `q_bm25f_topk` is the oracle row.
    *
    * Every mode shares term lookup, constraint resolution, bucket pruning
    * and the one per-bucket body; the mode decides what each bucket emits
    * and how the rows reduce. Each query's [[QuerySpec.constraints]]
    * resolve once per pass against the same lookup as its terms; they are
    * single-field, and phrase checks read the positions of the blocks its
    * cursors already decoded ([[DecodedBlock]]).
    *
    * `docFilter` restricts the pass to the documents satisfying a metadata
    * predicate (a Column over the docstats row: docId, url, docLen) — the
    * "site:/date-range/lang filter" of a search engine. Scoring statistics
    * (idf, avgdl, N) stay CORPUS-global (a filter narrows the result set,
    * it does not re-weight terms), and the result is exact among matching
    * docs: non-matching docs ride into each bucket as docLen = -1 skip
    * sentinels — the tombstone mechanism, one codegen'd when() over the
    * already bucket-pruned docstats scan, no extra pass. Upper bounds
    * still include filtered docs (less pruning, never wrong).
    *
    * Two placements run the body. Before any fetch, the lookup's df and
    * cf bound what the pass would collect ([[collectBound]]). Within
    * `spark.sql.autoBroadcastJoinThreshold` — the size Spark itself would
    * broadcast — the DRIVER placement collects the blocks (one job), takes
    * the exact candidate buckets from their blockIds, collects those
    * buckets' docstats (one job) and runs the body bucket by bucket on the
    * driver. Otherwise, or at -1 (Spark's "never broadcast"), the COGROUP
    * placement probes the candidate buckets, cogroups blocks and docstats
    * by bucket and reduces per query on the executors. Answers and
    * [[WandMetrics]] are identical either way.
    *
    * Global threshold seeding (zero-cost, stats-only, the score-ordered
    * [[Ranked]] part of a mode only): every (field, term) with df_f >= k
    * guarantees df_f docs whose FULL score is at least w_f · impact_f(tf = 1,
    * maxDocLen_f) — the max of those minima lower-bounds the true
    * kth-best score, computed from dictionary + manifest alone (measured:
    * 92% → 1.6% exact-evals at 512-doc buckets, PruneSpec; exactness
    * oracle-asserted with seeding on). The seed is UNSOUND, and so off,
    * under a `docFilter`, a [[Collapse]] or a [[ByScore]] boost (the
    * guaranteed docs may be filtered out, collapse into fewer groups or
    * score lower), and per query for a constrained query or one with a
    * search_after cursor. SOUNDNESS under deletes: single-field df is LIVE
    * (eagerly decremented), but with multiple fields a doc deleted from
    * another sub-index still counts in this field's df — so seeding
    * disables on tombstoned multi-field runs.
    *
    * Tombstoned docs ride into each bucket's docstats as docLen = -1
    * sentinels for EVERY field (a doc deleted from any sub-index is dead
    * for the logical document, and per-field live stats keep the surviving
    * scores exact); the kernel skips them before scoring. */
  def search[R](fields: Seq[(IndexHandle, Double)], queries: Seq[QuerySpec], mode: Mode[R],
      docFilter: Option[Column] = None,
      globalStats: Option[(Long, Double, Map[String, Long])] = None,
      metrics: Option[WandMetrics] = None): Map[Int, R] = {
    val reduced: Map[Int, R] =
      passRows(fields, queries, mode, docFilter, globalStats, metrics) match {
        case Left(rs)  => rs.groupBy(_.queryId).map { case (qid, qRows) => qid -> mode.fold(qRows.iterator) }
        case Right(ds) => mode.reduce(ds)
      }
    queries.map(q => q.queryId -> reduced.getOrElse(q.queryId, mode.empty)).toMap
  }

  /** BOOLEAN RETRIEVAL over one index: the (query_id, doc_id) rows of each
    * query's match set — the docs holding ≥ 1 of the query's terms that
    * are live and pass its [[QuerySpec.constraints]], from [[search]]'s
    * own pass. OR is the bare query (the U1 union), AND the query's terms
    * all `required` (U4 intersect), AND-NOT adds the negatives as
    * `excluded` (U3 difference); constraints resolve as in [[search]], so
    * an OOV required term empties its query and OOV excluded or optional
    * terms are no-ops.
    * The rows stay a relation (an OR over a stopword can be corpus-sized):
    * the cogroup placement's rows as they leave the executors, the driver
    * placement's as a local relation no larger than the postings it
    * collected. */
  def matching(index: IndexHandle, queries: Seq[QuerySpec]): DataFrame = {
    val spark = index.spark
    import spark.implicits._
    passRows(Seq(index -> 1.0), queries, MatchSet, None, None, None) match {
      case Left(rs)  => rs.map(r => (r.queryId, r.docId)).toDF("query_id", "doc_id")
      case Right(ds) => ds.select(col("queryId").as("query_id"), col("docId").as("doc_id"))
    }
  }

  /** One [[search]] pass's rows before any fold: `Left` the rows the body
    * emitted on the driver placement, `Right` the cogroup's rows. A pass
    * that finds nothing to fetch yields no rows and runs no further job. */
  private def passRows(fields: Seq[(IndexHandle, Double)], queries: Seq[QuerySpec], pass: Pass,
      docFilter: Option[Column],
      globalStats: Option[(Long, Double, Map[String, Long])],
      metrics: Option[WandMetrics]): Either[Seq[ScoredDoc], Dataset[ScoredDoc]] = {
    require(fields.nonEmpty, "at least one field")
    require(fields.length == 1 || (queries.forall(_.constraints.isEmpty) && pass.multiField),
      "constraints, boosts, counts, facets and sort-by are single-field")
    val spark = fields.head._1.spark
    import spark.implicits._
    val m0 = fields.head._1.manifest
    require(fields.forall { case (h, _) =>
      h.manifest.bucketRange == m0.bucketRange && h.manifest.blockSize == m0.blockSize },
      "fielded sub-indexes must share block geometry (bucketRange, blockSize)")
    val nF = fields.length
    val noRows = Left(Seq.empty[ScoredDoc])
    // term-pruned lookups of ONLY the batch's query terms (scale-safe: no
    // full-dictionary collect on the query path). Constraint terms ride in
    // the same lookup: excluded terms never score but their postings must
    // be probeable, and required/phrase terms decide OOV emptiness.
    val dicts = fields.map { case (h, _) =>
      h.lookupTerms(queries.flatMap(q => q.terms ++ q.constraints.terms)) }
    // each query's constraints resolved once against field 0 (constraints
    // are single-field): an unsatisfiable one drops its query, and one
    // left with nothing to check (only OOV exclusions) dissolves
    val (liveQueries, cons) = {
      val resolved = queries.map(q =>
        q -> resolve(q.constraints, q.terms.distinct.count(dicts.head.contains), dicts.head))
      (resolved.collect { case (q, Some(_)) => q },
        resolved.collect { case (q, Some(rc)) if !rc.isEmpty => q.queryId -> rc }.toMap)
    }
    // a federated (sharded) run overrides the per-field stats with the
    // summed corpus-global ones; fielded/plain runs keep per-field stats
    val avgdls = globalStats match {
      case Some((_, gAvgdl, _)) => Array.fill(nF)(gAvgdl)
      case None                 => fields.map(_._1.manifest.avgdl).toArray
    }
    def idfOf(f: Int, term: String, localDf: Long): Double = globalStats match {
      case Some((gN, _, gDf)) => Bm25.idf(gN, gDf(term))
      case None               => Bm25.idf(fields(f)._1.manifest.nDocs, localDf)
    }

    // per query: cursor specs (field, termId, effIdf), sorted (field,
    // termId) — the kernel's deterministic accumulation order
    val qSpecs: Map[Int, Array[(Int, Int, Double)]] = liveQueries.map { q =>
      q.queryId -> (for {
        f <- 0 until nF
        t <- q.terms.distinct
        e <- dicts(f).get(t)
      } yield (f, e.termId, q.boost(t) * fields(f)._2 * idfOf(f, t, e.df)))
        .sortBy(x => (x._1, x._2)).toArray
    }.toMap
    if (qSpecs.values.forall(_.isEmpty)) return noRows

    // seeding is UNSOUND under a filter, a collapse key or a boost (their
    // df >= k guaranteed docs may be filtered out, collapse into fewer
    // groups or score lower), for a constrained query (its guaranteed docs
    // may fail the constraints) and for a page cursor (guaranteed docs may
    // rank BEFORE the cursor) — the last two disable per query
    val thetaSeed: Map[Int, Double] = pass.rankedPart match {
      case Some(Ranked(k, ByScore(after, None), _)) if docFilter.isEmpty &&
          (nF == 1 || fields.forall(_._1.manifest.tombVersion < 0)) =>
        liveQueries.filterNot(q =>
          cons.contains(q.queryId) || after.contains(q.queryId)).flatMap { q =>
          val bounds = for {
            f <- 0 until nF
            if fields(f)._1.manifest.maxDocLen > 0 // every doc empty: no bound
            t <- q.terms.distinct
            e <- dicts(f).get(t)
            if e.df >= k
          } yield Bm25.scoreWithIdf(
            q.boost(t) * fields(f)._2 * idfOf(f, t, e.df),
            1, fields(f)._1.manifest.maxDocLen, avgdls(f))
          // nextDown() guards exact-tie boundaries at the threshold
          if (bounds.isEmpty) None else Some(q.queryId -> math.nextDown(bounds.max))
        }.toMap
      case _ => Map.empty
    }

    val bucketRange = m0.bucketRange
    val blocksPerBucket = m0.bucketRange / m0.blockSize
    // SCORING ids per field — from the live cursor specs, so candidate
    // buckets (and the docstats pruning below) derive only from terms that
    // can actually produce candidates. Excluded terms' postings are fetched
    // too (field 0; membership probes) but never expand the bucket set: a
    // doc matching only excluded terms is not a candidate.
    val idsByField: IndexedSeq[Seq[Int]] = (0 until nF).map { f =>
      qSpecs.valuesIterator.flatten.collect { case (`f`, tid, _) => tid }.toSeq.distinct
    }
    val exIds: Seq[Int] =
      (cons.values.flatMap(_.excluded) ++
        cons.values.flatMap(_.excludedPhrases.iterator.flatMap(_._1)) ++
        // requiredAny members usually score (wildcard expansions do) and
        // then dedupe away here; fetched defensively for constraint-only use
        cons.values.flatMap(_.requiredAny.iterator.flatten)).toSeq.distinct
        .filterNot(idsByField.head.toSet)
    def fetchIds(f: Int): Seq[Int] =
      if (f == 0) idsByField(0) ++ exIds else idsByField(f)

    // the placement, decided before any fetch: an upper bound on what a
    // driver-side pass would collect, against the size Spark itself would
    // broadcast — so -1 (Spark's "never broadcast") forces the cogroup
    val onDriver = (0 until nF).iterator.map { f =>
      val byId = dicts(f).valuesIterator.map(e => e.termId -> e).toMap
      collectBound(fields(f)._1, fetchIds(f).map(byId), idsByField(f).map(byId))
    }.sum <= spark.sessionState.conf.autoBroadcastJoinThreshold

    // field-tagged candidate blocks — the termId IN (...) predicate pushes
    // to parquet row groups per field
    val fBlocks: Dataset[(Int, PostingBlock)] = (0 until nF).map { f =>
      val ids = fetchIds(f)
      if (ids.isEmpty) spark.emptyDataset[(Int, PostingBlock)]
      else fields(f)._1.postings
        .filter(col("termId").isin(ids.map(Int.box): _*))
        .map(b => (f, b))
    }.reduce(_ union _)

    // the pass's slot values (collapse/facet/sort keys or a boost: one
    // codegen'd expression each over the docstats row, computed AFTER
    // docFilter reads the raw url) ride next to the norms
    val slotCols = pass.slots.map(c => coalesce(c.cast("string"), lit("")))
    val nSlots = slotCols.length
    // the docstats rows of the candidate buckets — `Left` the listed
    // buckets (a docId-range predicate pushed INTO the parquet scan), `Right`
    // a semi-join against a bucket relation — plus the tombstone union
    // across fields, selected the same way, as docLen = -1 sentinels for
    // EVERY field's map
    def fStats(buckets: Either[Array[Long], DataFrame]): Dataset[SlotStat] = {
      def keep(df: DataFrame): DataFrame = buckets match {
        case Left(bs)  => df.filter(inDocBuckets(bucketRange, bs))
        case Right(cb) => df.withColumn("bucket", (col("docId") / lit(bucketRange)).cast("long"))
          .join(cb, Seq("bucket"), "left_semi")
      }
      val tombed = fields.map(_._1).filter(_.manifest.tombVersion >= 0)
      val tombSentinels =
        if (tombed.isEmpty) spark.emptyDataset[SlotStat]
        // a doc tombstoned in several fields repeats its sentinel, which
        // sets the same -1 again
        else keep(tombed.map(_.tombstones.toDF("docId")).reduce(_ unionByName _))
          .select("docId").as[Long]
          .flatMap(d => (0 until nF).iterator.map(f => SlotStat(f, d, -1, Seq.empty)))
      (0 until nF).map { f =>
        val pruned = keep(fields(f)._1.docstatsRaw.toDF())
        // a metadata filter marks non-matching docs with the same -1 skip
        // sentinel as tombstones — one codegen'd when() on the pruned scan
        val dlCol = docFilter match {
          case Some(p) => when(p, col("docLen")).otherwise(lit(-1)).cast("int")
          case None    => col("docLen")
        }
        pruned.select(lit(f).as("field"), col("docId"), dlCol.as("docLen"),
          array(slotCols: _*).cast("array<string>").as("slots"))
          .as[SlotStat]
      }.reduce(_ union _).union(tombSentinels)
    }

    // THE per-bucket body of both placements: one bucket's field-tagged
    // blocks and docstats rows in, every live query's rows out. Its plain
    // driver-side values (cursor specs, constraints, seeds) ride the closure
    val boundKey = pass.boundKey
    val emit = pass.emitter
    val body: (Array[(Int, PostingBlock)], Iterator[SlotStat]) => Iterator[ScoredDoc] = {
      (blockArr, stats) =>
        if (blockArr.isEmpty) Iterator.empty
        else {
          val docLens = Array.fill(nF)(new java.util.HashMap[Long, Integer]())
          // docId → slot values, from the SAME stats rows. A -1 sentinel
          // row's values are not kept: its doc is never scored or counted,
          // so none of them is ever consulted
          val slots = Array.fill(nSlots)(new java.util.HashMap[Long, String]())
          // row order is arbitrary (a shuffle's, or the collect's): a -1
          // tombstone sentinel must win over the doc's real norm either way
          stats.foreach { s =>
            if (s.docLen == -1) docLens(s.field).put(s.docId, Integer.valueOf(-1))
            else {
              docLens(s.field).putIfAbsent(s.docId, Integer.valueOf(s.docLen))
              var i = 0
              while (i < nSlots) { slots(i).putIfAbsent(s.docId, s.slots(i)); i += 1 }
            }
          }
          val byFieldTerm: Map[(Int, Int), Array[DecodedBlock]] =
            blockArr.groupBy(p => (p._1, p._2.termId)).map { case (key, ps) =>
              key -> ps.map(_._2).sortBy(_.firstDocId).map(DecodedBlock(_, boundKey))
            }
          // ordered-window chain: cand holds END positions of valid
          // prefixes; each step admits positions of the next term within
          // (prev, prev + 1 + slop]. slop 0 = exact adjacency.
          // Positions come from the same decoded blocks as the cursors'.
          def positions(tid: Int, doc: Long): Array[Int] =
            byFieldTerm.get((0, tid)).map(positionsOf(_, doc)).orNull
          def phraseAt(ph: Array[Int], slop: Int, doc: Long): Boolean = {
            var cand = positions(ph(0), doc)
            if (cand == null) return false
            var i = 1
            while (i < ph.length) {
              val pi = positions(ph(i), doc)
              if (pi == null) return false
              cand = windowIntersect(cand, pi, 1, 1 + slop)
              if (cand.isEmpty) return false
              i += 1
            }
            true
          }
          qSpecs.iterator.flatMap { case (qid, specs) =>
            val rc = cons.get(qid)
            def here(tid: Int): Boolean = byFieldTerm.contains((0, tid))
            // a required or phrase term with no postings in this bucket, a
            // requiredAny group with no member here, or fewer scoring terms
            // here than msm demands → no doc in this bucket can qualify
            val hopeless = rc.exists(c =>
              c.required.exists(!here(_)) || c.phrases.exists(_._1.exists(!here(_))) ||
                c.requiredAny.exists(!_.exists(here)) ||
                (c.minMatch > 0 && specs.count(s => here(s._2)) < c.minMatch))
            val cursors =
              if (hopeless) Array.empty[TermCursor]
              else specs.flatMap { case (f, tid, effIdf) =>
                byFieldTerm.get((f, tid))
                  .map(bs => new TermCursor(tid, bs, effIdf, avgdls(f), f))
              }
            if (cursors.isEmpty) Iterator.empty
            else {
              metrics.foreach(m =>
                m.candidates.add(cursors.iterator.map(_.totalDocs.toLong).sum))
              val admit: Long => Boolean = rc match {
                case None => null
                case Some(c) => (doc: Long) =>
                  c.required.forall(tid => containsDoc(byFieldTerm((0, tid)), doc)) &&
                    c.requiredAny.forall(g => g.exists(tid =>
                      byFieldTerm.get((0, tid)).exists(containsDoc(_, doc)))) &&
                    (c.minMatch == 0 || {
                      // early-exit count of the spec's distinct terms present
                      var n = 0; var i = 0
                      while (n < c.minMatch && i < specs.length) {
                        if (byFieldTerm.get((0, specs(i)._2))
                          .exists(containsDoc(_, doc))) n += 1
                        i += 1
                      }
                      n >= c.minMatch
                    }) &&
                    !c.excluded.exists(tid =>
                      byFieldTerm.get((0, tid)).exists(containsDoc(_, doc))) &&
                    c.phrases.forall { case (ph, sl) => phraseAt(ph, sl, doc) } &&
                    !c.excludedPhrases.exists { case (ph, sl) => phraseAt(ph, sl, doc) }
              }
              // the required terms drive `matches` when one of them scores
              // (constraints are single-field, so every spec is field 0)
              val required = rc.filter(_.required.exists(tid => specs.exists(_._2 == tid)))
                .fold(Array.empty[Array[DecodedBlock]])(_.required.map(tid => byFieldTerm((0, tid))))
              emit(new BucketQuery(qid, cursors, docLens, slots, admit,
                thetaSeed.getOrElse(qid, Double.NegativeInfinity), metrics, required))
            }
          }
        }
    }

    if (onDriver) {
      // driver placement: the blocks in one job; their blockIds give the
      // exact candidate buckets, so no probe runs; their docstats in one
      // more job; then the body bucket by bucket
      val blocks = fBlocks.collect()
      val scoring = idsByField.map(_.toSet)
      val buckets = blocks.collect {
        case (f, b) if scoring(f)(b.termId) => b.blockId / blocksPerBucket }.distinct.sorted
      if (buckets.isEmpty) return noRows
      val statsByBucket = fStats(Left(buckets)).collect().groupBy(_.docId / bucketRange)
      Left(blocks.groupBy(_._2.blockId / blocksPerBucket).iterator.flatMap { case (b, bs) =>
        body(bs, statsByBucket.getOrElse(b, Array.empty[SlotStat]).iterator)
      }.toSeq)
    } else {
      // cogroup placement: prune docstats (norms) to buckets that actually
      // hold candidate blocks — at 10^12 docs most buckets have no
      // postings for a given query batch, and their norms must never
      // enter the cogroup exchange. The candidate bucket set is tiny (≤
      // the query terms' block count), so collect a BOUNDED probe of it
      // and push an OR-of-docId-ranges predicate INTO the docstats scan
      // (docstats are range-clustered by docId on write, so parquet
      // min/max stats skip whole files/row groups); batches touching more
      // than MaxPredicateBuckets buckets keep the fully-distributed
      // semi-join — the driver never materializes a web-scale bucket set.
      val candBuckets = (0 until nF).flatMap { f =>
        val ids = idsByField(f)
        if (ids.isEmpty) None
        else Some(fields(f)._1.postings.toDF()
          .filter(col("termId").isin(ids.map(Int.box): _*))
          .select((col("blockId") / lit(blocksPerBucket)).cast("long").as("bucket")))
      }.reduce(_ unionByName _).distinct()
      val probe: Array[Long] =
        candBuckets.limit(MaxPredicateBuckets + 1).as[Long].collect()
      if (probe.isEmpty) return noRows
      val stats = fStats(if (probe.length <= MaxPredicateBuckets) Left(probe) else Right(candBuckets))
      Right(fBlocks.groupByKey(_._2.blockId / blocksPerBucket)
        .cogroup(stats.groupByKey(_.docId / bucketRange)) { (_, blocks, rows) =>
          body(blocks.toArray, rows)
        })
    }
  }

  /** Bytes per posting block beyond its VByte streams: the fixed-width
    * fields, the field tag, three array lengths and the metadata map. */
  private final val BlockOverheadBytes = 128.0

  /** An upper bound on the bytes a driver-placed [[search]] pass collects
    * from one field, from the manifest, the lookup and Spark's plan
    * statistics alone (no job): every block of the `fetched` terms at
    * worst-case VByte widths (a docId gap no wider than maxDocId, a tf or
    * position no wider than maxDocLen; ≤ one block per posting, ≤
    * ⌈df / blockSize⌉ + one per bucket) plus [[BlockOverheadBytes]] each,
    * and the docstats rows of at most min(buckets, Σ `scoring` df) buckets,
    * costed at Spark's own size estimate of the docstats relation per doc
    * and counted twice on a tombstoned index (its -1 sentinels). In
    * doubles, so no product overflows. */
  private def collectBound(h: IndexHandle, fetched: Seq[TermEntry], scoring: Seq[TermEntry]): Double = {
    val m = h.manifest
    def width(v: Long): Double = math.max(1, (70 - java.lang.Long.numberOfLeadingZeros(v)) / 7)
    val maxLen = if (m.maxDocLen > 0) m.maxDocLen else Int.MaxValue
    val (wDoc, wLen) = (width(m.maxDocId), width(maxLen))
    val nBuckets = (m.maxDocId / m.bucketRange + 1).toDouble
    // df and cf are live counts, but until compaction the blocks also hold
    // the postings of every doc that may be deleted (≤ maxDocId + 1 − nDocs)
    val dead = if (m.tombVersion >= 0) math.max(0L, m.maxDocId + 1 - m.nDocs).toDouble else 0.0
    def df(e: TermEntry): Double = e.df + dead
    val blocks = fetched.iterator.map { e =>
      val nBlocks = math.min(df(e), math.ceil(df(e) / m.blockSize) + nBuckets)
      df(e) * (wDoc + wLen) + (e.cf + dead * maxLen) * wLen + nBlocks * BlockOverheadBytes
    }.sum
    val rows = math.min(m.maxDocId + 1.0, math.min(nBuckets, scoring.iterator.map(df).sum) * m.bucketRange)
    val rowBytes = h.docstatsRaw.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble / math.max(m.nDocs, 1L)
    blocks + rowBytes * rows * (if (m.tombVersion >= 0) 2 else 1)
  }
}
