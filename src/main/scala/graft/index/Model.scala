package graft.index

import graft.tokenize.TokenizerConfig

/** One (term, doc) posting before compression. `positions` are the term's
  * 1-based token positions in the document, ascending (`tf == positions
  * .length`) — the engine keeps the reference's positional, losslessly
  * decodable token streams (TokSequence, classes.py:118-307; decode
  * midi_tokenizer.py:1927-1991). `docLen` is carried so the block builder
  * can compute block metadata without a second join (the analog of MidiTok
  * completing all parallel representations in one pass,
  * `complete_sequence` midi_tokenizer.py:1683-1709). */
final case class TermDoc(term: String, docId: Long, tf: Int, docLen: Int, positions: Array[Int])

/** Same, after the broadcast dictionary lookup (J3). */
final case class TermIdDoc(termId: Int, docId: Long, tf: Int, docLen: Int)

/** Dictionary row. `termId` is dense, assigned in descending document-
  * frequency order with term-string tie-break (frequency-driven vocab,
  * cf. MidiTok `train`, midi_tokenizer.py:2681-2938). */
final case class TermEntry(termId: Int, term: String, df: Long, cf: Long)

/** Per-document stats (norms). */
final case class DocStat(docId: Long, url: String, docLen: Int)

/** One compressed posting block (FIXTURES.md §3).
  *
  * `docIdGaps` = delta-gap + VByte over the block's docIds (first absolute);
  * `tfs` = VByte over term frequencies; `positions` = concatenated VByte
  * position-gap streams, one run of `tf` values per posting (first absolute,
  * then gaps ≥ 1) — the positional payload that makes phrase/proximity
  * queries answerable from the index (the reference's token streams are
  * positional and losslessly decodable, classes.py:118-307).
  *
  * Block-max metadata is `(maxTf, minDocLen)` rather than a precomputed
  * impact score: the BM25 impact is monotone increasing in tf and
  * decreasing in docLen, so `impact(maxTf, minDocLen)` computed AT QUERY
  * TIME with the manifest's current (idf, avgdl) dominates every member —
  * exactly, in doubles, with no float-rounding hazard — and stays a valid
  * bound when corpus stats drift under incremental append (the block-max
  * WAND safety invariant, the analog of MidiTok's grammar-validation
  * invariants, midi_tokenizer.py:3246-3370).
  *
  * `blockId = bucket * blocksPerBucket + localIdx` where
  * `bucket = docId / bucketRange`: blocks never span docId buckets, so a
  * head term's postings can be built on MANY partitions in parallel (the
  * skew answer: docId-range salting of the (term → postings) group, the
  * analog of density-balanced chunking, utils/split.py:243-360). */
final case class PostingBlock(
    termId: Int,
    blockId: Long,
    firstDocId: Long,
    nDocs: Int,
    docIdGaps: Array[Byte],
    tfs: Array[Byte],
    positions: Array[Byte],
    maxTf: Int,
    minDocLen: Int,
    /** extension metadata from the configured [[BlockMetaComputer]]s (E6);
      * the hot WAND fields (maxTf, minDocLen) stay typed columns. */
    meta: Map[String, Int] = Map.empty
)

/** Pluggable per-block metadata computer (E6) — the engine analog of the
  * reference's attribute-control registry (pluggable computers registered
  * per tokenizer, attribute_controls/classes.py:22-59 + registry
  * midi_tokenizer.py:334-346). The block builder instantiates fresh state
  * per block, feeds it every posting, and stores the emitted named integers
  * in [[PostingBlock.meta]]; queries consult them as pruning bounds. The
  * core (maxTf, minDocLen) bound is computer #0 — wired to the typed block
  * fields WAND's hot path reads — and extension computers add map entries. */
trait BlockMetaComputer extends Serializable {
  /** fresh accumulator for one block */
  def start(): BlockMetaState
}

trait BlockMetaState {
  def observe(tf: Int, docLen: Int, positions: Array[Int]): Unit
  /** named integer metadata for the finished block */
  def emit(): Seq[(String, Int)]
}

/** Position-span bounds: `minPos` = smallest first-position, `maxPos` =
  * largest last-position over the block's postings. A proximity query
  * `t1 .. t2 within w` needs a t2 occurrence in [posA+1, posA+w], so
  * a t2 block with `maxPos < minPosA + 1` or `minPos > maxPosA + w`
  * (bucket-wise) can be skipped WITHOUT decoding its payload — the
  * proximity analog of the block-max bound. */
object PosSpanComputer extends BlockMetaComputer {
  final val MinPosKey = "minPos"
  final val MaxPosKey = "maxPos"
  def start(): BlockMetaState = new BlockMetaState {
    private var minPos = Int.MaxValue
    private var maxPos = 0
    def observe(tf: Int, docLen: Int, positions: Array[Int]): Unit =
      if (positions.nonEmpty) {
        if (positions(0) < minPos) minPos = positions(0)
        if (positions(positions.length - 1) > maxPos) maxPos = positions(positions.length - 1)
      }
    def emit(): Seq[(String, Int)] =
      if (maxPos == 0) Seq.empty
      else Seq(MinPosKey -> minPos, MaxPosKey -> maxPos)
  }
}

/** Tf-quantile block metadata — the second real E6 computer (the analog of
  * the reference's bar-level attribute computer family,
  * attribute_controls/bar_attribute_controls.py:12-159): the exact 90th-
  * percentile tf of the block's postings (nearest-rank over the ≤ blockSize
  * members — tiny exact sort, no sketch needed at that size).
  *
  * Consumer: TIERED (approximate) WAND — `impact(tfP90, minDocLen)` is a
  * bound that covers ≥ 90% of the block's postings, so a block whose
  * tfP90-bound is below the heap threshold can be skipped at a bounded,
  * measured recall cost (PruneSpec measures evals saved vs recall). The
  * exact path keeps using (maxTf, minDocLen); this is strictly additive. */
object TfQuantileComputer extends BlockMetaComputer {
  final val TfP90Key = "tfP90"
  def start(): BlockMetaState = new BlockMetaState {
    private val tfs = new scala.collection.mutable.ArrayBuilder.ofInt
    def observe(tf: Int, docLen: Int, positions: Array[Int]): Unit = tfs += tf
    def emit(): Seq[(String, Int)] = {
      val a = tfs.result()
      if (a.isEmpty) Seq.empty
      else {
        java.util.Arrays.sort(a)
        // nearest-rank p90: ceil(0.9 * n) in integer arithmetic
        Seq(TfP90Key -> a((9 * a.length + 9) / 10 - 1))
      }
    }
  }
}

/** Name ↔ instance registry for [[BlockMetaComputer]]s — lets the manifest
  * PERSIST the computer set an index was built with, so delete/compact/
  * append rehydrate the exact same registry instead of assuming the default
  * (an index built with extra computers keeps them across generations). */
object BlockMetaComputers {
  val registry: Map[String, BlockMetaComputer] = Map(
    "posSpan" -> PosSpanComputer,
    "tfQuantile" -> TfQuantileComputer
  )
  private val nameOf: Map[BlockMetaComputer, String] = registry.map(_.swap)
  def names(cs: Seq[BlockMetaComputer]): String =
    cs.map(c => nameOf.getOrElse(c,
      sys.error(s"unregistered BlockMetaComputer $c — add it to BlockMetaComputers.registry"))).mkString(",")
  def fromNames(s: String): Seq[BlockMetaComputer] =
    if (s.isEmpty) Seq.empty
    else s.split(',').toSeq.map(n => registry.getOrElse(n,
      sys.error(s"unknown BlockMetaComputer name '$n' in manifest")))
}

/** One immutable index segment — the LSM-style unit of postings +
  * docstats storage AND of compaction I/O. A segment owns the docId range
  * `[lo, hi)`: its postings directory holds every block whose docIds fall
  * in the range, its docstats directory the matching norms. Segments are
  * range-disjoint; the manifest's segment list is the single source of
  * read truth (a crashed writer's orphan directory is never read, because
  * reads are manifest-driven multi-path scans, not directory discovery).
  *
  * `v` is the segment's rewrite version: compaction REPLACES a set of
  * segments with one merged segment at `max(v)+1` over the union range,
  * writing only that one directory — every other segment's files are
  * physically untouched (the reference analog: chunked dataset writes
  * reproduce only affected files, midi_tokenizer.py:3228-3230). Version in
  * the name keeps the write overwrite-idempotent on crash replay while
  * never colliding with the directories it replaces. */
final case class Segment(lo: Long, hi: Long, v: Int) {
  require(lo >= 0 && hi > lo && v >= 0, s"bad segment ($lo, $hi, $v)")
  /** directory name; docId bounds zero-padded so listings sort in range
    * order (13 digits covers the 10^12-doc design point). */
  def name: String = f"seg_$lo%013d_$hi%013d_v$v%05d"
  /** compact manifest encoding (`lo_hi_v`). */
  def encoded: String = s"${lo}_${hi}_$v"
  def overlaps(l: Long, h: Long): Boolean = lo < h && hi > l
}

object Segment {
  def encode(ss: Seq[Segment]): String = ss.map(_.encoded).mkString(",")
  def decode(s: String): Seq[Segment] =
    if (s.isEmpty) Seq.empty
    else s.split(',').toSeq.map { e =>
      val p = e.split('_')
      require(p.length == 3, s"bad segment encoding '$e'")
      Segment(p(0).toLong, p(1).toLong, p(2).toInt)
    }
}

/** Lineage row (FIXTURES.md §5) — per-chunk commit record enabling
  * checkpointed resume (the hidden-hash skip of utils/split.py:98-104,
  * done transactionally). */
final case class LineageRow(
    partitionId: Int,
    stage: String,
    rowCount: Long,
    snapshotId: Long,
    status: String
)

/** Index build configuration. Persisted in the manifest. */
final case class IndexConfig(
    tokenizer: TokenizerConfig = TokenizerConfig(),
    blockSize: Int = 128,
    /** docId range per skew bucket; MUST be a multiple of blockSize. */
    bucketRange: Long = 65536L,
    /** resumable build chunks over the docId space; 0 = AUTO — size the
      * chunk count from the measured corpus token total so each chunk's
      * postings stay bounded regardless of document density (the engine
      * form of density-balanced chunking, `split_files_for_training`
      * utils/split.py:243-360; we size from EXACT docstats totals rather
      * than the reference's per-file estimates since docstats precede the
      * postings stages anyway). */
    nChunks: Int = 1,
    /** AUTO chunk target: tokens (≈ postings cost) per chunk. */
    targetTokensPerChunk: Long = 50000000L,
    /** output files / clustering buckets for the postings table. */
    postingsBuckets: Int = 8,
    /** language allowlist for the cleaning stage; empty = keep all. */
    langs: Set[String] = Set.empty,
    /** head/tail vocabulary split (north star: frequency-driven vocab):
      * only the `vocabCap` most-document-frequent terms get posting lists;
      * tail terms are OOV (left-anti the head dictionary). None = full
      * vocabulary. At a 100M-term web vocabulary this bounds the broadcast
      * dictionary; the FULL dictionary table is still persisted on disk. */
    vocabCap: Option[Int] = None,
    /** the E6 block-metadata registry run by the block builder; outputs
      * land in [[PostingBlock.meta]]. The core (maxTf, minDocLen) bound is
      * always computed (typed fields); these add to it. */
    metaComputers: Seq[BlockMetaComputer] = Seq(PosSpanComputer, TfQuantileComputer),
    /** vocabulary-size ceiling for the build's broadcast-map dictionary
      * lookup (J3's map-side flavor). An UNCAPPED vocabulary beyond this is
      * never collected to the driver: the build switches to J3's
      * distributed-join flavor (one extra exchange on term, no driver
      * materialization) — a 100M-term web vocabulary must not become a
      * multi-GB driver Map. vocabCap-ped builds always broadcast (the head
      * is bounded by construction). */
    broadcastVocabMax: Long = 4000000L
) {
  require(blockSize >= 1, s"blockSize must be >= 1, got $blockSize")
  require(bucketRange >= 1, s"bucketRange must be >= 1, got $bucketRange")
  require(postingsBuckets >= 1, s"postingsBuckets must be >= 1, got $postingsBuckets")
  require(targetTokensPerChunk >= 1, s"targetTokensPerChunk must be >= 1, got $targetTokensPerChunk")
  require(nChunks >= 0, s"nChunks must be >= 0 (0 = AUTO), got $nChunks")
  require(bucketRange % blockSize == 0, "bucketRange must be a multiple of blockSize")
  def blocksPerBucket: Long = bucketRange / blockSize

  /** Canonical manifest encoding of everything that determines the token
    * stream and document set an append must reproduce: the full tokenizer
    * config plus the cleaning language allowlist. Persisted at build time
    * and REQUIRED to match on append — two batches tokenized differently
    * (or cleaned under different allowlists) silently corrupt one shared
    * dictionary otherwise (the reference likewise persists its tokenizer
    * config JSON and validates on load, midi_tokenizer.py:3510-3540). */
  def analyzerId: String = {
    val t = tokenizer
    def b(x: Boolean) = if (x) "1" else "0"
    s"${t.strategy}.${b(t.lowercase)}.${t.minTermLen}.${b(t.stripPunct)}." +
      s"${t.ngram}.${t.langs.toSeq.sorted.mkString("|")}.${langs.toSeq.sorted.mkString("|")}"
  }
}

/** Global index stats + config — the persisted manifest (the analog of
  * MidiTok's tokenizer save/load JSON, midi_tokenizer.py:3510-3540). The
  * field order IS the on-disk key order ([[Manifest.write]] encodes it
  * through [[Store]]'s codec). */
final case class IndexManifest(
    nDocs: Long,
    totalLen: Long,
    vocabSize: Long,
    skippedCorrupt: Long,
    blockSize: Int,
    bucketRange: Long,
    /** highest docId in the index — the append cursor (incremental builds
      * add docs strictly beyond it, cf. re-runnable tokenize_dataset +
      * the idempotent skip, utils/split.py:98-104). */
    maxDocId: Long,
    /** version counter of the dictionary table: the live dictionary lives at
      * `dictionary/v%05d`. Appends write version N+1 from version N and only
      * then commit the manifest, so a crashed/replayed append re-derives the
      * SAME v(N+1) from the untouched base — overwrite-idempotent, never
      * accumulate (the delta is applied at most once). */
    dictVersion: Int = 0,
    /** last applied streaming micro-batch id (exactly-once cursor): an
      * append carrying a batchId <= this is a checkpoint replay of work
      * already committed and is skipped entirely. -1 = no streamed batch. */
    lastBatchId: Long = -1L,
    /** version counter of the tombstone table (`tombstones/v%05d`), the
      * delete-side sibling of dictVersion: deletes write version N+1 from
      * version N (union of the old set and the genuinely-new docIds) and
      * only then commit the manifest — overwrite-idempotent, like appends.
      * -1 = no deletes ever; query paths skip tombstone handling entirely.
      * nDocs/totalLen are LIVE stats (decremented on delete), so avgdl and
      * idf always reflect the live corpus; postings/docstats keep deleted
      * rows physically until compaction, and per-block (maxTf, minDocLen)
      * bounds stay conservative upper bounds. */
    tombVersion: Int = -1,
    /** maximum docLen in the index — an UPPER bound maintained monotonically
      * (build computes it exactly; append takes the max; delete/compact
      * keep it, which stays a valid bound). Powers the zero-cost WAND
      * threshold seed: impact(tf=1, maxDocLen) lower-bounds every
      * posting's impact. 0 = unknown (older manifests) → seeding off. */
    maxDocLen: Int = 0,
    /** postings/docstats clustering bucket count the index was BUILT with —
      * persisted so compaction (and any other rewriting verb) preserves the
      * layout instead of silently reverting to the default config's count. */
    postingsBuckets: Int = 8,
    /** linear snapshot counter (Iceberg-snapshot-shaped time travel): every
      * committing verb archives the full manifest it is about to make live
      * as `snapshots/v%05d.json` BEFORE flipping `manifest.json`, so the
      * commit history is a chain of immutable manifests. `loadAt` reads an
      * archived manifest and queries the index as of that commit — every
      * directory a snapshot references (segments, dictionary/tombstone
      * versions) stays on disk until [[IndexBuilder.vacuum]]'s retention
      * window drops it. Deterministic (old.snapshotId + 1), so crash
      * replays re-derive the same id. */
    snapshotId: Int = 0,
    /** the committing verb that produced this snapshot (`build` / `append`
      * / `delete` / `compact`) — deterministic, so resumed builds stay
      * bit-identical to uninterrupted ones; wall-clock commit times live in
      * the lineage log, not here. */
    operation: String = "build",
    /** comma-joined [[BlockMetaComputers]] registry names the index was
      * built with — rewriting verbs rehydrate the SAME computer set, so
      * block meta never silently changes across generations. */
    metaComputerNames: String = "posSpan,tfQuantile",
    /** the live [[Segment]] list, ascending by `lo` — THE read truth for
      * postings and docstats (manifest-driven multi-path scans; nothing
      * reads by directory discovery). Builds commit one segment per chunk,
      * appends add one, compaction replaces overlapping segments with one
      * merged higher-`v` segment and touches no other segment's files.
      * Replaced directories become unreferenced garbage until
      * [[IndexBuilder.vacuum]]. */
    segments: Seq[Segment] = Seq.empty,
    /** [[IndexConfig.analyzerId]] the index was built with — appends must
      * tokenize and clean EXACTLY like the build (checked loudly), since a
      * second tokenization of the same text under a different config would
      * merge incompatible term streams into one dictionary. */
    analyzer: String = IndexConfig().analyzerId
) {
  /** resumable-build chunk count of the live layout (= segment count). */
  def nChunks: Int = segments.length
  /** Exact avgdl = integer total / integer count — bit-identical across
    * engines and reruns. */
  def avgdl: Double = totalLen.toDouble / nDocs.toDouble
  /** blocks per docId bucket: bucket `b` owns blockIds
    * `[b * blocksPerBucket, (b + 1) * blocksPerBucket)`. */
  def blocksPerBucket: Long = bucketRange / blockSize

  def metaComputers: Seq[BlockMetaComputer] =
    BlockMetaComputers.fromNames(metaComputerNames)
}
