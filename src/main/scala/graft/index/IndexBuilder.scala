package graft.index

import graft.codec.VByte
import graft.corpus.Pages
import graft.query.Bm25
import graft.tokenize.{TokenizerStrategy, Tokenizers}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

import java.io.ByteArrayOutputStream
import scala.reflect.runtime.universe.TypeTag

/** TermIdDoc + docId skew-bucket — the shuffle key of the segment build. */
final case class BucketedPosting(termId: Int, bucket: Long, docId: Long, tf: Int, docLen: Int,
    positions: Array[Int])

/** The SPIMI-style index build (SURVEY.md §3.3 engine trace):
  *
  * {{{
  * pages                       — scan (+ column pruning: html is NEVER read)
  *  → clean (dedup, lang)      — one hash exchange on url
  *  → tokenize flatMap         — Generate; per-doc tf in a local hash map
  *  → dictionary agg           — partial+final hash agg on term
  *  → broadcast dict lookup    — map-side, no shuffle (J3)
  *  → exchange on (termId, docId-bucket)   ← head-term skew salting
  *  → sortWithinPartitions(termId, bucket, docId)
  *  → streaming block build    — delta-gap + VByte + block-max (E4 + A8)
  *  → parquet postings clustered by termId + lineage rows
  * }}}
  *
  * Skew: the shuffle key includes `bucket = docId / bucketRange`, so a head
  * term with a billion postings lands on ~docIdSpace/bucketRange partitions
  * instead of one. Blocks carry absolute `firstDocId` and a globally-monotone
  * `blockId = bucket * blocksPerBucket + localIdx`, so per-bucket partials
  * need NO second merge pass (the reference's density-balanced chunking
  * recast, utils/split.py:243-360).
  *
  * STORAGE is LSM-segmented since r5: postings and docstats live in
  * immutable per-docId-range [[Segment]] directories listed in the manifest
  * (`segments/seg_<lo>_<hi>_v<v>/{postings,docstats}`). Builds commit one
  * segment per chunk, appends add one, and compaction REPLACES only the
  * segments overlapping its slice with one merged higher-version segment —
  * every other segment's files are physically untouched (slice-local write
  * I/O; the reference analog: chunked dataset writes reproduce only
  * affected files, midi_tokenizer.py:3228-3230). Reads are manifest-driven
  * multi-path scans, never directory discovery, so crashed writers' orphan
  * directories are invisible until [[vacuum]] removes them.
  */
object IndexBuilder {

  /** Tokenize cleaned pages into one TermDoc per distinct (term, doc),
    * carrying the term's ascending 1-based positions (tf = positions
    * .length). Computed inside the flatMap (map-side, no shuffle) — the
    * analog of MidiTok's per-file SoA kernels (midi_tokenizer.py:674-743). */
  def termDocs(cleaned: DataFrame, tok: TokenizerStrategy): Dataset[TermDoc] = {
    val spark = cleaned.sparkSession
    import spark.implicits._
    cleaned
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (docId, text) =>
        val ts = tok.terms(text)
        val m = new java.util.HashMap[String, scala.collection.mutable.ArrayBuilder.ofInt]()
        var i = 0
        while (i < ts.length) {
          var b = m.get(ts(i))
          if (b == null) { b = new scala.collection.mutable.ArrayBuilder.ofInt; m.put(ts(i), b) }
          b += i + 1 // positions appended in ascending scan order
          i += 1
        }
        val out = new Array[TermDoc](m.size)
        var j = 0
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val ps = e.getValue.result()
          out(j) = TermDoc(e.getKey, docId, ps.length, ts.length, ps)
          j += 1
        }
        out
      }
  }

  /** The (term, df, cf) stats of term docs — the delta a build or an
    * append folds into the dictionary ([[fold]]). */
  private def termStats(td: Dataset[TermDoc]): DataFrame =
    td.groupBy("term").agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))

  /** The live dictionary directory for a given manifest version. Appends
    * write version N+1 derived from version N and commit the manifest last,
    * so a replayed append regenerates v(N+1) from the untouched base
    * (overwrite-idempotent) instead of accumulating into a shared table. */
  def dictDirFor(indexDir: String, version: Int): String =
    f"$indexDir/dictionary/v$version%05d"

  def tombDirFor(indexDir: String, version: Int): String =
    f"$indexDir/tombstones/v$version%05d"

  /** One segment's root directory. */
  def segmentDir(indexDir: String, s: Segment): String =
    s"$indexDir/segments/${s.name}"

  /** The live postings directories — manifest-driven (read truth). */
  def postingsDirs(indexDir: String, m: IndexManifest): Seq[String] =
    m.segments.map(s => s"${segmentDir(indexDir, s)}/postings")

  /** The live docstats directories — manifest-driven (read truth). */
  def docstatsDirs(indexDir: String, m: IndexManifest): Seq[String] =
    m.segments.map(s => s"${segmentDir(indexDir, s)}/docstats")

  /** A scan of index table directories under the schema their row type
    * fixes — no one-task parquet-footer job to infer it. */
  private def readTable[T <: Product : TypeTag](spark: SparkSession, dirs: Seq[String]): DataFrame =
    spark.read.schema(Encoders.product[T].schema).parquet(dirs: _*)

  /** All live postings blocks: a multi-path scan over the manifest's
    * segment list (predicates on termId/blockId push into every path). */
  def readPostings(spark: SparkSession, indexDir: String, m: IndexManifest): DataFrame =
    readTable[PostingBlock](spark, postingsDirs(indexDir, m))

  /** All live (physical) docstats rows, manifest-driven like postings. */
  def readDocstats(spark: SparkSession, indexDir: String, m: IndexManifest): DataFrame =
    readTable[DocStat](spark, docstatsDirs(indexDir, m))

  /** Dictionary version `version` of the index at `indexDir`. */
  def readDict(spark: SparkSession, indexDir: String, version: Int): DataFrame =
    readTable[TermEntry](spark, Seq(dictDirFor(indexDir, version)))

  /** The live tombstone table as one `docId` column — an empty local
    * relation (which the optimizer folds out of anti-joins) when the index
    * was never deleted from. */
  def readTombstones(spark: SparkSession, indexDir: String, m: IndexManifest): DataFrame = {
    import spark.implicits._
    if (m.tombVersion < 0) Seq.empty[Long].toDF("docId")
    else spark.read.schema("docId LONG").parquet(tombDirFor(indexDir, m.tombVersion))
  }

  /** Every directory manifest `m` names: its segments, its dictionary
    * version and its tombstone version if any. [[vacuum]] keeps exactly
    * these; [[Snapshots.export]] copies exactly these. */
  def referencedDirs(indexDir: String, m: IndexManifest): Seq[String] =
    m.segments.map(segmentDir(indexDir, _)) ++ Seq(dictDirFor(indexDir, m.dictVersion)) ++
      (if (m.tombVersion >= 0) Seq(tombDirFor(indexDir, m.tombVersion)) else Nil)

  /** The docId-keyed table write (docstats, tombstones): rows hashed on
    * their docId bucket into `buckets` files and sorted by docId, so each
    * file's docId min/max stays tight for the range-predicate pruning. */
  private def writeDocIdClustered(rows: Dataset[_], buckets: Int, bucketRange: Long,
      dest: String): Unit =
    Store.writeTable(rows.repartition(buckets, (col("docId") / lit(bucketRange)).cast("long"))
      .sortWithinPartitions(col("docId")), dest)

  /** Tombstones v(N+1) of manifest `m`'s index, clustered like docstats. */
  private def writeNextTombstones(docIds: DataFrame, indexDir: String, m: IndexManifest): Unit =
    writeDocIdClustered(docIds, m.postingsBuckets, m.bucketRange, tombDirFor(indexDir, m.tombVersion + 1))

  /** The postings write: blocks hashed on termId into `buckets` files and
    * sorted by (termId, blockId), so a term's blocks are one contiguous run. */
  private def writePostings(blocks: Dataset[_], buckets: Int, dest: String): Unit =
    Store.writeTable(blocks.repartition(buckets, col("termId"))
      .sortWithinPartitions(col("termId"), col("blockId")), dest)

  /** Tombstone delete of a driver-side id list: a local relation through
    * [[deleteByIds]] (duplicate, nonexistent and already-deleted ids are
    * tolerated). */
  def delete(spark: SparkSession, indexDir: String, docIds: Seq[Long]): IndexManifest = {
    import spark.implicits._
    deleteByIds(spark, indexDir, docIds.distinct.toDF("docId"))
  }

  /** Tombstone delete — the third lifecycle verb (build / append /
    * delete) — of the docIds in the FIRST column of `ids` (castable
    * to long; duplicates, nonexistent and already-deleted ids tolerated) —
    * e.g. the output of a predicate over docstats. Nothing docId-shaped
    * ever reaches the driver: the fresh set, the affected buckets, the
    * per-term deltas and the tombstone union are all joins (reference
    * analog: corpus-level operations never materialize the corpus on one
    * node, the process_map fan-out, midi_tokenizer.py:3186-3195).
    *
    * Postings, docstats and block metadata keep deleted rows physically
    * until compaction (Lucene-style), but scoring stays EXACT: the
    * dictionary's df/cf are eagerly decremented by the deleted docs'
    * contributions (decoded from the affected BUCKETS' posting blocks
    * only), the manifest's nDocs/totalLen become live stats (idf and avgdl
    * reflect the live corpus), and every query path skips tombstoned
    * docIds. Stale per-block (maxTf, minDocLen) bounds remain conservative
    * upper bounds — pruning efficiency decays, correctness never.
    *
    * Idempotent like append: the genuinely-new ids are the requested set
    * minus already-tombstoned minus nonexistent; an empty delta is a
    * no-op, and a crash-and-replay between the versioned writes and the
    * manifest commit (LAST) re-derives the SAME v(N+1) tables from
    * untouched v(N) inputs. */
  def deleteByIds(spark: SparkSession, indexDir: String, ids: DataFrame): IndexManifest = {
    import spark.implicits._
    val old = Manifest.read(s"$indexDir/manifest.json")
    val oldTombs = readTombstones(spark, indexDir, old)
    val docstats = readDocstats(spark, indexDir, old)
    // genuinely-new = existing docs ∩ requested − already-tombstoned, each
    // with its norm: docstats docIds are unique, so the semi-join from the
    // docstats side needs no distinct. Multi-consumer (agg + buckets +
    // posting join + tombstone union) → materialize once, GC-reclaimed
    val fresh = docstats.select("docId", "docLen")
      .join(ids.select(col(ids.columns.head).cast("long").as("docId")), Seq("docId"), "left_semi")
      .join(oldTombs, Seq("docId"), "left_anti")
      .localCheckpoint(true)
    val delAgg = fresh.agg(count(lit(1)), coalesce(sum(col("docLen")), lit(0L))).head()
    val (nDel, lenDel) = (delAgg.getLong(0), delAgg.getLong(1))
    if (nDel == 0L) return old

    // per-term deltas: prune blocks to the fresh ids' BUCKETS (semi-join —
    // the bucket set is never collected), then decode only those blocks and
    // JOIN the per-posting rows against the fresh relation. The explode is
    // bounded by the affected buckets' postings, the join output by the
    // deleted docs' postings.
    val freshBuckets = fresh
      .select((col("docId") / lit(old.bucketRange)).cast("long").as("__bucket")).distinct()
    val affectedBlocks = readPostings(spark, indexDir, old)
      .withColumn("__bucket", (col("blockId") / lit(old.blocksPerBucket)).cast("long"))
      .join(freshBuckets, Seq("__bucket"), "left_semi")
      .drop("__bucket")
    val termDeltas = Postings.decode(affectedBlocks.as[PostingBlock], positions = false)
      .join(fresh.select("docId"), Seq("docId"), "left_semi")
      .groupBy("termId")
      .agg(count(lit(1)).as("d_df"), sum(col("tf")).as("d_cf"))

    // dictionary v(N+1) (decremented stats, stable termIds) and tombstones
    // v(N+1) = v(N) ∪ fresh are independent writes — overlap them
    // (optimization guide §2.6; Overlap quiesces on failure)
    Overlap.overlap {
      writeClusteredDict(
        readDict(spark, indexDir, old.dictVersion)
          .join(termDeltas, Seq("termId"), "left_outer")
          .select(col("termId"), col("term"),
            (col("df") - coalesce(col("d_df"), lit(0L))).cast("long").as("df"),
            (col("cf") - coalesce(col("d_cf"), lit(0L))).cast("long").as("cf")),
        old.postingsBuckets, old.vocabSize, dictDirFor(indexDir, old.dictVersion + 1))
    } {
      writeNextTombstones(oldTombs.unionByName(fresh.select("docId")), indexDir, old)
    }

    Lineage.append(spark, indexDir,
      LineageRow(old.nChunks, "delete", nDel, System.currentTimeMillis(), "committed"))
    val manifest = old.copy(nDocs = old.nDocs - nDel, totalLen = old.totalLen - lenDel,
      dictVersion = old.dictVersion + 1, tombVersion = old.tombVersion + 1,
      snapshotId = old.snapshotId + 1, operation = "delete")
    Manifest.commit(indexDir, manifest)
  }

  /** The termId range guard of both [[fold]] placements: `fresh` ids
    * numbered from `base` must stay inside the Int termId space — past it
    * they would wrap into negative (or colliding) termIds. */
  private def requireIdSpace(base: Long, fresh: Long): Unit =
    require(base + fresh <= Int.MaxValue.toLong + 1,
      s"termId overflow: $fresh fresh terms from base $base exceed Int.MaxValue")

  /** The driver placement's ranking of [[fold]]: sort `(term, df, cf)`
    * tuples by (df desc, term asc) in UTF-8 BINARY order — the exact unique
    * total order GlobalRank produces (Spark UTF8String collation == DuckDB
    * binary == code-point order; Java compareTo would diverge on
    * supplementary-plane terms) — and assign dense termIds from `base`. */
  private[graft] def rankFreshOnDriver(
      entries: Array[(String, Long, Long)], base: Long): Array[TermEntry] = {
    requireIdSpace(base, entries.length)
    entries.sortWith { case ((ta, dfa, _), (tb, dfb, _)) =>
      if (dfa != dfb) dfa > dfb else Overlap.utf8Compare(ta, tb) < 0
    }.zipWithIndex.map { case ((t, df, cf), i) =>
      TermEntry((base + i).toInt, t, df, cf)
    }
  }

  /** The clustered dictionary write of every dictionary version:
    * deterministic contiguous termId groups (known vocab span — no
    * repartitionByRange sampling pass), sorted within each group so
    * row-group termId min/max stay tight for scan pruning. Every version
    * goes into the manifest's `postingsBuckets` files — a fixed count, so
    * termId-range clustering survives any number of appends, deletes and
    * merges. */
  private[index] def writeClusteredDict(
      df: DataFrame, nBuckets: Int, vocabSize: Long, dest: String): Unit = {
    val perFile = math.max(1L, (vocabSize + nBuckets - 1) / nBuckets)
    Store.writeTable(df.repartition(nBuckets, (col("termId") / lit(perFile)).cast("long"))
      .sortWithinPartitions(col("termId")), dest)
  }

  /** A folded dictionary v(N+1) before its write: the vocabulary size; the
    * v(N+1) entry of every delta term, on the driver (`Left`) or as the
    * delta's rows with their `termId` (`Right` — it reads the fold's
    * caches, so materialize it before `write`); and the write, which
    * releases those caches. */
  private final case class Folded(vocabSize: Long,
      entries: Either[Array[TermEntry], DataFrame], write: () => Unit)

  /** The one dictionary fold: v(N) plus a (term, df, cf) `delta` gives
    * v(N+1). [[buildFrom]] folds its corpus stats into an empty base
    * (`base = None`), [[append]] a batch's stats and [[merge]] the source
    * dictionary into the live version; nothing else in the package ranks
    * terms (the reference likewise gives new tokens ids after the existing
    * ones, midi_tokenizer.py:2043-2063). Existing termIds stay; the terms
    * v(N) lacks are ranked (df desc, term UTF-8 asc) and numbered from
    * v(N)'s vocabSize, and v(N+1) goes to the next dictionary version in
    * `nBuckets` files through [[writeClusteredDict]]. The delta's side
    * picks the placement (a `Right` delta's further columns ride along
    * into the fold's entries):
    *  - driver (`Left`): fresh terms ranked by [[rankFreshOnDriver]]; v(N)
    *    streams once through a broadcast term map of the delta, destroyed
    *    when the write ends — it never shuffles, and only its rows of delta
    *    terms are collected (a semi-join bounded by the delta);
    *  - distributed (`Right`): v(N) ⋈ delta full outer on term, persisted,
    *    fresh terms ranked by GlobalRank — nothing vocabulary-sized reaches
    *    the driver.
    * Either way a termId overflow fails before anything is written. */
  private def fold(spark: SparkSession, indexDir: String, base: Option[IndexManifest],
      delta: Either[Array[(String, Long, Long)], DataFrame], nBuckets: Int): Folded = {
    import spark.implicits._
    val baseSize = base.fold(0L)(_.vocabSize)
    val baseDict = base.map(m => readDict(spark, indexDir, m.dictVersion))
    val dest = dictDirFor(indexDir, base.fold(0)(_.dictVersion + 1))
    delta match {
      case Left(rows) =>
        // lazy: a build's empty base matches nothing and never needs it
        lazy val byTerm = rows.iterator.map { case (t, df, cf) => t -> ((df, cf)) }.toMap
        def add(e: TermEntry, d: (Long, Long)) = e.copy(df = e.df + d._1, cf = e.cf + d._2)
        val matched = baseDict.fold(Array.empty[TermEntry])(
          _.join(rows.map(_._1).toSeq.toDF("term"), Seq("term"), "left_semi").as[TermEntry].collect())
        val known = matched.iterator.map(_.term).toSet
        val fresh = rankFreshOnDriver(rows.filterNot(r => known(r._1)), baseSize)
        val size = baseSize + fresh.length
        Folded(size, Left(matched.map(e => add(e, byTerm(e.term))) ++ fresh), () => baseDict match {
          case None => writeClusteredDict(fresh.toSeq.toDF(), nBuckets, size, dest)
          case Some(d) =>
            val b = spark.sparkContext.broadcast(byTerm)
            val updated = d.as[TermEntry].map(e => b.value.get(e.term).fold(e)(add(e, _)))
            try writeClusteredDict(updated.toDF().unionByName(fresh.toSeq.toDF()), nBuckets, size, dest)
            finally b.destroy()
        })
      case Right(rows) =>
        val d = rows.withColumnRenamed("df", "d_df").withColumnRenamed("cf", "d_cf")
        // an empty base folds out of the plan: the build ranks its stats as they are
        val joined = baseDict.getOrElse(spark.emptyDataset[TermEntry].toDF())
          .join(d, Seq("term"), "full_outer")
        if (base.isDefined) joined.persist()
        val ranked = graft.plans.GlobalRank.withRowNumber(joined.filter(col("termId").isNull),
          Seq(col("d_df").desc, col("term").asc), "rn", spark.sessionState.conf.numShufflePartitions)
        val release = () => { ranked.release(); joined.unpersist(); () }
        try requireIdSpace(baseSize, ranked.total) catch { case e: IllegalArgumentException => release(); throw e }
        val all = joined.filter(col("termId").isNotNull).unionByName(
          ranked.df.withColumn("termId", (col("rn") - 1 + baseSize).cast("int")).drop("rn"))
        val size = baseSize + ranked.total
        val next = all.select(col("termId"), col("term"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("d_df"), lit(0L))).as("df"),
          (coalesce(col("cf"), lit(0L)) + coalesce(col("d_cf"), lit(0L))).as("cf"))
        Folded(size, Right(all.filter(col("d_df").isNotNull)),
          () => try writeClusteredDict(next, nBuckets, size, dest) finally release())
    }
  }

  /** The posting build's broadcast map: the fold's driver-side `entries`,
    * head-filtered under a vocabulary cap (dense df-ordered termIds make
    * the head exactly termId < cap). */
  private def headMap(entries: Array[TermEntry], vocabCap: Option[Int]): Map[String, TermEntry] =
    vocabCap.fold(entries)(cap => entries.filter(_.termId < cap)).iterator.map(e => e.term -> e).toMap

  /** Streaming block builder over rows pre-sorted by (termId, bucket, docId).
    * Constant memory: at most `blockSize` postings buffered (the SPIMI
    * "flush at block boundary" discipline — reference analog: per-file
    * chunking keeps per-worker memory flat, utils/split.py:40-171). Every
    * block's metadata (the [[PostingBlock]] companion's keys) is computed
    * here, in the same pass. */
  private final class BlockIterator(
      rows: Iterator[BucketedPosting],
      blockSize: Int,
      blocksPerBucket: Long
  ) extends Iterator[PostingBlock] {
    private val buf = rows.buffered
    private var curTerm = -1
    private var curBucket = -1L
    private var localIdx = 0L

    override def hasNext: Boolean = buf.hasNext

    override def next(): PostingBlock = {
      val head = buf.head
      if (head.termId != curTerm || head.bucket != curBucket) {
        curTerm = head.termId
        curBucket = head.bucket
        localIdx = 0L
      }
      val docIds = new Array[Long](blockSize)
      val tfs = new Array[Int](blockSize)
      val posOut = new ByteArrayOutputStream(blockSize * 2)
      var n = 0
      var maxTf = 0
      var minDocLen = Int.MaxValue
      var minPos = Int.MaxValue
      var maxPos = 0
      while (n < blockSize && buf.hasNext &&
        buf.head.termId == curTerm && buf.head.bucket == curBucket) {
        val r = buf.next()
        docIds(n) = r.docId
        tfs(n) = r.tf
        VByte.putPositions(posOut, r.positions)
        if (r.tf > maxTf) maxTf = r.tf
        if (r.docLen < minDocLen) minDocLen = r.docLen
        val ps = r.positions
        if (ps.nonEmpty) {
          if (ps(0) < minPos) minPos = ps(0)
          if (ps(ps.length - 1) > maxPos) maxPos = ps(ps.length - 1)
        }
        n += 1
      }
      val ids = java.util.Arrays.copyOf(docIds, n)
      val fs = java.util.Arrays.copyOf(tfs, n)
      // nearest-rank p90, ceil(0.9 * n) in integer arithmetic, over a
      // sorted copy (the encoded tfs keep posting order)
      val sorted = fs.clone()
      java.util.Arrays.sort(sorted)
      val tfP90 = PostingBlock.TfP90Key -> sorted((9 * n + 9) / 10 - 1)
      val meta =
        if (maxPos == 0) Map(tfP90)
        else Map(PostingBlock.MinPosKey -> minPos, PostingBlock.MaxPosKey -> maxPos, tfP90)
      val blockId = curBucket * blocksPerBucket + localIdx
      localIdx += 1
      // (maxTf, minDocLen) is a stats-free block-max: the query computes
      // impact(maxTf, minDocLen) under the CURRENT manifest idf/avgdl, and
      // BM25 monotonicity (↑tf, ↓docLen) makes it dominate every member
      PostingBlock(
        curTerm,
        blockId,
        ids(0),
        n,
        VByte.encodeDocIds(ids),
        VByte.encodeInts(fs),
        posOut.toByteArray,
        maxTf,
        minDocLen,
        meta
      )
    }
  }

  /** TermDocs → compressed posting blocks. One exchange, one local sort. */
  def postingBlocks(
      td: Dataset[TermDoc],
      dict: Map[String, TermEntry],
      cfg: IndexConfig
  ): Dataset[PostingBlock] = {
    val spark = td.sparkSession
    import spark.implicits._
    val bDict = spark.sparkContext.broadcast(dict)
    val bucketRange = cfg.bucketRange
    val bucketed: Dataset[BucketedPosting] = td.mapPartitions { it =>
      val d = bDict.value
      it.flatMap { p =>
        d.get(p.term) match {
          case Some(e) =>
            Iterator.single(
              BucketedPosting(e.termId, p.docId / bucketRange, p.docId, p.tf, p.docLen, p.positions))
          case None => Iterator.empty // OOV under a capped dictionary
        }
      }
    }
    assembleBlocks(bucketed, cfg)
  }

  /** The distributed-join flavor of the dictionary lookup (SURVEY §2.3 J3
    * names both): TermDocs ⋈ dictionary on `term` — one extra exchange on
    * term instead of a driver-collected broadcast Map. This is the path for
    * vocabularies beyond [[IndexConfig.broadcastVocabMax]]: a 100M-term web
    * dictionary joins as an ordinary shuffle relation and NEVER
    * materializes on the driver. Semantically identical to
    * [[postingBlocks]] (inner join == OOV drop under a capped head). */
  def postingBlocksJoinDict(
      td: Dataset[TermDoc],
      dict: DataFrame,
      cfg: IndexConfig
  ): Dataset[PostingBlock] = {
    val spark = td.sparkSession
    import spark.implicits._
    val bucketed = td.toDF()
      .join(dict.select(col("term"), col("termId")), Seq("term"))
      .select(col("termId"), (col("docId") / lit(cfg.bucketRange)).cast("long").as("bucket"),
        col("docId"), col("tf"), col("docLen"), col("positions"))
      .as[BucketedPosting]
    assembleBlocks(bucketed, cfg)
  }

  /** The salted block-assembly tail shared by the build and compaction:
    * one exchange on (termId, bucket), a local (termId, bucket, docId)
    * sort, and the streaming VByte block encoder. */
  def assembleBlocks(bucketed: Dataset[BucketedPosting], cfg: IndexConfig): Dataset[PostingBlock] = {
    val spark = bucketed.sparkSession
    import spark.implicits._
    val blockSize = cfg.blockSize
    val blocksPerBucket = cfg.blocksPerBucket
    val shufflePartitions = spark.sessionState.conf.numShufflePartitions
    bucketed
      .repartition(shufflePartitions, col("termId"), col("bucket"))
      .sortWithinPartitions(col("termId"), col("bucket"), col("docId"))
      .as[BucketedPosting]
      .mapPartitions { it =>
        new BlockIterator(it, blockSize, blocksPerBucket)
      }
  }

  /** Compaction — physically drop tombstoned rows: decode every surviving
    * posting from the affected segments' blocks, re-join its norm from the
    * live docstats, and reassemble blocks through the SAME salted exchange +
    * streaming encoder as the original build; live docstats are rewritten
    * bucket-clustered. The affected segments are REPLACED in the manifest by
    * one merged segment at version max(v)+1 (committed LAST — a crash
    * mid-compaction leaves the old segments live and a re-run re-derives
    * the same merged segment); their directories become garbage for
    * [[vacuum]]. The dictionary is untouched: df/cf are already live since
    * delete(), and df-0 rows stay so termIds remain stable. After a full
    * compaction the index is physically equal to a fresh rebuild without
    * the deleted docs (CompactSpec). */
  def compact(spark: SparkSession, indexDir: String): IndexManifest =
    compactRange(spark, indexDir, None)

  /** Incremental sibling: compact ONLY the segments overlapping the docId
    * buckets `[bucketLo, bucketHi)` — the LSM-style slice compaction a
    * 100 TB index needs. The slice is rounded OUT to whole segments (the
    * immutable I/O unit): decode + shuffle + WRITE are all bounded by the
    * overlapping segments, and every non-overlapping segment's files are
    * physically untouched (CompactSpec asserts byte-identical paths+sizes).
    * Tombstones outside the compacted span stay live in tombstones v(N+1),
    * so the remaining segments compact later. All layout parameters come
    * from the MANIFEST (postingsBuckets persisted at build), so an index
    * built with a non-default layout keeps it. */
  def compactRange(spark: SparkSession, indexDir: String,
      bucketRange0: Option[(Long, Long)]): IndexManifest = {
    val old = Manifest.read(s"$indexDir/manifest.json")
    val (bLo, bHi) = bucketRange0.getOrElse((0L, Long.MaxValue))
    val docLo = if (bLo >= Long.MaxValue / old.bucketRange) Long.MaxValue else bLo * old.bucketRange
    val docHi = if (bHi >= Long.MaxValue / old.bucketRange) Long.MaxValue else bHi * old.bucketRange
    val (touched, untouched) = old.segments.partition(_.overlaps(docLo, docHi))
    compactSegments(spark, indexDir, old, touched, untouched)
  }

  /** The compaction core over an EXACT touched-segment set (the touched
    * run must be contiguous in segment order so the merged span covers no
    * untouched segment — compactRange guarantees it by overlap partition,
    * [[maintain]] by slicing an adjacent run; segment doc ranges are
    * disjoint by construction). Taking the set rather than a bucket span
    * lets maintain merge EXACTLY its chosen run even when segment
    * boundaries are not bucket-aligned (append segments start at
    * maxDocId + 1) — bucket rounding would otherwise drag a neighboring
    * multi-TB base segment into a merge of two tiny appends. */
  private def compactSegments(spark: SparkSession, indexDir: String,
      old: IndexManifest, touched: Seq[Segment],
      untouched: Seq[Segment]): IndexManifest = {
    import spark.implicits._
    val geometry = IndexConfig(blockSize = old.blockSize, bucketRange = old.bucketRange)
    if (touched.isEmpty) return old
    // with no tombstones a single-segment slice has nothing to drop and
    // nothing to merge — a pure rewrite, skipped; MULTIPLE touched segments
    // still merge (the [[maintain]] segment-merge mode: append-created
    // small segments fold into one even on a delete-free index)
    if (old.tombVersion < 0 && touched.length <= 1) return old
    // effective span = the touched segments' union range (slice rounded out
    // to the immutable I/O unit); merged version derived deterministically
    // from the replaced set, so a crash-replay overwrites the same dir
    val spanLo = touched.map(_.lo).min
    val spanHi = touched.map(_.hi).max
    require(untouched.forall(!_.overlaps(spanLo, spanHi)),
      s"touched run [$spanLo,$spanHi) not contiguous — would orphan an untouched segment")
    val merged = Segment(spanLo, spanHi, touched.map(_.v).max + 1)
    val mergedDir = segmentDir(indexDir, merged)

    // multi-consumer relations here are DIRECT parquet scans (tombstones,
    // blocks) — re-scanning per consumer beats materializing a whole-index
    // checkpoint, the same columnar re-scan trade as the build's term docs
    val tombs = readTombstones(spark, indexDir, old)
    val tombsIn = tombs.filter(col("docId") >= spanLo && col("docId") < spanHi)
    val tombsOut = tombs.filter(col("docId") < spanLo || col("docId") >= spanHi)

    // in-span docstats lose their tombstoned rows; out-of-span segments are
    // never even read (the manifest narrowed to the touched run)
    val slice = old.copy(segments = touched)
    val statsIn = readDocstats(spark, indexDir, slice)
      .select("docId", "url", "docLen")
      .join(broadcast(tombsIn), Seq("docId"), "left_anti")

    val surviving = Postings.decode(readPostings(spark, indexDir, slice).as[PostingBlock], positions = true)
      // the inner join with LIVE in-span docstats drops tombstoned rows by
      // itself (statsIn is already anti-joined) — no separate anti-join
      .join(statsIn.select(col("docId"), col("docLen")), "docId")
      .select(col("termId"), (col("docId") / lit(old.bucketRange)).cast("long").as("bucket"),
        col("docId"), col("tf"), col("docLen"), col("positions"))
      .as[BucketedPosting]

    // the postings rewrite (heavy: decode + salted exchange + encode) and
    // the docstats rewrite (light) are independent writes into the merged
    // segment — overlap them (optimization guide §2.6; Overlap quiesces
    // the background write if the foreground fails)
    Overlap.overlap {
      writeDocIdClustered(statsIn, old.postingsBuckets, old.bucketRange, s"$mergedDir/docstats")
    } {
      writePostings(assembleBlocks(surviving, geometry), old.postingsBuckets, s"$mergedDir/postings")
    }

    // tombstones that survive outside the span (none on a full compaction)
    val remaining = if (old.tombVersion < 0) 0L else tombsOut.count()
    val newTombVersion =
      if (remaining == 0L) -1
      else { writeNextTombstones(tombsOut, indexDir, old); old.tombVersion + 1 }

    Lineage.append(spark, indexDir,
      LineageRow(-1, "compact", old.nDocs, System.currentTimeMillis(), "committed"))
    val manifest = old.copy(tombVersion = newTombVersion,
      segments = (untouched :+ merged).sortBy(_.lo),
      snapshotId = old.snapshotId + 1, operation = "compact")
    Manifest.commit(indexDir, manifest)
  }

  /** LSM maintenance policy — bound the live segment count. Every append
    * commits one new segment, so a long-lived crawl loop accumulates
    * segments without bound; real LSM engines run a background merge policy
    * and this is the engine's: while more than `maxSegments` segments are
    * live, merge the ADJACENT RUN with the smallest combined on-disk bytes
    * (size-tiered selection — folding the small append segments first
    * minimizes write amplification; the big base segments are only ever
    * rewritten when they themselves become the smallest candidates) via
    * the compaction core on EXACTLY that run (segment boundaries are not
    * bucket-aligned — appends start at maxDocId + 1 — so a bucket-span
    * slice would drag neighbors into the merge; the exact-set core keeps
    * the fanIn bound and the no-rewrite guarantee honest). Merge I/O per
    * round is bounded by the chosen run; every other segment's files stay
    * physically untouched, and each merge is its own crash-safe snapshot
    * commit (interrupt → resume composes). Candidate sizing reads file
    * METADATA only (`Store.sizeOf`), no data scan, so it compares on-disk
    * bytes: a segment written with snappy pages (before [[Store.writeTable]]
    * wrote zstd) weighs about 1.4× a zstd one with the same content
    * (postings + docstats, sf0.01) and is picked later than its content
    * alone would say. Tombstones inside a
    * merged span are dropped for free; replaced directories await
    * [[vacuum]].
    *
    * `fanIn` caps how many segments one merge folds (merge cost bound). A
    * call on an index already within budget is a pure no-op (no snapshot
    * churn). Returns the final manifest. */
  def maintain(spark: SparkSession, indexDir: String,
      maxSegments: Int = 8, fanIn: Int = 8): IndexManifest = {
    require(maxSegments >= 1, "maxSegments must be >= 1")
    require(fanIn >= 2, "fanIn must be >= 2 (a merge folds at least two segments)")
    var m = Manifest.read(s"$indexDir/manifest.json")
    while (m.segments.length > maxSegments) {
      val segs = m.segments // ascending by lo (manifest invariant)
      val sizes = segs.map(s => Store.sizeOf(segmentDir(indexDir, s)))
      // fold enough to reach budget this round when fanIn allows, else the
      // largest permitted run; pick the cheapest adjacent window
      val runLen = math.max(2, math.min(fanIn, segs.length - maxSegments + 1))
      val best = (0 to segs.length - runLen)
        .minBy(i => sizes.slice(i, i + runLen).sum)
      val next = compactSegments(spark, indexDir, m,
        touched = segs.slice(best, best + runLen),
        untouched = segs.take(best) ++ segs.drop(best + runLen))
      require(next.segments.length == m.segments.length - runLen + 1,
        s"maintain folded a different count than its chosen run [$best, ${best + runLen})")
      m = next
    }
    m
  }

  /** Garbage-collect everything outside the retention window: segment /
    * dictionary / tombstone directories referenced by NO retained snapshot
    * (replaced by compaction, superseded by appends/deletes, or left by
    * crashed attempts) plus the expired snapshot manifests themselves.
    *
    * Retention is snapshot-count-based, Iceberg-style: the live snapshot
    * plus the `retainSnapshots - 1` committed snapshots before it stay
    * fully time-travel-queryable ([[Manifest.readAt]]); anything older
    * expires. Snapshot files NEWER than the live pointer (a crashed,
    * never-flipped commit) are garbage too — the replayed verb re-derives
    * them. Safe against crashed writers because reads are manifest-driven;
    * NOT safe concurrently with readers still holding pre-vacuum handles.
    * Returns the deleted paths (relative to indexDir). */
  def vacuum(spark: SparkSession, indexDir: String, retainSnapshots: Int = 1): Seq[String] = {
    require(retainSnapshots >= 1, "retainSnapshots must be >= 1 (the live snapshot)")
    val live = Manifest.read(s"$indexDir/manifest.json")
    val retained = Manifest.history(indexDir)
      .filter(_.snapshotId < live.snapshotId)
      .sortBy(-_.snapshotId).take(retainSnapshots - 1) :+ live
    Store.sweep(indexDir, Seq("segments", "dictionary", "tombstones", "snapshots"),
      retained.flatMap(m =>
        referencedDirs(indexDir, m) :+ Manifest.snapshotPath(indexDir, m.snapshotId)).toSet)
  }

  // ---------------------------------------------------------------- build

  private def success(dir: String): Boolean = Store.exists(s"$dir/_SUCCESS")

  /** Full resumable build: pages(sfDir) → index at indexDir.
    * Stages (dictionary → per-segment docstats + postings → manifest) each
    * commit atomically (parquet _SUCCESS) + append a lineage row; a re-run
    * skips committed stages (crash-restart yields a bit-identical index —
    * tested). */
  def build(spark: SparkSession, sfDir: String, indexDir: String, cfg: IndexConfig = IndexConfig()): IndexManifest =
    buildFrom(spark, Pages.withInjections(spark, sfDir), indexDir, cfg)

  /** Same, over an arbitrary pages DataFrame (input_hint shape + doc_id). */
  def buildFrom(spark: SparkSession, pages: org.apache.spark.sql.DataFrame, indexDir: String, cfg: IndexConfig): IndexManifest = {
    import spark.implicits._
    // a committed build is a pure no-op (idempotent skip) — the manifest is
    // only ever written after every stage's _SUCCESS
    if (Store.exists(s"$indexDir/manifest.json"))
      return Manifest.read(s"$indexDir/manifest.json")
    val tok = Tokenizers(cfg.tokenizer)
    Store.mkdirs(indexDir)

    // project to the columns the build actually reads (doc_id, url, text)
    // BEFORE caching: persist would otherwise materialize every input
    // column — including the html payload, which the build never touches —
    // through the cleaning window's exchange and into cache (§2.3: project
    // before the exchange; an opaque cache defeats column pruning)
    val cleaned = Pages.cleaned(pages, cfg.langs)
      .select(col("doc_id"), col("url"), col("text")).persist()

    // cheap column aggregates (no tokenize): the docId span that defines the
    // segment ranges, and the corrupt-row count — independent jobs, run
    // CONCURRENTLY (§2.6 via Overlap: the corrupt count scans raw pages,
    // the doc span materializes the cleaned cache; a doc-span failure
    // quiesces the count before propagating)
    val (skippedCorrupt, maxDocId) = Overlap.overlap(
      pages.filter(col("text").isNull).count())(
      cleaned.agg(coalesce(max(col("doc_id").cast("long")), lit(0L))).head().getLong(0))

    // -- stage: dictionary ----------------------------------------------
    val dictDir = dictDirFor(indexDir, 0)
    var vocabSize = -1L
    // entries ranked on the driver when the vocabulary proved driver-bounded
    // in THIS build — reused below as the posting-build broadcast map, so the
    // committed dictionary is never re-read (no headDict collect job)
    var driverEntries: Array[TermEntry] = null
    if (!success(dictDir)) {
      // vocab-sized stats persisted ONCE (the count materializes the cache;
      // everything later reads it — one full tokenize+aggregate pass total,
      // guide §1.2 step 1) and folded into an empty base. Under
      // broadcastVocabMax the build collects the dictionary to the driver
      // ANYWAY (the posting-build broadcast map), so the fold runs there;
      // beyond it the fold's GlobalRank passes read the stats cache, never
      // re-tokenizing the corpus
      val stats = termStats(termDocs(cleaned, tok)).persist()
      vocabSize = stats.count()
      val folded = fold(spark, indexDir, None,
        if (vocabSize > cfg.broadcastVocabMax) Right(stats)
        else Left(try stats.as[(String, Long, Long)].collect() finally stats.unpersist()),
        cfg.postingsBuckets)
      folded.write()
      stats.unpersist()
      driverEntries = folded.entries.left.toOption.orNull
      Lineage.append(spark, indexDir, LineageRow(-1, "dictionary", -1L, System.currentTimeMillis(), "committed"))
    }
    if (vocabSize < 0) vocabSize = readDict(spark, indexDir, 0).count()
    // head/tail split: broadcast (and index) only the head under a cap —
    // dense df-ordered termIds make the head exactly termId < cap, and the
    // predicate is pushed BELOW the collect into the termId-clustered scan
    // (a capped build never materializes the tail on the driver)
    // lazy: a driver-placement fold never touches the committed parquet
    // again; the distributed / resumed paths evaluate it once (a def would
    // re-list the dictionary dir per chunk on the distributed-join path)
    lazy val headDict: org.apache.spark.sql.DataFrame = {
      val dictSource = readDict(spark, indexDir, 0)
      cfg.vocabCap.fold(dictSource)(cap => dictSource.filter(col("termId") < cap))
    }
    // J3 two-flavor dispatch: the broadcast Map is collected ONLY when the
    // (capped) head is driver-sized; an uncapped vocabulary beyond
    // broadcastVocabMax uses the distributed term join instead — no driver
    // materialization of a web-scale dictionary, ever
    val useBroadcastDict =
      cfg.vocabCap.exists(_ <= cfg.broadcastVocabMax) || vocabSize <= cfg.broadcastVocabMax
    val dict: Map[String, TermEntry] =
      // ranked this build: the head IS driver-resident already
      if (driverEntries != null) headMap(driverEntries, cfg.vocabCap)
      else if (useBroadcastDict) headDict.as[TermEntry].collect().map(e => e.term -> e).toMap
      else Map.empty

    // -- stage: segments (docstats + postings per docId range) -----------
    // P1 density-balanced sizing: nChunks == 0 derives the chunk count from
    // the exact corpus token total, bounding per-chunk postings volume —
    // the AUTO path pays one extra token-count pass for it
    val nChunks =
      if (cfg.nChunks > 0) cfg.nChunks
      else {
        val totalTokens = cleaned.select(col("text")).as[String]
          .map(t => tok.termCount(t).toLong)
          .agg(coalesce(sum(col("value")), lit(0L))).head().getLong(0)
        math.max(1L, (totalTokens + cfg.targetTokensPerChunk - 1) / cfg.targetTokensPerChunk).toInt
      }
    val rawChunk = (maxDocId + 1 + nChunks - 1) / nChunks
    // chunk boundary aligned to bucketRange so buckets never span segments
    // within one build (appends may still share the tail bucket — handled
    // by firstDocId-ordered block merge at query time)
    val chunkRange = math.max(((rawChunk + cfg.bucketRange - 1) / cfg.bucketRange) * cfg.bucketRange, cfg.bucketRange)
    val segs = Seq.newBuilder[Segment]
    var chunk = 0
    while (chunk * chunkRange <= maxDocId) {
      val lo = chunk * chunkRange
      // the last segment's hi clamps to maxDocId + 1, so the segment list
      // tiles [0, maxDocId + 1) exactly and an append's segment
      // [maxDocId + 1, …) never overlaps
      val hi = math.min(lo + chunkRange, maxDocId + 1)
      val seg = Segment(lo, hi, 0)
      val sdir = segmentDir(indexDir, seg)
      // the chunk's docstats and postings writes are INDEPENDENT (both read
      // the cleaned cache, each commits its own _SUCCESS + lineage row) —
      // overlap them (§2.6) so the postings stage's map tasks back-fill the
      // docstats write's tail instead of waiting behind it
      Overlap.overlap {
        if (!success(s"$sdir/docstats")) {
          // termCount == terms().length (spec-pinned) without materializing a
          // single token string
          writeDocIdClustered(cleaned
            .filter(col("doc_id").cast("long") >= lo && col("doc_id").cast("long") < hi)
            .select(col("doc_id").cast("long"), col("url"), col("text"))
            .as[(Long, String, String)]
            .map { case (docId, url, text) => DocStat(docId, url, tok.termCount(text)) },
            cfg.postingsBuckets, cfg.bucketRange, s"$sdir/docstats")
          Lineage.append(spark, indexDir, LineageRow(chunk, "docstats", -1L, System.currentTimeMillis(), "committed"))
        }
      } {
        if (!success(s"$sdir/postings")) {
          // slice the CLEANED relation before the tokenize flatMap (a
          // closure filter on Dataset[TermDoc] cannot push below it), so a
          // multi-chunk build tokenizes each doc ONCE per pass — O(corpus)
          // total, not O(chunks × corpus). Re-tokenizing the persisted,
          // compact cleaned pages beats caching ~70 TermDoc rows per doc
          // (measured 1.9× end to end), the columnar re-scan trade.
          val part = termDocs(cleaned.filter(
            col("doc_id").cast("long") >= lo && col("doc_id").cast("long") < hi), tok)
          val blocks =
            if (useBroadcastDict) postingBlocks(part, dict, cfg)
            else postingBlocksJoinDict(part, headDict, cfg)
          writePostings(blocks, cfg.postingsBuckets, s"$sdir/postings")
          // no read-back count: the block total was only ever an informational
          // lineage field (no consumer reads it — ResumeSpec checks stage
          // names), and the count was one whole Spark job per chunk (§1.2
          // step 1: don't compute things you throw away)
          Lineage.append(spark, indexDir, LineageRow(chunk, "postings", -1L, System.currentTimeMillis(), "committed"))
        }
      }
      segs += seg
      chunk += 1
    }
    val segments = segs.result()

    // global stats from the committed segment docstats (one cheap columnar
    // agg — this also revalidates the segment set is readable)
    val agg = readTable[DocStat](spark, segments.map(s => s"${segmentDir(indexDir, s)}/docstats"))
      .agg(count(lit(1)), coalesce(sum(col("docLen")), lit(0L)),
        coalesce(max(col("docLen")), lit(0))).head()
    val manifest = IndexManifest(nDocs = agg.getLong(0), totalLen = agg.getLong(1),
      vocabSize = vocabSize, skippedCorrupt = skippedCorrupt,
      blockSize = cfg.blockSize, bucketRange = cfg.bucketRange, maxDocId = maxDocId,
      maxDocLen = agg.getInt(2), postingsBuckets = cfg.postingsBuckets,
      segments = segments, analyzer = cfg.analyzerId)
    Manifest.commit(indexDir, manifest)
    cleaned.unpersist()
    manifest
  }

  // --------------------------------------------------------------- append

  /** Incremental append: add new documents (docIds strictly beyond the
    * manifest's maxDocId) to an existing index WITHOUT touching committed
    * segments — the engine analog of re-running `tokenize_dataset` over a
    * grown corpus (midi_tokenizer.py:3084-3198 + the idempotent skip,
    * utils/split.py:98-104).
    *
    * Id stability: existing termIds never change; new terms get ids
    * appended after vocabSize, ordered (df desc, term) among themselves.
    * df/cf/nDocs/totalLen/avgdl are refreshed in dictionary + manifest —
    * safe because block bounds are (maxTf, minDocLen), derived under the
    * CURRENT stats at query time, so committed blocks stay exact.
    *
    * `cfg` must carry the same tokenizer, language allowlist, vocabulary
    * cap and block geometry as the original build (all checked against
    * the manifest before any side effect).
    *
    * Crash/replay safety (exactly-once with [[graft.streaming
    * .StreamingIngest]]): every write of one append is an OVERWRITE of a
    * destination derived from the BASE manifest — the delta's own segment
    * directory `seg_<maxDocId+1>_<maxNew+1>_v0` and the dictionary version
    * v(N+1) computed from v(N) — and the manifest (carrying `lastBatchId`)
    * commits last. A replay after a mid-append crash regenerates identical
    * state; a replay after the manifest commit is skipped outright via
    * `batchId <= lastBatchId`. The only non-idempotent trace is an extra
    * informational lineage row.
    *
    * Scale discipline: the dictionary is NEVER collected to the driver.
    * Dictionary v(N+1) is the batch's term stats folded into v(N) by the
    * [[fold]]'s driver placement (the build and [[merge]] fold through it
    * too), written distributed (termId-range-clustered); the fold's
    * driver-side entries for the batch's terms are the posting build's
    * broadcast map — driver memory is bounded by the batch's vocabulary,
    * not the corpus vocabulary (the reference's trained vocab likewise
    * streams through the trainer and is never materialized monolithically
    * mid-train, midi_tokenizer.py:2924-2934). */
  def append(spark: SparkSession, deltaPages: DataFrame, indexDir: String, cfg: IndexConfig,
      batchId: Option[Long] = None): IndexManifest = {
    import spark.implicits._
    val old = Manifest.read(s"$indexDir/manifest.json")
    if (batchId.exists(_ <= old.lastBatchId)) return old // committed-batch replay: no-op
    require(cfg.blockSize == old.blockSize && cfg.bucketRange == old.bucketRange,
      s"append config (${cfg.blockSize},${cfg.bucketRange}) != index geometry (${old.blockSize},${old.bucketRange})")
    require(cfg.analyzerId == old.analyzer,
      s"append analyzer '${cfg.analyzerId}' != index analyzer '${old.analyzer}' — " +
        "appends must tokenize, clean and cap exactly like the build (pass the build's " +
        "tokenizer config, language allowlist and vocabCap); mixing token streams would " +
        "corrupt the shared dictionary (no side effects were taken)")
    val tok = Tokenizers(cfg.tokenizer)
    val cleaned = Pages.cleaned(deltaPages, cfg.langs)
      .select(col("doc_id"), col("url"), col("text")).persist()

    val stats = cleaned
      .select(col("doc_id").cast("long"), col("url"), col("text"))
      .as[(Long, String, String)]
      .map { case (docId, url, text) => DocStat(docId, url, tok.termCount(text)) }
      .persist()
    // the corrupt-row count over the raw delta runs beside the batch's
    // stats aggregate — independent jobs (§2.6, as in [[buildFrom]])
    val (skippedNew, agg) = Overlap.overlap(deltaPages.filter(col("text").isNull).count())(
      stats.agg(coalesce(min(col("docId")), lit(Long.MaxValue)),
        coalesce(max(col("docId")), lit(-1L)), count(lit(1)), coalesce(sum(col("docLen")), lit(0L)),
        coalesce(max(col("docLen")), lit(0))).head())
    val (minNew, maxNew, nNew, lenNew) = (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
    val maxDlNew = agg.getInt(4)
    require(nNew == 0 || minNew > old.maxDocId,
      s"append docIds must exceed maxDocId=${old.maxDocId}, got min=$minNew " +
        "(no side effects were taken; if batches arrive from a streaming file source, " +
        "same-instant files may be discovered out of docId order — raise maxFilesPerTrigger " +
        "so they coalesce into one batch)")
    if (nNew == 0) {
      // nothing survived cleaning: no segment, but the cursor still commits
      val m0 = old.copy(skippedCorrupt = old.skippedCorrupt + skippedNew,
        lastBatchId = batchId.getOrElse(old.lastBatchId),
        snapshotId = old.snapshotId + 1, operation = "append")
      Manifest.commit(indexDir, m0)
      stats.unpersist(); cleaned.unpersist()
      return m0
    }

    // the delta's own segment: lo pinned to the base cursor (keeps the
    // segment list tiling the docId space even across sparse batches) and
    // derived from the BASE manifest, so a crash-replay overwrites the
    // same directory
    val seg = Segment(old.maxDocId + 1, maxNew + 1, 0)
    val sdir = segmentDir(indexDir, seg)
    val td = termDocs(cleaned, tok).persist()
    // the delta segment's docstats write is independent of the whole
    // dictionary/postings chain — overlap it (§2.6; quiesced on failure
    // by Overlap so a retry never races an orphaned write)
    val (_, vocabSize) = Overlap.overlap {
      // layout authority is the MANIFEST: the bucket count persisted at
      // build time, whatever the caller's cfg carries
      writeDocIdClustered(stats, old.postingsBuckets, old.bucketRange, s"$sdir/docstats")
    } {
      // dictionary v(N+1) from v(N) through the [[fold]]'s driver
      // placement: the delta's term stats are bounded by the BATCH's
      // vocabulary, so they collect once and the fold returns, driver-side,
      // the v(N+1) entry of every batch term — the posting build's broadcast
      // map, head-filtered under a vocabulary cap exactly like the base build
      val deltaStats = termStats(td).as[(String, Long, Long)].collect()
      val folded = fold(spark, indexDir, Some(old), Left(deltaStats), old.postingsBuckets)
      val Left(entries) = folded.entries
      // the v(N+1) dictionary write and the delta postings write are also
      // independent — the broadcast map is driver-derived, not read back
      // from the written dictionary — overlap them too
      Overlap.overlap(folded.write()) {
        writePostings(postingBlocks(td, headMap(entries, cfg.vocabCap), cfg), old.postingsBuckets, s"$sdir/postings")
      }
      folded.vocabSize
    } // end docstats overlap — all three writes complete (or quiesced)
    Lineage.append(spark, indexDir,
      LineageRow(old.nChunks, "append", nNew, System.currentTimeMillis(), "committed"))

    // old.copy: tombVersion (and any future field) carries over — appends
    // never disturb tombstones or other segments
    val manifest = old.copy(nDocs = old.nDocs + nNew, totalLen = old.totalLen + lenNew,
      vocabSize = vocabSize, skippedCorrupt = old.skippedCorrupt + skippedNew,
      maxDocId = math.max(old.maxDocId, maxNew),
      dictVersion = old.dictVersion + 1, lastBatchId = batchId.getOrElse(old.lastBatchId),
      maxDocLen = math.max(old.maxDocLen, maxDlNew),
      segments = old.segments :+ seg,
      snapshotId = old.snapshotId + 1, operation = "append")
    Manifest.commit(indexDir, manifest)
    td.unpersist(); stats.unpersist(); cleaned.unpersist()
    manifest
  }

  // ---------------------------------------------------------------- merge

  /** [[merge]]'s contract on the two manifests, checked before any side
    * effect: equal block geometry, an equal analyzer, and no vocabulary
    * cap. A capped index's head is its OWN top-`cap` terms by df, so a
    * source head term can sit in the destination's tail (its postings
    * would land under a tail termId) and a destination head term would
    * lack the source's postings. */
  private[index] def requireMergeable(src: IndexManifest, old: IndexManifest): Unit = {
    require(src.blockSize == old.blockSize && src.bucketRange == old.bucketRange,
      s"merge source geometry (${src.blockSize},${src.bucketRange}) != destination " +
        s"(${old.blockSize},${old.bucketRange}) — blocks are immutable I/O units and " +
        "cannot be re-split without a rebuild")
    require(src.analyzer == old.analyzer,
      s"merge source analyzer '${src.analyzer}' != destination '${old.analyzer}' — " +
        "both indexes must tokenize, clean and cap identically to share one dictionary")
    require(!old.vocabCapped,
      s"merge refuses vocabulary-capped indexes (analyzer '${old.analyzer}'): each index's " +
        "head is its own most-document-frequent terms, so a source head term can be a " +
        "destination tail term and its postings would be indexed under it — rebuild the " +
        "combined corpus under the cap instead (no side effects were taken)")
  }

  /** Merge an independently BUILT index into this one — the distributed
    * form of Lucene's `addIndexes` and the engine analog of combining two
    * separately tokenized dataset chunks into one training corpus without
    * re-tokenizing either (the reference's per-chunk outputs are likewise
    * combined by manifest, not by re-running the tokenizer,
    * midi_tokenizer.py:3084-3198). The source at `otherDir` is READ-ONLY
    * and untouched; the destination gains the source's documents with
    *
    *  - ZERO re-tokenization (no text is ever read),
    *  - ZERO posting-block re-encoding (the VByte-compressed docIdGaps/
    *    tfs/positions byte arrays travel verbatim; only the termId COLUMN
    *    is remapped through the merged dictionary), and
    *  - ZERO rewrite of the destination's own files (its segments and
    *    docstats are not touched; only a new dictionary version, an
    *    optional tombstone union, and the source's re-keyed segments are
    *    written).
    *
    * Cost at 100 TB: one dictionary [[fold]] — its driver placement (the
    * destination dictionary streams once through a broadcast term map) when
    * the source vocabulary fits `broadcastVocabMax`, its distributed
    * placement (a vocab-sized full-outer join) beyond it — one
    * remap join + re-cluster exchange over the SOURCE's compressed blocks
    * (broadcast map-side when the source vocabulary fits
    * `broadcastVocabMax` — plan-verified BroadcastHashJoin, blocks never
    * decoded), and a server-side file copy of the source's docstats —
    * merge the smaller index into the larger one. The rewrite runs one
    * job per source SEGMENT (each lands in its own immutable dest dir),
    * so [[maintain]] the source down to a bounded segment count before
    * merging a long-crawled index.
    *
    * Contract (the append contract, lifted to whole indexes): the source's
    * PHYSICAL docId span must lie strictly beyond the destination's
    * `maxDocId` — physical, not live, because tombstoned postings stay in
    * blocks until compaction and an interleaved bucket would corrupt the
    * query path's firstDocId-ordered in-bucket block concatenation.
    * Sharded crawls that partition the docId space merge in id order.
    * Geometry (blockSize, bucketRange) and the ANALYZER fingerprint must
    * match exactly, and neither index may carry a vocabulary cap
    * ([[requireMergeable]]); `postingsBuckets` may differ (the source's
    * blocks are re-clustered into the destination's layout).
    *
    * Id stability mirrors [[append]]: destination termIds never change;
    * source-only terms get ids after the destination's vocabSize, ordered
    * (df desc, term) among themselves; df/cf are summed from the two LIVE
    * dictionaries (both already delete-decremented), so scoring over the
    * merged index is exact with no decode. Source tombstones union into
    * the destination's tombstone table, so a partially deleted source
    * merges with its deletes intact.
    *
    * Crash/replay: every write targets a destination derived from the two
    * UNTOUCHED inputs (dictionary v(N+1), tombstones v(N+1), source
    * segments re-keyed as `v + maxV(dest) + 1`) and the manifest commits
    * LAST — a replay after a mid-merge crash regenerates identical state.
    * A replay after the commit is a detected no-op: the source's docIds now
    * sit inside the destination's span, and if every live source doc is
    * already live in the destination the verb returns the current manifest
    * (a partial overlap — a genuine id-space collision — fails loudly with
    * no side effects). */
  def merge(spark: SparkSession, indexDir: String, otherDir: String,
      broadcastVocabMax: Long = IndexConfig().broadcastVocabMax): IndexManifest = {
    import spark.implicits._
    val old = Manifest.read(s"$indexDir/manifest.json")
    val src = Manifest.read(s"$otherDir/manifest.json")
    requireMergeable(src, old)

    // physical span check (tombstoned rows included — they stay in blocks
    // until compaction, so they too must sit beyond the destination's span)
    val srcStats = readDocstats(spark, otherDir, src)
    val sAgg = srcStats.agg(coalesce(min(col("docId")), lit(Long.MaxValue)),
      count(lit(1))).head()
    val (minPhys, nPhys) = (sAgg.getLong(0), sAgg.getLong(1))
    if (nPhys == 0L) return old // physically empty source: nothing to fold
    if (minPhys <= old.maxDocId) {
      // committed replay vs genuine id-space collision: a replay's live
      // source docs are ALL already live here (bounded by the source size)
      val srcLive = srcStats.select("docId")
        .join(readTombstones(spark, otherDir, src), Seq("docId"), "left_anti")
      val destLive = readDocstats(spark, indexDir, old).select("docId")
        .join(readTombstones(spark, indexDir, old), Seq("docId"), "left_anti")
      val fullyContained = srcLive.join(destLive, Seq("docId"), "left_anti").isEmpty
      require(fullyContained,
        s"merge source docIds must lie beyond the destination's maxDocId=${old.maxDocId}, " +
          s"got min=$minPhys — id-space collision (shard the docId space before building, " +
          "like append batches; no side effects were taken)")
      return old // committed-merge replay: no-op
    }

    // dictionary v(N+1): df/cf summed from the two LIVE dictionaries,
    // source-only terms appended after vocabSize, through the one [[fold]].
    // Its placement is split on the SAME bound that governs the remap
    // broadcast below: a source vocabulary ≤ broadcastVocabMax collects
    // ONCE (the bound under which the remap ships to every executor
    // anyway) and folds on the driver; beyond it nothing
    // corpus-vocabulary-sized may reach the driver. v(N+1) is written
    // UNCONDITIONALLY (mode overwrite, like append/delete): the path is
    // shared across verb types, so a _SUCCESS left by a DIFFERENT crashed
    // verb (an uncommitted delete) must not be trusted
    val smallSrc = src.vocabSize <= broadcastVocabMax
    val srcDict = readDict(spark, otherDir, src.dictVersion)
    val srcEntries = if (smallSrc) srcDict.as[TermEntry].collect() else Array.empty[TermEntry]
    val folded = fold(spark, indexDir, Some(old), if (smallSrc) Left(srcEntries.map(e => (e.term, e.df, e.cf)))
      else Right(srcDict.withColumnRenamed("termId", "srcTermId")), old.postingsBuckets)
    // srcTermId → merged termId from the fold's entries, covering the WHOLE
    // source vocabulary (df-0 rows included — dead terms still sit in
    // uncompacted blocks): driver-derived on the driver placement, so its
    // broadcast to the segment rewrites costs no scan job; else
    // materialized once, before the write releases the fold's caches
    val remap = folded.entries match {
      case Left(entries) =>
        val newId = entries.iterator.map(e => e.term -> e.termId).toMap
        broadcast(srcEntries.map(e => (e.termId, newId(e.term))).toSeq.toDF("srcTermId", "newTermId"))
      case Right(rows) =>
        rows.select(col("srcTermId"), col("termId").as("newTermId")).localCheckpoint(true)
    }
    folded.write()

    // source segments, re-keyed into the destination: lo clamped to the
    // destination's span end (truthful — no source doc is below minPhys >
    // maxDocId), version bumped past every existing segment so names never
    // collide; segments wholly below the span end are provably empty and
    // dropped. Postings travel ENCODED — only the termId column changes —
    // through one remap join (broadcast map-side under the vocab ceiling)
    // and one re-cluster exchange into the destination's bucket layout.
    val maxVA = old.segments.map(_.v).foldLeft(-1)(math.max)
    val kept = src.segments.filter(_.hi > old.maxDocId + 1)
    val newSegs = kept.map(s => Segment(math.max(s.lo, old.maxDocId + 1), s.hi, s.v + maxVA + 1))
    kept.zip(newSegs).foreach { case (s, ns) =>
      val srcSeg = segmentDir(otherDir, s)
      val dstSeg = segmentDir(indexDir, ns)
      val blocks = readTable[PostingBlock](spark, Seq(s"$srcSeg/postings"))
      writePostings(blocks.join(remap, blocks("termId") === remap("srcTermId"))
        .select(col("newTermId").as("termId"), col("blockId"), col("firstDocId"),
          col("nDocs"), col("docIdGaps"), col("tfs"), col("positions"),
          col("maxTf"), col("minDocLen"), col("meta")),
        old.postingsBuckets, s"$dstSeg/postings")
      // docstats carry no termIds: a pure (server-side) file copy
      Store.delete(s"$dstSeg/docstats")
      Store.copy(s"$srcSeg/docstats", s"$dstSeg/docstats")
    }

    // source tombstones union into the destination's table (a partially
    // deleted source merges with its deletes intact)
    val newTombVersion =
      if (src.tombVersion < 0) old.tombVersion
      else {
        writeNextTombstones(readTombstones(spark, indexDir, old)
          .unionByName(readTombstones(spark, otherDir, src)), indexDir, old)
        old.tombVersion + 1
      }

    Lineage.append(spark, indexDir,
      LineageRow(old.nChunks, "merge", src.nDocs, System.currentTimeMillis(), "committed"))
    val manifest = old.copy(nDocs = old.nDocs + src.nDocs,
      totalLen = old.totalLen + src.totalLen,
      vocabSize = folded.vocabSize,
      skippedCorrupt = old.skippedCorrupt + src.skippedCorrupt,
      maxDocId = math.max(old.maxDocId, src.maxDocId),
      maxDocLen = math.max(old.maxDocLen, src.maxDocLen),
      dictVersion = old.dictVersion + 1, tombVersion = newTombVersion,
      segments = old.segments ++ newSegs,
      snapshotId = old.snapshotId + 1, operation = "merge")
    Manifest.commit(indexDir, manifest)
    manifest
  }
}

/** Per-stage lineage rows (FIXTURES.md §5), appended to ONE JSON-lines log
  * (`lineage.jsonl`, one [[Store]]-codec line per row). The previous
  * layout — one `coalesce(1)` parquet file per stage event — ran a Spark
  * job per commit and accumulated thousands of tiny files on a long-lived
  * streaming index; a driver-side line append is O(1) files forever and
  * costs no job at all. A torn final line from a crash mid-append is
  * skipped on load (lineage is informational — the transactional commit
  * marker is each stage's parquet `_SUCCESS`). */
object Lineage {
  private def logPath(indexDir: String) = s"$indexDir/lineage.jsonl"

  def append(spark: SparkSession, indexDir: String, row: LineageRow): Unit =
    Store.appendLine(logPath(indexDir), Store.encode(row))

  def load(spark: SparkSession, indexDir: String): Dataset[LineageRow] = {
    import spark.implicits._
    val p = logPath(indexDir)
    val lines = if (Store.exists(p)) Store.readString(p).split('\n').toSeq else Seq.empty
    spark.createDataset(lines.flatMap(l => scala.util.Try(Store.decode[LineageRow](l)).toOption))
  }
}

/** Manifest I/O through [[Store]]'s control-file codec: the manifest's
  * fields in declaration order, except `segments`, which stays the compact
  * `lo_hi_v,…` string ([[Segment.encode]]) on disk. */
object Manifest {
  private val TooOld = "index format too old for this engine version; rebuild the index"

  def write(path: String, m: IndexManifest): Unit =
    Store.writeJson(path, Store.tree[ObjectNode](m).put("segments", Segment.encode(m.segments)))

  def read(path: String): IndexManifest =
    Store.readJson[IndexManifest](path, TooOld, edit = t =>
      if (t.has("segments"))
        t.set[ObjectNode]("segments",
          Store.tree[JsonNode](Segment.decode(t.get("segments").asText))))

  def snapshotDir(indexDir: String): String = s"$indexDir/snapshots"
  def snapshotPath(indexDir: String, snapshotId: Int): String =
    f"${snapshotDir(indexDir)}/v$snapshotId%05d.json"

  /** THE commit primitive every verb routes through: archive the immutable
    * snapshot manifest FIRST, then flip the live pointer. A crash between
    * the two writes leaves the live pointer on the previous snapshot; the
    * replayed verb re-derives the SAME snapshotId from that untouched base
    * and overwrites the orphaned snapshot file — overwrite-idempotent,
    * like every other commit in the engine. */
  def commit(indexDir: String, m: IndexManifest): IndexManifest = {
    write(snapshotPath(indexDir, m.snapshotId), m)
    write(s"$indexDir/manifest.json", m)
    m
  }

  /** The manifest as of snapshot `snapshotId` — fails actionably when the
    * snapshot has been expired by vacuum retention (or never committed). */
  def readAt(indexDir: String, snapshotId: Int): IndexManifest = {
    val p = snapshotPath(indexDir, snapshotId)
    if (!Store.exists(p)) {
      val have = history(indexDir).map(_.snapshotId)
      sys.error(s"snapshot $snapshotId not found at $p — expired by vacuum " +
        s"retention or never committed; retained snapshots: [${have.mkString(", ")}]")
    }
    read(p)
  }

  /** All retained snapshots, ascending by snapshotId (commit order; ids
    * are %05d-padded but grow past five digits, so the sort keys off the
    * parsed manifest). Unparseable snapshot files are skipped, not fatal:
    * committed snapshots are immutable, so a torn file can only be the one
    * a crashed [[commit]] was writing when it died — the replayed verb
    * overwrites it, and [[IndexBuilder.vacuum]] collects it as garbage (it
    * is never in the retained set); dying on it here would wedge vacuum,
    * loadAt's error path and history itself until someone hand-deleted
    * the file. */
  def history(indexDir: String): Seq[IndexManifest] =
    Store.list(snapshotDir(indexDir))
      .flatMap(n => scala.util.Try(read(s"${snapshotDir(indexDir)}/$n")).toOption)
      .sortBy(_.snapshotId)
}
