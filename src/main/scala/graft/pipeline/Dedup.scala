package graft.pipeline

import graft.functions.RollingHash
import graft.index.Store
import graft.tokenize.Tokenizers
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Per-document shingle-set + MinHash signature (computed in ONE map pass,
  * no shuffle — the scalable shape: signatures are tiny, the shingle sets
  * never leave the task). */
final case class DocSignature(docId: Long, nShingles: Int, sig: Array[Long], simhash: Long)

/** Deduplication operators for training-data pipelines:
  * exact (hash groupBy), MinHash+LSH (shingle→minhash→band→bucket join),
  * SimHash, n-gram Jaccard. Hash functions are integer-arithmetic only so
  * a SQL oracle can replicate them bit-for-bit. */
object Dedup {

  /** MinHash parameters — single source of truth for Scala AND the SQL
    * oracle (the oracle text embeds these constants). */
  final val NumHashes = 16
  final val BandRows = 4
  final val NumBands: Int = NumHashes / BandRows
  final val MersennePrime = 2147483647L // 2^31 - 1

  /** Deterministic (a, b) coefficients, seeded like the reference's fixed
    * test seed (tests/utils_tests.py:37). */
  val coeffs: Array[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Array.fill(NumHashes) {
      val a = 1L + (math.abs(rnd.nextLong()) % (MersennePrime - 1))
      val b = math.abs(rnd.nextLong()) % MersennePrime
      (a, b)
    }
  }

  def minhash(shingleId: Long, hashIdx: Int): Long = {
    val (a, b) = coeffs(hashIdx)
    (a * shingleId + b) % MersennePrime
  }

  /** Shingle id: rolling hash of the space-joined n-gram (same polynomial
    * as the fingerprint expression → SQL-replicable). */
  def shingleId(terms: Array[String], start: Int, n: Int): Long = {
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(terms(start + i))
      i += 1
    }
    RollingHash.hash(sb.toString)
  }

  /** Distinct shingle ids of one document. */
  def docShingles(text: String, n: Int): Array[Long] = {
    val terms = Tokenizers.default.terms(text)
    if (terms.length < n) return Array.empty
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i + n <= terms.length) { set.add(shingleId(terms, i, n)); i += 1 }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
    out
  }

  /** 32-bit SimHash over term rolling-hashes weighted by tf; bit j set iff
    * the signed tf-weighted sum of bit j over all terms is > 0. */
  def simhash32(text: String): Long = {
    val terms = Tokenizers.default.terms(text)
    val sums = new Array[Long](32)
    val tf = new java.util.HashMap[String, Integer]()
    terms.foreach { t =>
      val p = tf.get(t)
      tf.put(t, if (p == null) Integer.valueOf(1) else Integer.valueOf(p.intValue() + 1))
    }
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = RollingHash.hash(e.getKey)
      val w = e.getValue.longValue()
      var j = 0
      while (j < 32) {
        if (((h >> j) & 1L) == 1L) sums(j) += w else sums(j) -= w
        j += 1
      }
    }
    var sh = 0L
    var j = 0
    while (j < 32) { if (sums(j) > 0) sh |= (1L << j); j += 1 }
    sh
  }

  /** One-pass signatures: tokenize → shingle set → 16 minhash minima +
    * simhash, all inside the map task (zero shuffles; signatures are the
    * only thing emitted — the 100 TB-safe shape). */
  def signatures(spark: SparkSession, sfDir: String, n: Int = 3): Dataset[DocSignature] =
    signaturesOf(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("text").isNotNull && length(col("text")) > 0), n)

  /** Same, over an arbitrary (doc_id, text) relation — the entry point for
    * incremental batches (new crawl slices, streamed pages). */
  def signaturesOf(docs: DataFrame, n: Int = 3): Dataset[DocSignature] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val sh = docShingles(text, n)
        val sig = Array.tabulate(NumHashes) { h =>
          var m = Long.MaxValue
          var i = 0
          while (i < sh.length) { val v = minhash(sh(i), h); if (v < m) m = v; i += 1 }
          if (sh.isEmpty) -1L else m
        }
        DocSignature(id, sh.length, sig, simhash32(text))
      }
  }

  /** Exact duplicate groups by md5(text). */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("n") > 1)

  /** 64-bit band-bucket key: an LCG-combine + splitmix-style avalanche over
    * the band's BandRows minhash values. The engine joins/persists THIS
    * 8-byte key, never the concatenated decimal string (~80 bytes/row — at
    * 10¹² docs × 4 bands that string form is tens of TB of pure shuffle and
    * storage overhead on the dedup path). A hash collision merely adds a
    * spurious CANDIDATE pair, which the downstream similarity verification
    * (signature estimator / exact Jaccard) rejects — LSH banding is already
    * a candidate generator, so correctness is untouched; the SQL oracles
    * keep their re-derivable string-keyed join and match on the OUTPUT
    * pairs. */
  def bandKey(sig: Array[Long], band: Int): Long = {
    var h = 1125899906842597L
    var i = band * BandRows
    val end = i + BandRows
    while (i < end) { h = h * 6364136223846793005L + sig(i); i += 1 }
    h ^= h >>> 33; h *= -49064778989728563L; h ^= h >>> 29
    h
  }

  /** LSH candidate pairs: docs sharing any band of BandRows equal minhashes.
    * Self-join on (band, key) — the bucket join; at scale the bucket sizes
    * are bounded by near-dup cluster sizes, not corpus size. */
  /** (doc_id, band, key) band relation of the signatures — the LSH bucket
    * keys (shared by the in-memory self-join and the persisted index);
    * `key` is the 64-bit [[bandKey]] hash. */
  def bandRelation(sigs: Dataset[DocSignature]): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    sigs
      .filter(_.nShingles > 0)
      .flatMap { s =>
        (0 until NumBands).iterator.map(b => (s.docId, b, bandKey(s.sig, b)))
      }
      .toDF("doc_id", "band", "key")
  }

  def lshCandidates(sigs: Dataset[DocSignature]): DataFrame = {
    val bands = bandRelation(sigs)
    val l = bands.as("l")
    val r = bands.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
  }

  /** Persist the corpus's LSH band index — the dedup sibling of the
    * inverted index: signed ONCE, probed per batch. Clustered by
    * (band, key) so a probe's shuffle join co-locates bucket collisions
    * and parquet min/max stats prune non-colliding files. At 100 TB the
    * corpus is never re-signed: each new crawl slice pays one map pass
    * over ITSELF plus a join bounded by colliding buckets. */
  def writeLshIndex(sigs: Dataset[DocSignature], dir: String, buckets: Int = 8): Unit =
    Store.writeTable(bandRelation(sigs)
      .repartition(buckets, col("band"), col("key"))
      .sortWithinPartitions(col("band"), col("key")), dir)

  /** Probe a NEW batch against the persisted index: (batch_doc, corpus_doc)
    * LSH candidates. The corpus side is READ (pruned, clustered), never
    * recomputed; `indexFilter` narrows it (e.g. committed-docs-only /
    * tombstone exclusion in streaming dedup). Feed the result to
    * [[jaccardVerify]] with a shingle relation covering the batch plus the
    * candidate corpus docs. */
  def probeLshIndex(spark: SparkSession, dir: String, batchSigs: Dataset[DocSignature],
      indexFilter: DataFrame => DataFrame = identity): DataFrame =
    probeLshIndexBands(indexFilter(spark.read.parquet(dir)), bandRelation(batchSigs))

  /** Same, over the (read, narrowed) index relation and a prebuilt
    * (possibly already-materialized) band relation. */
  def probeLshIndexBands(idx: DataFrame, batchBands: DataFrame): DataFrame =
    batchBands.as("b")
      .join(idx.as("c"),
        col("b.band") === col("c.band") && col("b.key") === col("c.key"))
      .select(col("b.doc_id").as("batch_doc"), col("c.doc_id").as("corpus_doc"))
      .distinct()

  /** (doc_id, shingle) relation — one row per DISTINCT shingle per doc. */
  def shingles(spark: SparkSession, sfDir: String, n: Int = 3): DataFrame =
    shinglesOf(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("text").isNotNull && length(col("text")) > 0), n)

  /** Same, over an arbitrary (doc_id, text) relation. */
  def shinglesOf(docs: DataFrame, n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) => docShingles(t, n).map(s => (id, s)) }
      .toDF("doc_id", "shingle")
  }

  /** Exact n-gram Jaccard for given candidate pairs (verification step after
    * LSH). Candidate-bounded by construction: the intersection counts come
    * from joining the PAIRS to the shingle relation (pair → a-shingles →
    * matching b-shingles), so the expensive equality join touches only the
    * candidates' shingles — never a corpus-wide shingle self-join — and a
    * globally common shingle costs O(candidates sharing it), not O(corpus²).
    * The per-doc set sizes are likewise computed only for candidate docs
    * (semi-join pruning). Pairs with an empty intersection are dropped
    * (their Jaccard is 0 and below any useful threshold). */
  def jaccardVerify(spark: SparkSession, sfDir: String, pairs0: DataFrame, n: Int = 3,
      shingles0: Option[DataFrame] = None): DataFrame = {
    val sh = shingles0.getOrElse(shingles(spark, sfDir, n))
    // the candidate set is small by contract and consumed three times
    // (doc projection + two join sides) — materialize it ONCE; the
    // checkpoint blocks are GC-reclaimed with the result, unlike persist
    val pairs = pairs0.localCheckpoint(true)
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    // candidate docs' shingles: candidate-bounded, reused by the size
    // aggregate and BOTH intersection join sides — one tokenize pass
    val candSh = sh.join(candDocs, Seq("doc_id"), "left_semi").localCheckpoint(true)
    val sizes = candSh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(candSh.as("a"), col("a.doc_id") === col("doc_a"))
      .join(candSh.as("b"),
        col("b.doc_id") === col("doc_b") && col("b.shingle") === col("a.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 6))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** EXACT Jaccard-threshold candidate enumeration WITHOUT an all-pairs
    * join — prefix filtering (the AllPairs / PPJoin candidate generation;
    * same early-pruning discipline the reference applies before expensive
    * work, midi_tokenizer.py:544-582).
    *
    * Order every doc's shingles by (global frequency asc, shingle asc) —
    * rarest first — and keep only the first `|s| - ⌈t·|s|⌉ + 1` as the
    * doc's PREFIX. Prefix-filtering theorem: if J(A,B) ≥ t then
    * |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and under any common total order two sets
    * with that much overlap must share an element inside both prefixes
    * (all intersection elements ≤ min(max(prefixA), max(prefixB)) lie in
    * both prefixes). So the prefix self-join loses NO qualifying pair —
    * exactness is oracle-checked against the all-pairs SQL — while join
    * fanout is driven by RARE shingles: a shingle of global frequency f
    * appears in at most f prefixes, and frequent shingles fall outside
    * prefixes entirely. Feed the result to [[jaccardVerify]]. */
  def prefixFilterPairs(spark: SparkSession, sfDir: String, threshold: Double, n: Int = 3,
      shingles0: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // three consumers (global frequencies, set sizes, the prefix base) —
    // materialize the shingle relation once instead of re-tokenizing per
    // exchange (the standard materialize-before-multi-consumer-DAG trade);
    // callers verifying afterwards pass the same materialized relation in
    val sh = shingles0.getOrElse(shingles(spark, sfDir, n).localCheckpoint(true))
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("freq"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val w = Window.partitionBy("doc_id").orderBy(col("freq").asc, col("shingle").asc)
    // prefix bound in INTEGER arithmetic: FP ceil(sz * t) can graze an
    // integer from above (e.g. t=0.1, sz=10 → 1.0000000000000002 → ceil 2)
    // and silently shorten the prefix, breaking losslessness. Under-
    // approximate t by num/10^6 (floor), then ceil(sz·num/10^6) exactly as
    // (sz·num + 10^6 − 1) DIV 10^6 — a smaller ceil can only LENGTHEN the
    // prefix, so candidate generation stays provably lossless for ANY
    // Double threshold, not just dyadic rationals.
    val num = math.floor(threshold * 1000000d).toLong
    val prefix = sh
      .join(freq, "shingle")
      .withColumn("rk", row_number().over(w))
      .join(sizes, "doc_id")
      .filter(col("rk") <= col("sz") - expr(s"(sz * ${num}L + 999999) DIV 1000000") + 1)
      .select("doc_id", "shingle")
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }
}
