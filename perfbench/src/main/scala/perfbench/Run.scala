package perfbench

import scala.collection.mutable

import graft.codec.VByte
import graft.corpus.Pages
import graft.index.{IndexBuilder, IndexConfig, IndexManifest, IndexValidator, PerfbenchDict,
  PhraseVocab, Store}
import graft.query.{IndexHandle, IndexReader, OracleScorer, QueryParser, QuerySpec, Search, Wand}
import graft.tokenize.Tokenizers
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus size of one workload. Every run goes through every phase a fixed
  * number of times, so every end-to-end metric is measured on every
  * workload, and the samples do not depend on how fast the engine is. */
final case class Workload(name: String, pages: Int, medianLen: Int)

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("bulk_build", pages = 9000, medianLen = 90),
    Workload("serp_read", pages = 6000, medianLen = 60))

  def named(n: String): Option[Workload] = all.find(_.name == n)
}

/** The ingest phase's timings, the answers of its final query batch, and
  * its manifests (after the last append, after the delete, after
  * maintain). */
final case class Ingest(dir: String, appendS: Double, maintainS: Double, freshS: Double,
    fresh: Map[Int, Array[(Double, Long)]], appended: IndexManifest, deleted: IndexManifest,
    manifest: IndexManifest)

/** One measured value: the median of the run's samples, its quartiles and
  * the sample count. */
final case class Metric(value: Double, unit: String, n: Int, p25: Double, p75: Double)

object Metric {
  def of(samples: Seq[Double], unit: String): Metric = {
    val s = samples.sorted
    Metric(quantile(s, 0.5), unit, s.length, quantile(s, 0.25), quantile(s, 0.75))
  }
  def one(v: Double, unit: String): Metric = Metric(v, unit, 1, v, v)

  /** Linear interpolation between order statistics of a sorted sample. */
  private def quantile(sorted: Seq[Double], q: Double): Double = {
    val pos = q * (sorted.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }
}

/** One run of a workload: set-up, the measured phases (or, traced, the
  * per-layer calls), then the answer checks. */
final class Run(spark: SparkSession, wl: Workload, seed: Long, work: String) {
  import Run._
  import spark.implicits._

  val cfg = IndexConfig(postingsBuckets = 8, bucketRange = 2048L)
  private val analyzer = Tokenizers(cfg.tokenizer)
  private val facetKey = regexp_extract(col("url"), "^https?://([^/]+)", 1)
  private val slots = spark.sparkContext.defaultParallelism

  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val notes = mutable.LinkedHashMap.empty[String, String]

  /** Count one operation; an exception counts as a failure and ends the run. */
  private def op[T](what: String)(f: => T): T = {
    attempted += 1
    try f
    catch {
      case t: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $t")
        throw t
    }
  }

  /** Count one answer check; a mismatch counts as a failure and the run goes
    * on, so that one result reports every mismatch. */
  private def check(what: String)(ok: => Boolean, detail: => String = ""): Unit = {
    attempted += 1
    val good = try ok catch { case t: Throwable => System.err.println(s"[perfbench] $what: $t"); false }
    if (!good) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what $detail")
    }
  }

  private val started = System.currentTimeMillis()
  private def log(msg: String): Unit =
    System.err.println(s"[perfbench] +${System.currentTimeMillis() - started} ms $msg")

  private def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private var tracer: Option[Tracer] = None
  private def sp[T](name: String, request: Int = -1)(f: => T): T = tracer match {
    case Some(t) => t.span(name, request)(f)
    case None => f
  }
  private def note(key: String, v: Double): Unit = tracer.foreach(_.note(key, v))

  // ------------------------------------------------------------ set-up

  private val corpus = new Corpus(seed, wl.medianLen)
  private val total = wl.pages.toLong + AppendBatches.toLong * AppendPages
  private val queries = new Queries(corpus, wl.pages, seed)
  private val wandBatch: Seq[QuerySpec] = queries.wandBatch(512)
  private val serpBatch: Seq[(Int, String)] = queries.serpBatch(SerpRequests)
  private val ingestBatch: Seq[QuerySpec] = wandBatch.take(16)
  private val deleted: Seq[Long] = queries.deletions((total / 100).toInt, total - 1)
  private def pagesDir(part: String) = s"$work/pages/$part"
  private def basePages: DataFrame = spark.read.parquet(pagesDir("part=base"))
  private def batchPages(b: Int): DataFrame = spark.read.parquet(pagesDir(s"part=batch_$b"))
  private var bpeDocs: Seq[(Long, Array[String])] = Nil
  private var bpeSample: Dataset[(Long, Array[String])] = _

  /** Generate the corpus to parquet, self-check the generator and prepare
    * the trainer's sample. */
  def setup(): Unit = {
    val sample = Corpus.digest(corpus, 0, 100)
    check("generator: one seed gives one digest")(Corpus.digest(new Corpus(seed, wl.medianLen), 0, 100) == sample)
    check("generator: another seed gives another digest")(Corpus.digest(new Corpus(seed + 1, wl.medianLen), 0, 100) != sample)
    log("generator checked")
    notes("sample_digest") = sample
    // one job writes the base pages and every append batch, each to its own
    // directory (read back without the partition column: the exact schema)
    val part = (0 until AppendBatches).foldLeft(when(col("doc_id") < wl.pages, lit("base"))) {
      (w, b) => w.when(col("doc_id") < batchRange(b)._2, lit(s"batch_$b"))
    }
    op("generate pages")(corpus.pages(spark, 0, total, slots).withColumn("part", part)
      .write.mode("overwrite").partitionBy("part").parquet(s"$work/pages"))
    log("pages written")
    // the first pages' live text, through the index's analyzer
    bpeDocs = (0L until BpeDocs).map(d => (d, analyzer.terms(corpus.rows(d).next().text)))
    bpeSample = spark.createDataset(bpeDocs)
    log("trainer sample ready")
  }

  // ------------------------------------------------------------ phases

  private val builtDir = s"$work/idx/build"

  private def buildIndex(): (IndexManifest, Double) =
    secs(op("buildFrom")(sp("index.build")(IndexBuilder.buildFrom(spark, basePages, builtDir, cfg))))

  private def train(): (Seq[graft.index.MergeStep], Double) = secs {
    op("PhraseVocab.train")(sp("index.phrasevocab") {
      val (merges, _, release) = PhraseVocab.train(bpeSample, BpeMerges)
      release()
      merges
    })
  }

  private def open(dir: String): IndexHandle = op("IndexReader.load")(sp("query.open")(IndexReader.load(spark, dir)))

  private def wandOnce(h: IndexHandle, name: String, qs: Seq[QuerySpec]): (Map[Int, Array[(Double, Long)]], Double) =
    secs(op("Wand.topK")(sp(name) {
      if (tracer.isEmpty) Wand.topK(h, qs, 10)
      else {
        val m = Wand.WandMetrics(spark)
        val r = Wand.topK(h, qs, 10, Some(m))
        note("candidates", m.candidates.value.toDouble)
        note("evals", m.evals.value.toDouble)
        r
      }
    }))

  private def serpBatchOnce(h: IndexHandle): (Map[Int, Search.SearchResponse], Double) =
    secs(op("Search.runAll")(sp("query.run_all")(
      Search.runAll(h, serpBatch, 10, Some(facetKey), 5, analyzer))))

  private def singleOnce(h: IndexHandle, i: Int): ((Int, Search.SearchResponse), Double) = {
    val (qid, q) = serpBatch(i)
    val (r, s) = secs(op("Search.run")(sp("query.run", i)(
      Search.run(h, Search.SearchRequest(q, k = 10, facetKey = Some(facetKey), facetTopN = 5), analyzer))))
    ((qid, r), s)
  }

  /** Appends to a copy of the built index, each followed by a query batch; a
    * 1% tombstone delete; a maintain to two segments; the full query batch
    * on the result. */
  private def ingest(): Ingest = {
    val dir = s"$work/idx/ingest"
    Store.copy(builtDir, dir)
    var appendS = 0.0
    var appended: IndexManifest = null
    (0 until AppendBatches).foreach { b =>
      val (m, s) = secs(op("IndexBuilder.append")(sp("index.append", b)(
        IndexBuilder.append(spark, batchPages(b), dir, cfg, batchId = Some(b.toLong)))))
      appendS += s
      appended = m
      wandOnce(open(dir), "ingest.query", ingestBatch)
    }
    val (dm, delS) = secs(op("IndexBuilder.delete")(sp("index.delete")(IndexBuilder.delete(spark, dir, deleted))))
    val (m, mS) = secs(op("IndexBuilder.maintain")(sp("index.maintain")(IndexBuilder.maintain(spark, dir, maxSegments = 2))))
    val (fresh, fS) = wandOnce(open(dir), "ingest.wand", wandBatch)
    Ingest(dir, appendS, delS + mS, fS, fresh, appended, dm, m)
  }

  // ------------------------------------------------------- measured run

  private var built: (IndexManifest, Double) = _
  private var trained: (Seq[graft.index.MergeStep], Double) = _
  private var wand: (Map[Int, Array[(Double, Long)]], Double) = _
  private var batch: (Map[Int, Search.SearchResponse], Double) = _
  private var singles: Seq[((Int, Search.SearchResponse), Double)] = Nil
  /** Traced runs only: the ingest cycle is too long for every measured run. */
  private var ingested: Option[Ingest] = None

  private def phase[T](name: String)(f: => T): T = {
    val (r, s) = secs(f)
    System.err.println(f"[perfbench] phase $name: $s%.1f s")
    r
  }

  /** The build and read phases once, each SERP request once as a single
    * request, in a fixed order; returns the handle on the built index. */
  private def runPhases(): IndexHandle = {
    built = phase("build")(buildIndex())
    trained = phase("bpe")(train())
    val h = open(builtDir)
    wand = phase("wand")(wandOnce(h, "query.wand", wandBatch))
    batch = phase("serp_batch")(serpBatchOnce(h))
    singles = phase("serp_single")(serpBatch.indices.map(i => singleOnce(h, i)))
    h
  }

  /** The measured phases, tracing off; then the end-to-end metrics. */
  def measure(): Unit = {
    runPhases()
    // live heap once the context cleaner has released what the phases left
    System.gc()
    Thread.sleep(500)
    System.gc()
    val rt = Runtime.getRuntime
    metrics("heap_live_mb") = Metric.one((rt.totalMemory() - rt.freeMemory()) / 1048576.0, "MB")
    metrics("build_docs_per_s") = Metric.one(built._1.nDocs / built._2, "docs/s")
    metrics("bpe_train_s") = Metric.one(trained._2, "s")
    metrics("wand_qps") = Metric.one(wandBatch.length / wand._2, "1/s")
    metrics("serp_batch_qps") = Metric.one(serpBatch.length / batch._2, "1/s")
    metrics("serp_p50_ms") = Metric.of(singles.map(_._2 * 1000.0), "ms")
    metrics("index_bytes_per_input_byte") =
      Metric.one(liveIndexBytes(builtDir, built._1).toDouble / corpus.textBytes(0, wl.pages), "B/B")
    phase("checks")(checkAnswers())
  }

  // ------------------------------------------------------------- checks

  private def liveIndexBytes(dir: String, m: IndexManifest): Long =
    m.segments.map(s => Store.sizeOf(IndexBuilder.segmentDir(dir, s))).sum +
      Store.sizeOf(IndexBuilder.dictDirFor(dir, m.dictVersion)) +
      (if (m.tombVersion >= 0) Store.sizeOf(IndexBuilder.tombDirFor(dir, m.tombVersion)) else 0L)

  private def batchRange(b: Int): (Long, Long) = {
    val lo = wl.pages.toLong + b.toLong * AppendPages
    (lo, lo + AppendPages)
  }

  private def validate(what: String, dir: String): Unit = {
    val errs = IndexValidator.validate(IndexReader.load(spark, dir)).limit(5).collect()
    check(s"$what: Validator.validate is clean")(errs.isEmpty, errs.mkString("; "))
  }

  private def checkAnswers(): Unit = {
    val (n, _, corrupt) = corpus.expected(0, wl.pages)
    val (_, _, corruptAll) = corpus.expected(0, total)
    val m = built._1
    check("build: manifest nDocs")(m.nDocs == n, s"${m.nDocs} != $n")
    check("build: manifest skippedCorrupt")(m.skippedCorrupt == corrupt, s"${m.skippedCorrupt} != $corrupt")
    validate("build", builtDir)
    ingested.foreach { g =>
      val liveAfter = total - deleted.length
      check("ingest: manifest nDocs")(g.manifest.nDocs == liveAfter, s"${g.manifest.nDocs} != $liveAfter")
      check("ingest: manifest skippedCorrupt")(g.manifest.skippedCorrupt == corruptAll,
        s"${g.manifest.skippedCorrupt} != $corruptAll")
      check("ingest: maintain reached its segment budget")(g.manifest.segments.length <= 2)
      val gone = deleted.toSet
      check("ingest: no tombstoned doc is returned")(g.fresh.values.forall(_.forall(h => !gone(h._2))))
      validate("ingest", g.dir)
    }

    // a fixed sample of ranked queries against the brute-force scorer,
    // collecting only the sample's terms
    val sample = wandBatch.take(8)
    val terms = sample.flatMap(_.terms).distinct
    val h = IndexReader.load(spark, builtDir)
    val td = IndexBuilder.termDocs(Pages.cleaned(basePages).select(col("doc_id"), col("text")), analyzer)
      .filter(col("term").isin(terms: _*))
    val oracle = OracleScorer.build(td, h.lookupTerms(terms), h.manifest.nDocs, h.manifest.avgdl)
    sample.foreach { q =>
      val got = wand._1.getOrElse(q.queryId, Array.empty[(Double, Long)]).toSeq
      check(s"wand: query ${q.queryId} equals the oracle")(oracle.topK(q.terms, 10).toSeq == got)
    }

    singles.foreach { case ((qid, solo), _) =>
      val b = batch._1(qid)
      check(s"serp: runAll equals run for request $qid")(
        b.hits.toSeq == solo.hits.toSeq && b.total == solo.total && b.facets == solo.facets &&
          b.nextCursor == solo.nextCursor)
    }

    val local = PhraseVocab.trainLocal(bpeDocs.map(_._2), BpeMerges)
    check("bpe: merges equal the single-threaded trainer")(trained._1 == local)
  }

  // -------------------------------------------------------------- traced

  /** One traced pass over every phase, then each layer's public function on
    * its own; writes the span file, reads it back and turns it into the
    * per-layer metrics. */
  def traced(spanFile: String): Unit = {
    val tr = new Tracer(spark)
    spark.sparkContext.addSparkListener(tr)
    tracer = Some(tr)
    val h = runPhases()
    ingested = Some(phase("ingest")(ingest()))
    staged()
    tracer = None
    val recorded = tr.finish()
    spark.sparkContext.removeSparkListener(tr)
    Tracer.write(spanFile, recorded)
    val spans = Tracer.read(spanFile)
    check("trace: the span file reads back")(spans == recorded)
    layerMetrics(spans, traceOverhead(h))
    checkAnswers()
  }

  /** Tracing cost on the read path (the WAND batch and two requests), run
    * untraced and then traced, both after the traced pass warmed it. */
  private def traceOverhead(h: IndexHandle): Double = {
    def readPath(): Double = secs {
      wandOnce(h, "query.wand", wandBatch)
      (0 until 2).foreach(i => singleOnce(h, i))
    }._2
    val untraced = readPath()
    val tr = new Tracer(spark)
    spark.sparkContext.addSparkListener(tr)
    tracer = Some(tr)
    val traced = readPath()
    tracer = None
    tr.finish()
    spark.sparkContext.removeSparkListener(tr)
    traced / untraced - 1.0
  }

  /** Each build layer's public function on its own, then the query layers
    * the batch and single-request paths run internally. */
  private def staged(): Unit = {
    val (_, stale, corrupt) = corpus.expected(0, wl.pages)
    val cleaned = sp("corpus.clean") {
      val c = Pages.cleaned(basePages).select(col("doc_id"), col("url"), col("text")).persist()
      note("rows_in", (wl.pages + stale + corrupt).toDouble)
      val out = c.count()
      note("rows_out", out.toDouble)
      check("clean: stale duplicates and corrupt rows removed")(out == wl.pages, s"$out != ${wl.pages}")
      c
    }
    val td = IndexBuilder.termDocs(cleaned, analyzer)
    sp("index.tokenize") {
      val r = td.agg(count(lit(1)), coalesce(sum(col("tf")), lit(0L))).head()
      note("termdocs", r.getLong(0).toDouble)
      note("tokens", r.getLong(1).toDouble)
    }
    // the dictionary stage as buildFrom runs it under broadcastVocabMax:
    // term stats collected and ranked on the driver, clustered write
    val dict = sp("index.dict") {
      val stats = td.groupBy("term").agg(count(lit(1)).as("df"), sum(col("tf")).as("cf")).persist()
      val vocab = stats.count()
      check("dict: the vocabulary is ranked on the driver")(vocab <= cfg.broadcastVocabMax,
        s"$vocab > ${cfg.broadcastVocabMax}")
      val collected = stats.as[(String, Long, Long)].collect()
      stats.unpersist()
      val entries = PerfbenchDict.rankOnDriver(collected)
      PerfbenchDict.writeClustered(entries.toSeq.toDF("termId", "term", "df", "cf"),
        cfg.postingsBuckets, vocab, s"$work/idx/staged_dict")
      note("vocab_terms", vocab.toDouble)
      entries.iterator.map(e => e.term -> e).toMap
    }
    sp("index.postings") {
      val r = IndexBuilder.postingBlocks(td, dict, cfg)
        .agg(count(lit(1)), coalesce(sum(col("nDocs")), lit(0L))).head()
      note("blocks", r.getLong(0).toDouble)
      note("postings", r.getLong(1).toDouble)
    }
    cleaned.unpersist()

    val h = IndexReader.load(spark, builtDir)
    val blocks = h.postings.filter(col("termId") % 50 === 0).collect()
    sp("codec") {
      val docIdBytes = blocks.map(_.docIdGaps.length.toLong).sum
      val posBytes = blocks.map(_.positions.length.toLong).sum
      val bytes = docIdBytes + posBytes + blocks.map(_.tfs.length.toLong).sum
      var positions = 0L
      val (_, s) = secs((1 to CodecPasses).foreach { _ =>
        blocks.foreach { b =>
          VByte.decodeDocIds(b.docIdGaps)
          val tfs = VByte.decodeInts(b.tfs)
          VByte.decodePositions(b.positions, tfs)
          positions += tfs.sum
        }
      })
      note("bits_per_docid", 8.0 * docIdBytes / blocks.map(_.nDocs.toLong).sum)
      note("bits_per_position", 8.0 * posBytes / (positions / CodecPasses))
      note("decode_mb_per_s", bytes * CodecPasses / 1e6 / s)
    }

    val parsed = serpBatch.map { case (qid, s) => QueryParser.parse(qid, s, analyzer) }
    sp("query.parse") {
      val (_, s) = secs((1 to ParsePasses).foreach(_ =>
        serpBatch.foreach { case (qid, q) => QueryParser.parse(qid, q, analyzer) }))
      note("us_per_query", s * 1e6 / (ParsePasses * serpBatch.length))
    }
    sp("query.expand") {
      val pre = h.expandPrefixes(parsed.flatMap(_.wildcards.map(_.prefix)).distinct, Search.MaxExpansions)
      val fz = h.expandFuzzy(parsed.flatMap(_.fuzzies.map(_.term)).distinct, Search.MaxExpansions)
      note("expanded_terms", (pre.values.map(_.size).sum + fz.values.map(_.size).sum).toDouble)
    }
    sp("query.lookup")(h.lookupTerms(wandBatch.flatMap(_.terms).distinct))
    sp("query.count")(Search.count(h, parsed))
    sp("query.facets")(Search.facets(h, parsed, facetKey, 5))
  }

  private def layerMetrics(spans: Seq[Span], overhead: Double): Unit = {
    def of(name: String) = spans.filter(_.name == name)
    def sum(name: String)(f: Span => Double): Double = of(name).map(f).sum
    def put(key: String, v: Double, unit: String): Unit = metrics(key) = Metric.one(v, unit)
    def wall(name: String) = sum(name)(Tracer.selfMs(_, spans))
    def noted(name: String, k: String) = sum(name)(_.notes.getOrElse(k, 0.0))
    def waitMs(name: String) = sum(name)(s => s.wallMs * slots - s.busyMs)

    put("corpus.clean.wall_ms", wall("corpus.clean"), "ms")
    put("corpus.clean.rows_in", noted("corpus.clean", "rows_in"), "count")
    put("corpus.clean.rows_out", noted("corpus.clean", "rows_out"), "count")
    put("corpus.clean.shuffle_write_bytes", sum("corpus.clean")(_.shuffleWriteBytes), "B")
    put("index.tokenize.wall_ms", wall("index.tokenize"), "ms")
    put("index.tokenize.busy_ms", sum("index.tokenize")(_.busyMs), "ms")
    put("index.tokenize.tokens", noted("index.tokenize", "tokens"), "count")
    put("index.tokenize.termdocs", noted("index.tokenize", "termdocs"), "count")
    put("index.dict.wall_ms", wall("index.dict"), "ms")
    put("index.dict.jobs", sum("index.dict")(_.jobs), "count")
    put("index.dict.vocab_terms", noted("index.dict", "vocab_terms"), "count")
    put("index.dict.shuffle_write_bytes", sum("index.dict")(_.shuffleWriteBytes), "B")
    put("index.postings.wall_ms", wall("index.postings"), "ms")
    put("index.postings.busy_ms", sum("index.postings")(_.busyMs), "ms")
    put("index.postings.wait_ms", waitMs("index.postings"), "ms")
    put("index.postings.postings", noted("index.postings", "postings"), "count")
    put("index.postings.blocks", noted("index.postings", "blocks"), "count")
    put("index.postings.shuffle_write_bytes", sum("index.postings")(_.shuffleWriteBytes), "B")
    put("index.postings.spill_bytes", sum("index.postings")(_.spillBytes), "B")
    put("index.build.wall_ms", wall("index.build"), "ms")
    put("index.build.jobs", sum("index.build")(_.jobs), "count")
    put("index.build.output_bytes", sum("index.build")(_.outputBytes), "B")
    put("index.build.residual_ms", wall("index.build") -
      Seq("corpus.clean", "index.tokenize", "index.dict", "index.postings").map(wall).sum, "ms")
    put("codec.bits_per_docid", noted("codec", "bits_per_docid"), "bit")
    put("codec.bits_per_position", noted("codec", "bits_per_position"), "bit")
    put("codec.decode_mb_per_s", noted("codec", "decode_mb_per_s"), "MB/s")
    put("index.phrasevocab.wall_ms_per_merge", wall("index.phrasevocab") / BpeMerges, "ms")
    put("index.phrasevocab.jobs_per_merge", sum("index.phrasevocab")(_.jobs) / BpeMerges, "count")
    put("index.phrasevocab.records_per_merge", sum("index.phrasevocab")(_.records) / BpeMerges, "count")
    put("query.open.wall_ms", wall("query.open") / of("query.open").length, "ms")
    put("query.parse.us_per_query", noted("query.parse", "us_per_query"), "us")
    put("query.expand.wall_ms", wall("query.expand"), "ms")
    put("query.expand.jobs", sum("query.expand")(_.jobs), "count")
    put("query.expand.expanded_terms", noted("query.expand", "expanded_terms"), "count")
    put("query.lookup.wall_ms", wall("query.lookup"), "ms")
    put("query.lookup.jobs", sum("query.lookup")(_.jobs), "count")
    put("query.wand.wall_ms", wall("query.wand"), "ms")
    put("query.wand.jobs", sum("query.wand")(_.jobs), "count")
    put("query.wand.busy_ms", sum("query.wand")(_.busyMs), "ms")
    put("query.wand.wait_ms", waitMs("query.wand"), "ms")
    put("query.wand.input_bytes", sum("query.wand")(_.inputBytes), "B")
    put("query.wand.shuffle_write_bytes", sum("query.wand")(_.shuffleWriteBytes), "B")
    val (cands, evals) = (noted("query.wand", "candidates"), noted("query.wand", "evals"))
    put("query.wand.candidates", cands, "count")
    put("query.wand.evals", evals, "count")
    put("query.wand.eval_ratio", evals / cands, "ratio")
    put("query.count.wall_ms", wall("query.count"), "ms")
    put("query.count.jobs", sum("query.count")(_.jobs), "count")
    put("query.facets.wall_ms", wall("query.facets"), "ms")
    put("query.facets.jobs", sum("query.facets")(_.jobs), "count")
    val runs = of("query.run")
    put("query.run.jobs_per_request", runs.map(_.jobs).sum.toDouble / runs.length, "count")
    put("query.run.driver_ms_per_request", runs.map(s => s.wallMs - s.coveredMs).sum / runs.length, "ms")
    val appends = of("index.append")
    val appendInput = (0 until AppendBatches).map { b =>
      val (lo, hi) = batchRange(b)
      corpus.textBytes(lo, hi)
    }.sum
    put("index.append.wall_ms_per_batch", appends.map(_.wallMs).sum / appends.length, "ms")
    put("index.append.jobs_per_batch", appends.map(_.jobs).sum.toDouble / appends.length, "count")
    put("index.append.output_bytes_per_input_byte", appends.map(_.outputBytes).sum.toDouble / appendInput, "B/B")
    val g = ingested.get
    put("index.append.segments", g.appended.segments.length, "count")
    Seq("index.delete", "index.maintain").foreach { v =>
      put(s"$v.wall_ms", wall(v), "ms")
      put(s"$v.jobs", sum(v)(_.jobs), "count")
      put(s"$v.bytes_rewritten", sum(v)(_.outputBytes), "B")
    }
    put("index.delete.segments_after", g.deleted.segments.length, "count")
    put("index.maintain.segments_after", g.manifest.segments.length, "count")
    put("ingest.append_docs_per_s", AppendBatches * AppendPages / g.appendS, "docs/s")
    put("ingest.maintain_s", g.maintainS, "s")
    put("ingest.fresh_wand_qps", wandBatch.length / g.freshS, "1/s")
    put("trace_overhead_frac", overhead, "ratio")
  }
}

object Run {
  /** Append micro-batches per ingest cycle, and pages per batch. */
  val AppendBatches = 2
  val AppendPages = 250
  /** The trainer's sample (the first pages) and its merge count. */
  val BpeDocs = 150
  val BpeMerges = 6
  /** Requests in the SERP batch: one of each DSL shape. */
  val SerpRequests = 7
  /** Traced micro-measurements: decode passes over the codec sample, and
    * parse passes over the SERP batch. */
  val CodecPasses = 5
  val ParsePasses = 2000
}
