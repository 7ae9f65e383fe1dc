package graft

import graft.corpus.Pages
import graft.query.{Bm25, IndexHandle, QuerySpec, Wand}
import graft.queries.FieldedIndexCache
import graft.tokenize.Tokenizers
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** BM25F fielded retrieval: the distributed fielded WAND must be EXACT
  * (same docs, bit-identical doubles) against a from-the-definition scorer
  * computed locally over the same title/body field split — including docs
  * that exist in only one field (short docs have no body). */
class Bm25fSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val fields = FieldedIndexCache.get(spark, sfDir)

  /** (docId, terms) for the cleaned fixture corpus, driver-side. */
  private lazy val corpus: Array[(Long, Array[String])] = {
    import spark.implicits._
    val tok = Tokenizers.default
    Pages.cleaned(Pages.withInjections(spark, sfDir))
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect().map { case (id, t) => (id, tok.terms(t)) }
  }

  /** The title/body field split of a corpus (the FieldedIndexCache shape). */
  private def titleBodySplit(corpusIn: Array[(Long, Array[String])]): IndexedSeq[Array[(Long, Array[String])]] =
    IndexedSeq(
      corpusIn.map { case (id, ts) => (id, ts.take(FieldedIndexCache.TitleLen)) },
      corpusIn.map { case (id, ts) => (id, ts.drop(FieldedIndexCache.TitleLen)) }
        .filter(_._2.nonEmpty))

  /** From-the-definition BM25F top-k over ARBITRARY per-field splits,
    * replicating the engine's exact addend order (cursor order =
    * (field, termId) ascending; termIds from each sub-index's dictionary)
    * and its per-field stats. */
  private def brute(fieldsIn: Seq[(IndexHandle, Double)],
      splits: IndexedSeq[Array[(Long, Array[String])]],
      queries: Seq[QuerySpec], k: Int): Map[Int, Seq[(Double, Long)]] = {
    val nF = fieldsIn.length
    val allIds = splits.flatMap(_.map(_._1)).distinct.sorted
    // per field: n, avgdl (exact integer ratio), df, tf, docLen
    val stats = (0 until nF).map { f =>
      val docs = splits(f)
      val n = docs.length.toLong
      val total = docs.iterator.map(_._2.length.toLong).sum
      val avgdl = total.toDouble / n.toDouble
      val df = docs.iterator.flatMap(_._2.distinct).toSeq.groupBy(identity)
        .map { case (t, o) => t -> o.length.toLong }
      val tf = docs.iterator.flatMap { case (id, ts) =>
        ts.groupBy(identity).map { case (t, o) => ((id, t), o.length) }
      }.toMap
      val dl = docs.map { case (id, ts) => id -> ts.length }.toMap
      (n, avgdl, df, tf, dl)
    }
    val dicts = fieldsIn.map(_._1.dictMap)
    queries.map { q =>
      // cursor specs exactly as the engine builds them: (field, termId) asc
      val specs = (for {
        f <- 0 until nF
        t <- q.terms.distinct
        e <- dicts(f).get(t)
      } yield (f, e.termId, t)).sortBy(x => (x._1, x._2))
      val scored = allIds.flatMap { d =>
        var s = 0.0
        var any = false
        specs.foreach { case (f, _, t) =>
          val (n, avgdl, df, tf, dl) = stats(f)
          tf.get((d, t)).foreach { freq =>
            any = true
            s += Bm25.scoreWithIdf(
              fieldsIn(f)._2 * Bm25.idf(n, df(t)), freq, dl(d), avgdl)
          }
        }
        if (any) Some((s, d)) else None
      }
      q.queryId -> scored.sortBy { case (s, d) => (-s, d) }.take(k).toSeq
    }.toMap
  }

  private def assertExact(got: Map[Int, Array[(Double, Long)]],
      want: Map[Int, Seq[(Double, Long)]], queries: Seq[QuerySpec]): Unit =
    for (q <- queries) {
      val (g, w) = (got(q.queryId).toSeq, want(q.queryId))
      assert(g.map(_._2) == w.map(_._2),
        s"query ${q.queryId} (${q.terms}): docs ${g.map(_._2)} vs ${w.map(_._2)}")
      g.zip(w).foreach { case ((gs, d), (ws, _)) =>
        assert(gs == ws, s"query ${q.queryId} doc $d: $gs != $ws (must be bit-identical)")
      }
    }

  test("fielded WAND == from-the-definition BM25F (exact doubles) on fixture + seeded queries") {
    val vocab = fields.flatMap(_._1.dictMap.keys).distinct.sorted
    val rnd = new scala.util.Random(42)
    val random = (100 until 140).map { qid =>
      QuerySpec(qid, Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size))))
    }
    val queries = graft.queries.QuerySet.queries ++ random
    assertExact(Wand.search(fields, queries, Wand.Ranked(10)),
      brute(fields, titleBodySplit(corpus), queries, 10), queries)
  }

  test("docs MISSING a field (no body) score from the present field only — exact") {
    import spark.implicits._
    val tok = Tokenizers.default
    // synthetic corpus with genuinely short docs: 0 and 3 have no body
    val texts = Seq(
      0L -> "quick brown fox",
      1L -> "quick brown fox jumps over the lazy dog while the fox watches quick quick",
      2L -> "some other title words here padding the field then body about fox and dog themes",
      3L -> "lazy dog barks",
      4L -> "eight title tokens exactly fill this first slot body starts here with dog fox dog")
    val pages = texts.toDF("doc_id", "text")
      .select(col("doc_id"), concat(lit("short://"), col("doc_id")).as("url"),
        timestamp_seconds(lit(Pages.EpochSeconds)).as("warc_ts"),
        col("text"), lit("en").as("lang"))
    val pair = FieldedIndexCache.buildPair(spark, pages, "/tmp/graft_bm25f_spec_short")
    assert(pair(0)._1.manifest.nDocs == 5 && pair(1)._1.manifest.nDocs == 3,
      "fixture: 5 titled docs, 3 with bodies")
    val localCorpus = texts.map { case (id, t) => (id, tok.terms(t)) }.toArray
    val queries = Seq(
      QuerySpec(1, Seq("fox")), QuerySpec(2, Seq("dog")),
      QuerySpec(3, Seq("quick", "dog")), QuerySpec(4, Seq("body", "lazy")))
    assertExact(Wand.search(pair, queries, Wand.Ranked(10)),
      brute(pair, titleBodySplit(localCorpus), queries, 10), queries)
  }

  test("tombstone deletes compose with fielded retrieval: delete == rebuilt pair, exact") {
    import spark.implicits._
    val tok = Tokenizers.default
    val texts = (0L until 40L).map { id =>
      val body = (0 until (id % 13).toInt).map(j => s"w${(id + j) % 7}").mkString(" ")
      id -> s"title t${id % 5} about fox dog e${id % 3} filler pad $body".trim
    }
    def pages(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select(col("doc_id"), concat(lit("del://"), col("doc_id")).as("url"),
        timestamp_seconds(lit(Pages.EpochSeconds)).as("warc_ts"),
        col("text"), lit("en").as("lang"))
    val pair = FieldedIndexCache.buildPair(spark, pages(texts), "/tmp/graft_bm25f_spec_del")
    // delete every 4th doc from BOTH sub-indexes through the public fielded
    // verb (the derived-table contract: one logical delete, every field)
    val dead = texts.map(_._1).filter(_ % 4 == 1)
    graft.index.FieldedIndex.delete(spark, "/tmp/graft_bm25f_spec_del", dead)
    // reload through the PUBLIC fielded API: weights come from fielded.json
    val deletedPair = graft.index.FieldedIndex.load(spark, "/tmp/graft_bm25f_spec_del")
    assert(deletedPair.map(_._2) == Seq(FieldedIndexCache.TitleWeight, FieldedIndexCache.BodyWeight),
      "fielded manifest must round-trip the field weights")
    // the ground truth: a pair rebuilt from the corpus minus the deleted docs
    val survivors = texts.filterNot { case (id, _) => dead.contains(id) }
    val rebuilt = FieldedIndexCache.buildPair(spark, pages(survivors), "/tmp/graft_bm25f_spec_del_reb")
    val queries = Seq(
      QuerySpec(1, Seq("fox")), QuerySpec(2, Seq("dog", "w1")),
      QuerySpec(3, Seq("t2", "e1")), QuerySpec(4, Seq("filler", "w3", "t0")))
    val got = Wand.search(deletedPair, queries, Wand.Ranked(10))
    val want = Wand.search(rebuilt, queries, Wand.Ranked(10))
    for (q <- queries) {
      val (g, w) = (got(q.queryId).toSeq, want(q.queryId).toSeq)
      assert(g.map(_._2) == w.map(_._2),
        s"query ${q.queryId}: docs ${g.map(_._2)} vs ${w.map(_._2)}")
      g.zip(w).foreach { case ((gs, d), (ws, _)) =>
        // deleted pair keeps ORIGINAL termIds, rebuilt pair re-ranks them —
        // cursor (addend) order can differ, so allow summation-order ulps;
        // the assertExact below pins bit-equality against the same-order brute
        assert(math.abs(gs - ws) < 1e-12,
          s"query ${q.queryId} doc $d: $gs != $ws (live stats must be exact)")
      }
      assert(!g.exists(r => dead.contains(r._2)), "a tombstoned doc surfaced in fielded results")
    }
    // brute check on the deleted pair too (its stats path, not just parity):
    // survivor-corpus stats + the DELETED pair's dictionaries, so cursor
    // (addend) order matches `got` and bit-equality is assertable
    val localCorpus = survivors.map { case (id, t) => (id, tok.terms(t)) }.toArray
    assertExact(got, brute(deletedPair, titleBodySplit(localCorpus), queries, 10), queries)
  }

  test("THREE fields (title/abstract/body): the driver is field-count generic — exact") {
    import spark.implicits._
    val tok = Tokenizers.default
    // field split: tokens [0,4) / [4,8) / [8,∞); docs 0 and 3 lack a body,
    // doc 3 also lacks an abstract tail beyond one token
    val texts = Seq(
      0L -> "alpha beta gamma delta eps zeta eta theta",
      1L -> "alpha beta one two three four five six seven eight nine ten alpha",
      2L -> "gamma two mid words fill here body starts now and runs long alpha beta",
      3L -> "solo title words here plus",
      4L -> "beta gamma other stuff pad pad pad pad tail tail tail beta")
    def fieldPages(lo: Int, hi: Int) = texts.map { case (id, t) =>
      val ts = tok.terms(t)
      (id, ts.slice(lo, math.min(hi, ts.length)).mkString(" "))
    }.filter(_._2.nonEmpty).toDF("doc_id", "text")
      .select(col("doc_id"), concat(lit("f3://"), col("doc_id")).as("url"),
        timestamp_seconds(lit(Pages.EpochSeconds)).as("warc_ts"),
        col("text"), lit("en").as("lang"))
    val base = "/tmp/graft_bm25f_spec_3f"
    graft.queries.IndexCache.deleteRecursively(base)
    val ranges = Seq((0, 4), (4, 8), (8, Int.MaxValue))
    val weights = Seq(3.0, 2.0, 1.0)
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      graft.index.IndexBuilder.buildFrom(spark, fieldPages(lo, hi), s"$base/f$i",
        graft.index.IndexConfig())
    }
    val fields3 = (0 until 3).map(i =>
      graft.query.IndexReader.load(spark, s"$base/f$i") -> weights(i))
    val splits = ranges.map { case (lo, hi) =>
      texts.map { case (id, t) =>
        (id, tok.terms(t).slice(lo, math.min(hi, tok.terms(t).length)))
      }.filter(_._2.nonEmpty).toArray
    }.toIndexedSeq
    val queries = Seq(
      QuerySpec(1, Seq("alpha")), QuerySpec(2, Seq("beta", "gamma")),
      QuerySpec(3, Seq("tail", "words")), QuerySpec(4, Seq("alpha", "two", "tail")))
    assertExact(Wand.search(fields3, queries, Wand.Ranked(10)),
      brute(fields3, splits, queries, 10), queries)
  }

  test("public FieldedIndex API: per-field vocabCap caps ONLY that field; " +
    "load round-trips names, weights, and order") {
    import spark.implicits._
    import graft.index.{FieldSpec, FieldedIndex, IndexConfig}
    val base = "/tmp/graft_bm25f_spec_api"
    graft.index.Store.delete(base)
    val pages = (0L until 20L).map { id =>
      (id, s"head$id common title words",
        (0 until 30).map(j => s"b${(id + j) % 9}").mkString(" "))
    }.toDF("doc_id", "title_text", "body_text")
      .select(col("doc_id"), concat(lit("api://"), col("doc_id")).as("url"),
        timestamp_seconds(lit(Pages.EpochSeconds)).as("warc_ts"),
        col("title_text"), col("body_text"), lit("en").as("lang"))
    FieldedIndex.build(spark, pages, base, Seq(
      FieldSpec("title", 3.0, "title_text"),
      FieldSpec("body", 1.0, "body_text", IndexConfig(vocabCap = Some(4)))))
    val loaded = FieldedIndex.load(spark, base)
    assert(loaded.map(_._2) == Seq(3.0, 1.0), "weights must round-trip")
    val (titleH, bodyH) = (loaded(0)._1, loaded(1)._1)
    // the capped field's postings carry ONLY its head terms; the uncapped
    // field is untouched (per-field configs are independent)
    val bodyTerms = bodyH.postings.collect().map(_.termId).distinct.sorted
    assert(bodyTerms.nonEmpty && bodyTerms.forall(_ < 4),
      s"body postings outside the vocabCap head: ${bodyTerms.toSeq}")
    assert(titleH.postings.collect().map(_.termId).distinct.length.toLong
      == titleH.manifest.vocabSize, "uncapped title field lost terms")
    // and the loaded pair is queryable end-to-end
    val res = Wand.search(loaded, Seq(QuerySpec(1, Seq("common"))), Wand.Ranked(5))(1)
    assert(res.nonEmpty, "fielded query over the API-built pair returned nothing")

    // re-build over the committed dir: identical spec = idempotent no-op;
    // a CHANGED spec must fail loudly (buildFrom's idempotent skip would
    // silently keep the old sub-indexes while the manifest claimed the new
    // spec was applied)
    FieldedIndex.build(spark, pages, base, Seq(
      FieldSpec("title", 3.0, "title_text"),
      FieldSpec("body", 1.0, "body_text", IndexConfig(vocabCap = Some(4)))))
    assert(FieldedIndex.load(spark, base).map(_._2) == Seq(3.0, 1.0))
    val eW = intercept[IllegalArgumentException] {
      FieldedIndex.build(spark, pages, base, Seq(
        FieldSpec("title", 5.0, "title_text"),
        FieldSpec("body", 1.0, "body_text", IndexConfig(vocabCap = Some(4)))))
    }
    assert(eW.getMessage.contains("different field spec"), eW.getMessage)
    val eCfg = intercept[IllegalArgumentException] {
      FieldedIndex.build(spark, pages, base, Seq(
        FieldSpec("title", 3.0, "title_text"),
        FieldSpec("body", 1.0, "body_text", IndexConfig(vocabCap = Some(7)))))
    }
    assert(eCfg.getMessage.contains("different field spec"), eCfg.getMessage)
  }

  test("fielded APPEND: incremental ingest through the public verb == pair over the " +
    "union corpus, exact; committed-batch replay no-op; drifted spec refused") {
    import graft.index.{FieldSpec, FieldedIndex}
    val dir = "/tmp/graft_bm25f_spec_append"
    graft.index.Store.delete(dir)
    val cleaned = Pages.cleaned(Pages.withInjections(spark, sfDir))
    FieldedIndex.build(spark,
      FieldedIndexCache.fieldedPages(spark, cleaned.filter(col("doc_id") < 250)),
      dir, FieldedIndexCache.fieldSpecs)
    val delta = FieldedIndexCache.fieldedPages(spark, cleaned.filter(col("doc_id") >= 250))
    FieldedIndex.append(spark, delta, dir, FieldedIndexCache.fieldSpecs, batchId = Some(1L))
    val appended = FieldedIndex.load(spark, dir)
    val queries = graft.queries.QuerySet.queries
    assertExact(Wand.search(appended, queries, Wand.Ranked(10)),
      brute(appended, titleBodySplit(corpus), queries, 10), queries)

    // committed-batch replay: every sub-index cursor already advanced
    val nBefore = appended.map(_._1.manifest.nDocs)
    FieldedIndex.append(spark, delta, dir, FieldedIndexCache.fieldSpecs, batchId = Some(1L))
    assert(FieldedIndex.load(spark, dir).map(_._1.manifest.nDocs) == nBefore,
      "replayed fielded append grew a sub-index")

    // a drifted spec (weight change) must be refused before any side effect
    val e = intercept[IllegalArgumentException] {
      FieldedIndex.append(spark, delta, dir, Seq(
        FieldSpec("title", 9.0, "title_text"),
        FieldSpec("body", FieldedIndexCache.BodyWeight, "body_text")), batchId = Some(2L))
    }
    assert(e.getMessage.contains("spec"), e.getMessage)
  }

  test("fielded MERGE: two independently built pairs fold per field; BM25F over the " +
    "merged pair is exact on the union corpus; mismatched field specs refused") {
    import spark.implicits._
    import graft.index.{FieldSpec, FieldedIndex}
    val root = "/tmp/graft_bm25f_spec_merge"
    graft.index.Store.delete(root)
    val cleaned = Pages.cleaned(Pages.withInjections(spark, sfDir))
    FieldedIndexCache.buildPair(spark, cleaned.filter(col("doc_id") < 250), s"$root/low")
    FieldedIndexCache.buildPair(spark, cleaned.filter(col("doc_id") >= 250), s"$root/high")
    FieldedIndex.merge(spark, s"$root/low", s"$root/high")
    val merged = FieldedIndex.load(spark, s"$root/low")
    assert(merged.map(_._2) ==
      Seq(FieldedIndexCache.TitleWeight, FieldedIndexCache.BodyWeight),
      "fielded spec must be merge-invariant")
    val queries = graft.queries.QuerySet.queries
    assertExact(Wand.search(merged, queries, Wand.Ranked(10)),
      brute(merged, titleBodySplit(corpus), queries, 10), queries)

    // a pair with a DIFFERENT committed spec (weights) must be refused
    val other = (500L until 505L).map(id => (id, s"t$id title words here",
      s"body content $id repeated terms"))
      .toDF("doc_id", "title_text", "body_text")
      .select(col("doc_id"), concat(lit("m://"), col("doc_id")).as("url"),
        timestamp_seconds(lit(Pages.EpochSeconds)).as("warc_ts"),
        col("title_text"), col("body_text"), lit("en").as("lang"))
    val otherDir = s"$root/otherspec"
    FieldedIndex.build(spark, other, otherDir, Seq(
      FieldSpec("title", 5.0, "title_text"), FieldSpec("body", 1.0, "body_text")))
    val e = intercept[IllegalArgumentException](
      FieldedIndex.merge(spark, s"$root/low", otherDir))
    assert(e.getMessage.contains("identical field spec"), e.getMessage)
  }

  test("fielded build: three fields never have more jobs in flight than a one-field build") {
    import spark.implicits._
    import graft.index.{FieldSpec, FieldedIndex}
    val pages = (0L until 200L).map { id =>
      (id, s"head$id title words", s"abstract ${id % 7} text",
        (0 until 30).map(j => s"b${(id + j) % 11}").mkString(" "))
    }.toDF("doc_id", "title_text", "abstract_text", "body_text")
      .select(col("doc_id"), concat(lit("jobs://"), col("doc_id")).as("url"),
        timestamp_seconds(lit(Pages.EpochSeconds)).as("warc_ts"),
        col("title_text"), col("abstract_text"), col("body_text"), lit("en").as("lang"))
    val specs = Seq(FieldSpec("title", 3.0, "title_text"),
      FieldSpec("abstract", 2.0, "abstract_text"), FieldSpec("body", 1.0, "body_text"))
    def inFlight(dir: String, fs: Seq[FieldSpec]): Int = {
      graft.index.Store.delete(dir)
      try JobLog.record(FieldedIndex.build(spark, pages, dir, fs))._2.maxInFlight
      finally graft.index.Store.delete(dir)
    }
    // each field's own build overlaps some of its jobs; the reference is
    // the most any one field's build ran at once
    val one = specs.map(f => inFlight(s"/tmp/graft_bm25f_spec_jobs_${f.name}", Seq(f))).max
    val three = inFlight("/tmp/graft_bm25f_spec_jobs_all", specs)
    assert(three <= one, s"the 3-field build ran $three jobs at once, a 1-field build at most $one")
  }

  test("fixture shape: both fields populated, per-field vocabularies differ, weights asymmetric") {
    assert(fields(0)._2 > fields(1)._2, "title must outweigh body")
    assert(fields(0)._1.manifest.nDocs > 0 && fields(1)._1.manifest.nDocs > 0,
      "both sub-indexes must be non-empty")
    // per-field vocabularies genuinely differ (multi-vocabulary, not a copy)
    assert(fields(0)._1.manifest.vocabSize != fields(1)._1.manifest.vocabSize)
  }
}
