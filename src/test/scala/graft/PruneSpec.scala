package graft

import graft.index.{IndexBuilder, IndexConfig}
import graft.query.{IndexReader, QuerySpec, Wand}
import graft.queries.IndexCache
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Block-max WAND pruning EVIDENCE. The fixture corpus's ~31-term
  * vocabulary makes every query term a head term, so the driver bench's
  * q/s is a worst-case exhaustive floor (documented in BENCH.md). This
  * spec builds a zipfian-vocabulary corpus — the realistic web shape —
  * and measures, via accumulators, how many candidate postings reach
  * exact evaluation: head∧tail queries must skip the bulk of the head
  * term's postings once the heap threshold rises above the head-only
  * upper bound. Correctness of the same run is asserted against a
  * from-the-definition brute-force scorer. */
class PruneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val nDocs = 3000
  private val docLen = 60
  private val vocab = 2000

  /** Deterministic zipf(s=1.1) token stream. */
  private lazy val docs: Array[Array[String]] = {
    val rnd = new scala.util.Random(7)
    val weights = (1 to vocab).map(r => 1.0 / math.pow(r, 1.1)).toArray
    val cum = weights.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    def draw(): Int = {
      val x = rnd.nextDouble() * total
      val i = java.util.Arrays.binarySearch(cum, x)
      math.min(if (i >= 0) i else -i - 1, vocab - 1)
    }
    Array.fill(nDocs)(Array.fill(docLen)(f"t${draw()}%04d"))
  }

  private lazy val handle = {
    import spark.implicits._
    val dir = "/tmp/graft_prune_spec/index"
    IndexCache.deleteRecursively(dir)
    val pages = docs.zipWithIndex
      .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        concat(lit("zipf://"), col("doc_id")).as("url"),
        timestamp_seconds(lit(graft.corpus.Pages.EpochSeconds)).as("warc_ts"),
        encode(col("text"), "UTF-8").as("html"), col("text"), lit("en").as("lang"))
    // one docId bucket: the pruning signal under test is the DAAT pivot
    // skip within a WAND instance. (Bucketed parallelism trades local
    // threshold strength for scale-out — measured separately below.)
    IndexBuilder.buildFrom(spark, pages, dir, IndexConfig())
    IndexReader.load(spark, dir)
  }

  test("zipf corpus: head-and-tail queries skip most candidate postings; results exact") {
    val dict = handle.dictMap
    val head = dict.values.toSeq.sortBy(-_.df).take(3).map(_.term)
    // tails selective but with df >= k, so the heap FILLS from tail docs
    // and the threshold rises above every head-only upper bound
    val tail = dict.values.toSeq.filter(e => e.df >= 15 && e.df <= 40)
      .sortBy(_.term).take(3).map(_.term)
    assert(head.nonEmpty && tail.size == 3, s"fixture shape: head=$head tail=$tail")
    val queries = Seq(
      QuerySpec(1, Seq(head(0), tail(0))),
      QuerySpec(2, Seq(head(1), tail(1), tail(2))),
      QuerySpec(3, Seq(head(2), tail(0), tail(1))))
    val m = Wand.WandMetrics(spark)
    val res = Wand.topK(handle, queries, 10, Some(m))
    assert(queries.forall(q => res(q.queryId).nonEmpty))

    val frac = m.evals.value.toDouble / m.candidates.value.toDouble
    info(f"candidates=${m.candidates.value} exact-evals=${m.evals.value} fraction=$frac%.4f")
    assert(m.candidates.value > 5000, "head terms must contribute bulk candidates")
    assert(frac < 0.1,
      f"block-max WAND should pivot-skip the head postings once the heap fills from the tail; evaluated $frac%.3f")

    // exactness on the same corpus (seeding active): from-the-definition BM25
    val tf: Map[(Long, String), Int] = docs.zipWithIndex.flatMap { case (ts, i) =>
      ts.groupBy(identity).map { case (t, o) => ((i.toLong, t), o.length) }
    }.toMap
    val df: Map[String, Long] = docs.flatMap(_.distinct).groupBy(identity)
      .map { case (t, o) => t -> o.length.toLong }
    val avgdl = docLen.toDouble
    def idf(t: String) = math.log((nDocs - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
    for (q <- queries) {
      val want = (0L until nDocs.toLong)
        .map { d =>
          val s = q.terms.distinct.map { t =>
            val f = tf.getOrElse((d, t), 0)
            if (f == 0) 0.0
            else idf(t) * (f * 2.2) / (f + 1.2 * (1.0 - 0.75 + 0.75 * docLen / avgdl))
          }.sum
          (s, d)
        }
        .filter(_._1 > 0)
        .sortBy { case (s, d) => (-s, d) }
        .take(10)
      val got = res(q.queryId).toSeq
      assert(got.map(_._2) == want.map(_._2), s"query ${q.queryId} docs differ")
      got.zip(want).foreach { case ((gs, d), (ws, _)) =>
        assert(math.abs(gs - ws) < 1e-9, s"query ${q.queryId} doc $d: $gs vs $ws")
      }
    }
  }

  test("tiered (tfP90) approximate WAND: bound tightening measured, recall bounded") {
    val dict = handle.dictMap
    val head = dict.values.toSeq.sortBy(-_.df).take(3).map(_.term)
    val tail = dict.values.toSeq.filter(e => e.df >= 15 && e.df <= 40)
      .sortBy(_.term).take(3).map(_.term)
    val queries = Seq(
      QuerySpec(1, Seq(head(0), tail(0))),
      QuerySpec(2, Seq(head(1), tail(1), tail(2))),
      QuerySpec(3, Seq(head(2), tail(0), tail(1))))
    val mExact = Wand.WandMetrics(spark)
    val exact = Wand.topK(handle, queries, 10, Some(mExact))
    val mApprox = Wand.WandMetrics(spark)
    val approx = Wand.search(Seq(handle -> 1.0), queries,
      Wand.Ranked(10, boundKey = Some(graft.index.PostingBlock.TfP90Key)), metrics = Some(mApprox))
    info(s"exact evals=${mExact.evals.value} tiered evals=${mApprox.evals.value}")
    // quantile bounds are tighter than maxTf bounds → never more block-max
    // survivals in aggregate on this fixture
    assert(mApprox.evals.value <= mExact.evals.value,
      s"tiered bound evaluated MORE docs (${mApprox.evals.value} vs ${mExact.evals.value})")
    // bounded recall: the p90 bound may only lose the tf-outlier tail
    val recalls = queries.map { q =>
      val want = exact(q.queryId).map(_._2).toSet
      val got = approx(q.queryId).map(_._2).toSet
      (want intersect got).size.toDouble / math.max(1, want.size)
    }
    info(f"per-query recall: ${recalls.map(r => f"$r%.2f").mkString(", ")}")
    assert(recalls.forall(_ >= 0.8), s"tiered recall dropped below 0.8: $recalls")
  }

  test("q_bm25_tiered driver-row configuration: recall >= 0.9 vs exact topK") {
    // the EXACT configuration behind the driver's rows-only q_bm25_tiered:
    // sf corpus index, fixture query set, k=40 headroom, top-10 reported
    val h = graft.queries.IndexCache.handle(spark, "/root/testdata/sf0.001")
    val exact = Wand.topK(h, graft.queries.QuerySet.queries, 40)
    val approx = Wand.search(Seq(h -> 1.0), graft.queries.QuerySet.queries,
      Wand.Ranked(40, boundKey = Some(graft.index.PostingBlock.TfP90Key)))
    val recalls = graft.queries.QuerySet.queries
      .filter(q => exact(q.queryId).nonEmpty)
      .map { q =>
        val want = exact(q.queryId).take(10).map(_._2).toSet
        val got = approx(q.queryId).take(10).map(_._2).toSet
        q.queryId -> (want intersect got).size.toDouble / math.max(1, want.size)
      }
    info(recalls.map { case (q, r) => f"q$q=$r%.2f" }.mkString(", "))
    assert(recalls.forall(_._2 >= 0.9),
      s"tiered driver-row recall below the 0.9 gate: $recalls")
  }

  test("global threshold seeding rescues small-bucket pruning (exactness preserved)") {
    import spark.implicits._
    // 512-doc buckets: WITHOUT seeding these queries measured 92%
    // exact-evals (each bucket's local heap can't see the tail's scores).
    // The seeded theta0 — kth-best exact single-term impact of the rarest
    // term, a provable lower bound on the kth-best full score — prunes the
    // head-only buckets wholesale.
    val dir = "/tmp/graft_prune_spec/bucketed"
    IndexCache.deleteRecursively(dir)
    val pages = docs.zipWithIndex
      .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        concat(lit("zipf://"), col("doc_id")).as("url"),
        timestamp_seconds(lit(graft.corpus.Pages.EpochSeconds)).as("warc_ts"),
        encode(col("text"), "UTF-8").as("html"), col("text"), lit("en").as("lang"))
    IndexBuilder.buildFrom(spark, pages, dir, IndexConfig(bucketRange = 512))
    val h = IndexReader.load(spark, dir)
    val dict = h.dictMap
    val head = dict.values.toSeq.sortBy(-_.df).take(3).map(_.term)
    val tail = dict.values.toSeq.filter(e => e.df >= 15 && e.df <= 40)
      .sortBy(_.term).take(3).map(_.term)
    val queries = Seq(
      QuerySpec(1, Seq(head(0), tail(0))),
      QuerySpec(2, Seq(head(1), tail(1), tail(2))),
      QuerySpec(3, Seq(head(2), tail(0), tail(1))))
    val m = Wand.WandMetrics(spark)
    val res = Wand.topK(h, queries, 10, Some(m))
    val frac = m.evals.value.toDouble / m.candidates.value.toDouble
    info(f"bucketed: candidates=${m.candidates.value} exact-evals=${m.evals.value} fraction=$frac%.4f")
    assert(frac < 0.1,
      f"seeded theta0 should prune head-only buckets; evaluated $frac%.3f (was 0.92 unseeded)")
    // seeded bucketed results == single-bucket results (both exact)
    val whole = Wand.topK(handle, queries, 10)
    for (q <- queries) {
      assert(res(q.queryId).toSeq.map(_._2) == whole(q.queryId).toSeq.map(_._2),
        s"query ${q.queryId}: bucketed vs whole docs differ")
      res(q.queryId).zip(whole(q.queryId)).foreach { case ((sa, d), (sb, _)) =>
        assert(math.abs(sa - sb) < 1e-12, s"query ${q.queryId} doc $d: $sa vs $sb")
      }
    }
  }
}
