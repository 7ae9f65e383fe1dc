package graft

import graft.query.{Intersect, QuerySpec, Wand}
import graft.queries.IndexCache
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Boolean retrieval: the galloping k-way intersection kernel must equal
  * naive set intersection on randomized sorted lists, and the AND, AND-NOT
  * and OR match sets of [[Wand.matching]] must equal a brute-force
  * recomputation over the corpus for seeded queries (incl. OOV handling)
  * in both placements of its pass: the driver (the default
  * `spark.sql.autoBroadcastJoinThreshold`) and the cogroup (-1). */
class IntersectSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** `f` at the session's threshold and at -1, each tagged by its value. */
  private def inBothPlacements[T](f: => T): Seq[(String, T)] = {
    val default = spark.conf.get(Threshold)
    Seq(default, "-1").map { v =>
      spark.conf.set(Threshold, v)
      try v -> f finally spark.conf.set(Threshold, default)
    }
  }

  /** The fixture's most and least frequent terms: a `+head +tail` query
    * drives the match set's gallop from the rare list into the head's. */
  private def headTail(h: graft.query.IndexHandle): (String, String) = {
    val byDf = h.dictMap.values.toSeq.sortBy(_.termId) // termIds rank df desc
    (byDf.head.term, byDf.last.term)
  }

  test("gallop == naive set intersection on 200 random k-way cases") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 200) {
      val k = 1 + rnd.nextInt(4)
      val lists = Array.fill(k) {
        Array.fill(rnd.nextInt(60))(rnd.nextInt(120).toLong).distinct.sorted
      }
      val want = lists.map(_.toSet).reduce(_ intersect _).toSeq.sorted
      val got = Intersect.gallop(lists).toSeq
      assert(got == want, s"k=$k lists=${lists.map(_.mkString(",")).mkString(" | ")}")
    }
    assert(Intersect.gallop(Array.empty).isEmpty)
    assert(Intersect.gallop(Array(Array(1L, 2L), Array.empty[Long])).isEmpty)
  }

  test("booleanAnd == brute-force corpus intersection; OOV term empties the query") {
    import spark.implicits._
    val h = IndexCache.handle(spark, sfDir)
    val vocab = h.dictMap.keys.toArray.sorted
    val rnd = new scala.util.Random(23)
    val (head, tail) = headTail(h)
    val queries = (1 to 20).map { i =>
      QuerySpec(i, Seq.fill(2 + rnd.nextInt(3))(vocab(rnd.nextInt(math.min(vocab.length, 50)))))
    } ++ Seq(QuerySpec(99, Seq("the", "zzzoov")), QuerySpec(97, Seq(head, tail)))
    // brute force from the raw text
    val tok = graft.tokenize.Tokenizers.default
    val docTerms = graft.corpus.Pages.cleaned(graft.corpus.Pages.withInjections(spark, sfDir))
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect().map { case (id, t) => id -> tok.terms(t).toSet }
    val want = queries.flatMap { q =>
      docTerms.collect {
        case (id, ts) if q.terms.forall(ts.contains) => (q.queryId, id)
      }
    }.toSet
    assert(want.exists(_._1 == 97), "the +head +tail fixture query must match a doc")
    val all = queries.map(q => q.copy(constraints = Wand.Constraints(q.terms)))
    inBothPlacements(Wand.matching(h, all)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet).foreach { case (threshold, got) =>
      assert(got == want,
        s"threshold $threshold: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      assert(!got.exists(_._1 == 99), "OOV conjunction must be empty")
    }
  }

  test("booleanAndNot == brute force; OOV negative no-op, OOV positive empties") {
    import spark.implicits._
    val h = IndexCache.handle(spark, sfDir)
    val vocab = h.dictMap.keys.toArray.sorted
    val rnd = new scala.util.Random(41)
    val (head, tail) = headTail(h)
    val queries = (1 to 20).map { i =>
      val pos = Seq.fill(1 + rnd.nextInt(2))(vocab(rnd.nextInt(math.min(vocab.length, 50))))
      val neg = Seq.fill(rnd.nextInt(3))(vocab(rnd.nextInt(math.min(vocab.length, 80))))
      (i, pos, neg)
    } ++ Seq(
      (98, Seq("the"), Seq("zzzoov")),  // OOV negative — must not exclude anything
      (99, Seq("zzzoov"), Seq("the")), // OOV positive — empty
      (97, Seq(head, tail), Seq.empty[String]))
    def andNot(qs: Seq[(Int, Seq[String], Seq[String])]) =
      Wand.matching(h, qs.map { case (qid, pos, neg) =>
        QuerySpec(qid, pos, constraints = Wand.Constraints(pos, neg)) })
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val tok = graft.tokenize.Tokenizers.default
    val docTerms = graft.corpus.Pages.cleaned(graft.corpus.Pages.withInjections(spark, sfDir))
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect().map { case (id, t) => id -> tok.terms(t).toSet }
    val want = queries.flatMap { case (qid, pos, neg) =>
      docTerms.collect {
        case (id, ts) if pos.forall(ts.contains) && !neg.exists(ts.contains) => (qid, id)
      }
    }.toSet
    assert(want.exists(_._1 == 97), "the +head +tail fixture query must match a doc")
    inBothPlacements((andNot(queries), andNot(Seq((98, Seq("the"), Seq.empty[String])))))
      .foreach { case (threshold, (got, noNegHits)) =>
        assert(got == want,
          s"threshold $threshold: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
        assert(!got.exists(_._1 == 99), "OOV positive must empty the query")
        val noNeg = noNegHits.map(_._2)
        assert(got.collect { case (98, d) => d } == noNeg, "OOV negative must be a no-op")
      }
  }

  test("booleanOr == brute-force corpus union; OOV terms ignored, all-OOV empty") {
    import spark.implicits._
    val h = IndexCache.handle(spark, sfDir)
    val vocab = h.dictMap.keys.toArray.sorted
    val rnd = new scala.util.Random(29)
    val queries = (1 to 20).map { i =>
      QuerySpec(i, Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(math.min(vocab.length, 50)))))
    } ++ Seq(QuerySpec(98, Seq("the", "zzzoov")), QuerySpec(99, Seq("zzzoov")))
    val tok = graft.tokenize.Tokenizers.default
    val docTerms = graft.corpus.Pages.cleaned(graft.corpus.Pages.withInjections(spark, sfDir))
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect().map { case (id, t) => id -> tok.terms(t).toSet }
    val want = queries.flatMap { q =>
      docTerms.collect {
        case (id, ts) if q.terms.exists(ts.contains) => (q.queryId, id)
      }
    }.toSet
    inBothPlacements(Wand.matching(h, queries)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet).foreach { case (threshold, got) =>
      assert(got == want,
        s"threshold $threshold: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      assert(!got.exists(_._1 == 99), "all-OOV disjunction must be empty")
      assert(got.exists(_._1 == 98), "OOV term in a disjunction must be ignored, not empty the query")
    }
  }
}
