package graft

import graft.corpus.Pages
import graft.index._
import graft.query._
import graft.tokenize.Tokenizers
import org.apache.spark.sql.functions.{col, lpad}
import org.scalatest.funsuite.AnyFunSuite

/** [[Wand.SortBy]] over a tombstoned index: the match set ordered by a
  * doc-value key must skip deleted docs (their docLen = -1 sentinels) in
  * the bucket-local cut, so the answer equals the ground truth over the
  * LIVE docs — computed from the tokenizer, independent of the index. */
class SortBySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val analyzer = Tokenizers.default

  // bare, required, excluded, msm, url-filtered and zero-match shapes
  private val fixtures = Seq(
    1 -> "merge join",
    2 -> "+key merge slow",
    3 -> "merge join -batch",
    4 -> "batch stream url:2/1",
    5 -> "merge join fast msm:2",
    6 -> "zzzoov")
  private lazy val parsed = fixtures.map { case (qid, s) => QueryParser.parse(qid, s, analyzer) }

  /** (docId, term) -> term frequency, from the tokenizer. */
  private lazy val tfs: Map[(Long, String), Int] = {
    import spark.implicits._
    Pages.cleaned(Pages.withInjections(spark, sfDir))
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect()
      .flatMap { case (id, tx) => analyzer.tokenize(tx).map { case (t, _) => (id, t) } }
      .groupBy(identity).map { case (dt, occ) => dt -> occ.length }
  }
  private lazy val docLens: Map[Long, Int] =
    tfs.toSeq.groupBy(_._1._1).map { case (d, vs) => d -> vs.map(_._2).sum }

  private def has(d: Long, t: String): Boolean = tfs.contains((d, t))

  /** Count-mode admission: ≥ 1 scoring term plus every constraint. */
  private def matches(d: Long, q: ParsedQuery): Boolean = {
    val scoring = q.scoring.map(_._1).distinct
    scoring.exists(has(d, _)) &&
      q.required.forall(has(d, _)) &&
      !q.excluded.exists(has(d, _)) &&
      (q.minShouldMatch == 0 || scoring.count(has(d, _)) >= q.minShouldMatch) &&
      q.filters.forall(f => s"https://example.org/42/$d".contains(f.value) != f.negated)
  }

  private val desc = Ordering.Tuple2(Ordering.String.reverse, Ordering.Long)

  /** Top-k (key, docId) by (key desc, docId asc) over `docs`. */
  private def want(docs: Iterable[Long], q: ParsedQuery, key: Long => String,
      k: Int): Seq[(String, Long)] =
    docs.toSeq.filter(matches(_, q)).map(d => (key(d), d)).sorted(desc).take(k)

  private val byLen: Long => String = d => f"${docLens(d)}%010d"
  // few distinct values: ties cross every bucket and break by docId
  private val byMod: Long => String = d => f"${d % 7}%02d"
  private val keys = Seq(
    "docLen" -> (lpad(col("docLen").cast("string"), 10, "0"), byLen),
    "docId % 7" -> (lpad((col("docId") % 7).cast("string"), 2, "0"), byMod))

  /** Each query's top-3 docs under each key are deleted, so every live
    * answer differs from the answer over all docs. */
  private lazy val deleted: Set[Long] =
    (for (q <- parsed; (_, (_, key)) <- keys; (_, d) <- want(docLens.keys, q, key, 3)) yield d).toSet

  private lazy val handle = {
    val dir = "/tmp/graft_test_index/sortby_del"
    graft.queries.IndexCache.deleteRecursively(dir)
    IndexBuilder.build(spark, sfDir, dir,
      IndexConfig(blockSize = 16, bucketRange = 64, nChunks = 3, postingsBuckets = 4))
    IndexBuilder.delete(spark, dir, deleted.toSeq.sorted)
    IndexReader.load(spark, dir)
  }

  test("sort-by over a tombstoned index == the live-docs ground truth") {
    val live = docLens.keySet -- deleted
    keys.foreach { case (name, (keyCol, key)) =>
      val got = Search.search(handle, parsed, Wand.SortBy(keyCol, 10))
      parsed.foreach { q =>
        val w = want(live, q, key, 10)
        assert(got(q.queryId) == w, s"[$name] q=${q.queryId}: got ${got(q.queryId)} want $w")
        got(q.queryId).foreach { case (_, d) =>
          assert(!deleted(d), s"[$name] q=${q.queryId}: tombstoned doc $d surfaced")
        }
      }
      // the deletes are discriminating: the all-docs answers differ
      assert(parsed.exists(q => want(docLens.keys, q, key, 10) != got(q.queryId)), name)
      // and the fixture is not vacuous: a live answer is full
      assert(got(1).length == 10, s"[$name] q=1 returned ${got(1).length}")
    }
    assert(Search.search(handle, parsed, Wand.SortBy(keys.head._2._1, 10))(6).isEmpty)
  }

  test("sort-by rejects k <= 0 instead of falling into another mode") {
    val q = Seq(QueryParser.parse(1, "merge join", analyzer))
    val key = lpad(col("docLen").cast("string"), 10, "0")
    assertThrows[IllegalArgumentException](Search.search(handle, q, Wand.SortBy(key, 0)))
    assertThrows[IllegalArgumentException](Search.search(handle, q, Wand.SortBy(key, -1)))
    assertThrows[IllegalArgumentException](
      Search.search(handle, QueryParser.parseAll(Seq(1 -> "merge join"), analyzer), Wand.SortBy(key, 0)))
  }
}
