package graft

import graft.corpus.Pages
import graft.index.IndexBuilder
import graft.tokenize.Tokenizers
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the properties ARCHITECTURE.md claims must be
  * visible in `explain` output, or they aren't real. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("index path never reads the html binary column (column pruning)") {
    val cleaned = Pages.cleaned(Pages.withInjections(spark, sfDir))
    val td = IndexBuilder.termDocs(cleaned, Tokenizers.default)
    val plan = planOf(td.toDF())
    val readSchemas = "ReadSchema: [^\\n]+".r.findAllIn(plan).toList
    assert(readSchemas.nonEmpty, plan.take(800))
    readSchemas.foreach { rs =>
      assert(!rs.contains("html"), s"html column read on the index path: $rs")
      assert(!rs.contains("n_chars") && !rs.contains("source"),
        s"unneeded columns read: $rs")
    }
  }

  test("lang predicate is pushed down to the parquet scan") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("lang").isin("en", "de"))
      .select("doc_id", "lang")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters") && plan.contains("In(lang"), plan.take(1200))
  }

  test("dictionary lookup join is a broadcast hash join, not a shuffle join") {
    import spark.implicits._
    val tokens = Seq((1L, "spark"), (2L, "join")).toDF("doc_id", "term")
    val dict = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("lang").as("term")).distinct()
      .withColumn("term_id", lit(1))
    val joined = tokens.join(broadcast(dict), Seq("term"))
    val plan = planOf(joined)
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
  }

  test("dictionary aggregation is partial+final (map-side combine)") {
    val cleaned = Pages.cleaned(Pages.withInjections(spark, sfDir))
    val td = IndexBuilder.termDocs(cleaned, Tokenizers.default)
    val agg = td.groupBy("term").agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
    val plan = planOf(agg)
    // two HashAggregate levels around one Exchange = partial + final
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(1500))
    assert(plan.contains("partial_count"), "no map-side partial aggregation")
    // exactly 2 exchanges in the whole plan: the upstream url-dedup window's
    // hash(url) shuffle + the agg's hash(term) shuffle — nothing else
    assert("Exchange".r.findAllIn(plan).size == 2,
      s"unexpected exchange count:\n${plan.take(1500)}")
  }

  test("no ScalaUDF anywhere in the driver-facing relational plans") {
    for (name <- Seq("q_j1_closest_grid", "q_f7_reproject", "q_x_math")) {
      val plan = planOf(graft.queries.RelationalQueries.queries(name)(spark, sfDir))
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
        s"$name left whole-stage codegen:\n${plan.take(1200)}")
    }
  }

  test("posting-block build plan has exactly one exchange (the salted shuffle)") {
    val cleaned = Pages.cleaned(Pages.withInjections(spark, sfDir))
    val td = IndexBuilder.termDocs(cleaned, Tokenizers.default)
    import spark.implicits._
    val stats = td.groupBy("term").agg(count(lit(1)), sum(col("tf")))
      .as[(String, Long, Long)].collect()
    val dict = IndexBuilder.rankFreshOnDriver(stats, base = 0L).map(e => e.term -> e).toMap
    val blocks = IndexBuilder.postingBlocks(td, dict, graft.index.IndexConfig())
    val plan = planOf(blocks.toDF())
    // one exchange introduced by repartition(termId, bucket); the upstream
    // url-dedup window adds its own — allow at most 2 total
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"too many exchanges ($exchanges):\n${plan.take(2000)}")
    assert(plan.contains("Sort"), "missing within-partition sort")
  }

  test("q_snippets: hit scan is termId-pushed, context decode is bucket-pruned") {
    val plan = planOf(graft.queries.IndexQueries.snippets(spark, sfDir))
    assert(plan.contains("PushedFilters"), plan.take(1500))
    assert("In\\(termId".r.findFirstIn(plan).isDefined,
      s"termId isin not pushed to the postings scan:\n${plan.take(2000)}")
    assert("GreaterThanOrEqual\\(blockId".r.findFirstIn(plan).isDefined,
      s"blockId range not pushed to the context-decode scan:\n${plan.take(2000)}")
  }

  test("q_autocomplete: prefix predicate pushes to the dictionary scan") {
    val plan = planOf(graft.queries.VocabQueries.queries("q_autocomplete")(spark, sfDir))
    assert(plan.contains("StringStartsWith"),
      s"prefix not pushed to the dictionary parquet scan:\n${plan.take(2000)}")
  }

  test("q_pmi_pairs: df joins broadcast, pair counts aggregate map-side") {
    val df = graft.queries.PipelineQueries.queries("q_pmi_pairs")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab-sized df join did not broadcast:\n${plan.take(2000)}")
    assert(plan.contains("partial_count"),
      s"pair aggregation lacks map-side partials:\n${plan.take(2000)}")
  }

  test("percolate: the matching pass is map-only (no join, no aggregate)") {
    import graft.query.{Percolate, QueryParser}
    val docs = Pages.cleaned(Pages.withInjections(spark, sfDir))
    val parsed = graft.queries.QuerySet.percolate.take(4).map { case (qid, s) =>
      QueryParser.parse(qid, s, Tokenizers.default) }
    val plan = planOf(Percolate.matches(docs, parsed, Tokenizers.default))
    assert(!plan.contains("Join"),
      s"percolate must not join — queries ride the closure:\n${plan.take(2000)}")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"percolate must not aggregate:\n${plan.take(2000)}")
    // exchanges: the upstream url-dedup window's hash(url) shuffle + the
    // presentation sort's range partitioning — nothing the matcher adds
    assert("Exchange".r.findAllIn(plan).size <= 2,
      s"percolate added a shuffle beyond cleaning + presentation sort:\n${plan.take(2000)}")
  }
}
