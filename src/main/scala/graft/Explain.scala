package graft

import graft.corpus.Pages
import graft.index.{IndexBuilder, IndexConfig}
import graft.tokenize.Tokenizers
import org.apache.spark.sql.functions._

/** Dumps formatted physical plans of the core pipeline stages (the
  * `.explain("formatted")` review loop, persisted to PLANS.md). */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Bench.session("8")
    val sfDir = "/root/testdata/sf0.01"

    def section(title: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n## $title\n")
      println("```")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      println("```")
    }

    println("# PLANS — formatted physical plans of the core pipeline")
    println("\n(Generated by `sbt \"runMain graft.Explain\"` on sf0.01.)")

    val cleaned = Pages.cleaned(Pages.withInjections(spark, sfDir))
    section("Cleaning: url-dedup (window top-1 w/ WindowGroupLimit pushdown) + corrupt drop",
      cleaned.select("doc_id", "text"))

    val td = IndexBuilder.termDocs(cleaned, Tokenizers.default)
    section("Tokenize flatMap → TermDoc (column pruning: only doc_id, text read)", td.toDF())

    section("Dictionary aggregation (partial+final hash agg, one exchange)",
      td.groupBy("term").agg(count(lit(1)).as("df"), sum(col("tf")).as("cf")))

    val (ranked, _, release) = IndexBuilder.dictionaryRanked(td, 8)
    val dict = ranked.collect().map(e => e.term -> e).toMap
    release()
    section("Posting-block build (one salted exchange on (termId, bucket) + local sort)",
      IndexBuilder.postingBlocks(td, dict, IndexConfig()).toDF())

    val h = graft.queries.IndexCache.handle(spark, sfDir)
    section("Query-time postings fetch (termId pushdown → pruned row groups)",
      h.postings.filter(col("termId").isin(0, 3, 7)).toDF())

    section("BM25 brute-force DataFrame plan (broadcast stats + window top-k)",
      graft.queries.IndexQueries.queries("q_bm25_brute")(spark, sfDir))

    section("Phrase query (termId-pruned positional decode + (doc_id,start) equi-joins)",
      graft.queries.IndexQueries.queries("q_phrase")(spark, sfDir))

    section("Embedding near-dup (LSH bucket self-join + exact rerank — no cartesian)",
      graft.queries.PipelineQueries.queries("q_cosine_neardup")(spark, sfDir))

    section("Global ranking without a single-partition window (q_w8_ntile two-phase)",
      graft.queries.RelationalQueries.queries("q_w8_ntile")(spark, sfDir))

    section("Decode — lossless inverse (bucket-pruned blockId scan + dictionary join)",
      graft.queries.IndexQueries.queries("q_decode")(spark, sfDir))

    section("Proximity with E6 posSpan block pruning (metadata scan → survivors → one decode)",
      graft.queries.IndexQueries.queries("q_near")(spark, sfDir))

    section("Exact n-gram Jaccard via prefix filtering (no all-pairs join) + candidate-bounded verify",
      graft.queries.PipelineQueries.queries("q_ngram_jaccard")(spark, sfDir))

    section("Docstats bucket lookup (OR-of-docId-ranges pushed into the clustered scan)",
      graft.query.Wand.docstatsForBuckets(h, Array(0L, 2L)).toDF())

    section("Index-native snippets (termId-pushed hits + bucket-pruned context decode)",
      graft.queries.IndexQueries.snippets(spark, sfDir))

    section("Spell correction (deletion-neighborhood broadcast join + levenshtein verify, no UDF)",
      graft.queries.VocabQueries.queries("q_spell")(spark, sfDir))

    section("Dirichlet QL ranking (factored smoothing: matching postings only + broadcast query stats)",
      graft.queries.IndexQueries.queries("q_ql_topk")(spark, sfDir))

    section("PMI co-occurrence (map-side distinct tokenize, min-df semi-join BELOW the pair self-join, broadcast df joins)",
      graft.queries.PipelineQueries.queries("q_pmi_pairs")(spark, sfDir))

    section("Augmentation offset grid (pure codegen: split/slice/explode + native rolling_hash, zero UDFs)",
      graft.queries.PipelineQueries.queries("q_augment")(spark, sfDir))

    section("Substring dedup spans (rolling-hash windows -> partial-agg dup hashes -> content-verified candidates -> per-doc islands)",
      graft.queries.PipelineQueries.queries("q_substring_spans")(spark, sfDir))

    spark.stop()
  }
}
