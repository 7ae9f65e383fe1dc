package graft

import graft.pipeline.Dedup
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Incremental dedup: the persisted LSH band index must make batch probes
  * equivalent to the in-memory self-join (recall parity), reusable across
  * batches without re-signing the corpus, and the probe plan must read the
  * INDEX parquet — never the corpus documents. */
class LshIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val idxDir = "/tmp/graft_lsh_index_spec"

  private lazy val corpus = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .localCheckpoint(true)
  }

  private def batchOf(mod: Int, base: Long) = corpus
    .filter(col("doc_id") % mod === 0)
    .select((col("doc_id") + lit(base)).as("doc_id"),
      concat(lit("copy "), col("text")).as("text"))

  test("probe against the persisted index == in-memory LSH over the union (cross pairs)") {
    graft.queries.IndexCache.deleteRecursively(idxDir)
    Dedup.writeLshIndex(Dedup.signaturesOf(corpus), idxDir)
    val batch = batchOf(7, 1000000L)
    val probed = Dedup.probeLshIndex(spark, idxDir, Dedup.signaturesOf(batch))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: self-join candidates over corpus ∪ batch, cross side only
    val whole = Dedup.lshCandidates(Dedup.signaturesOf(corpus.unionByName(batch)))
      .filter(col("doc_a") < 1000000L && col("doc_b") >= 1000000L)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet // (batch, corpus)
    assert(probed.nonEmpty, "planted copies must collide")
    assert(probed == whole,
      s"probe != self-join: onlyProbe=${(probed -- whole).take(5)} onlySelf=${(whole -- probed).take(5)}")
    // every planted copy must find its source (near-identical docs collide
    // on at least one band with overwhelming probability; exact fixture)
    val sources = probed.map { case (b, _) => b - 1000000L }
    val planted = corpus.filter(col("doc_id") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sources == planted.intersect(sources) && (planted -- sources).isEmpty,
      s"copies missing their sources: ${(planted -- sources).take(5)}")
  }

  test("index is reusable across batches without re-signing the corpus") {
    val _ = corpus
    // second, different batch probed against the SAME on-disk index
    val batch2 = batchOf(11, 2000000L)
    val probed2 = Dedup.probeLshIndex(spark, idxDir, Dedup.signaturesOf(batch2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect2 = corpus.filter(col("doc_id") % 11 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(probed2.map(_._1 - 2000000L).intersect(expect2) == expect2,
      "second batch's copies must match against the persisted index")
  }

  test("probe plan reads the index parquet, not the corpus") {
    val batch = batchOf(7, 1000000L)
    val plan = Dedup.probeLshIndex(spark, idxDir, Dedup.signaturesOf(batch))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_lsh_index_spec"), "probe must scan the persisted index")
    assert(!plan.contains("documents.parquet") ||
      // the batch side legitimately derives from documents; the CORPUS side
      // must not appear as a second signatures computation — no flatMap over
      // a second documents scan beyond the batch's one
      plan.split("documents.parquet").length <= 2,
      "probe re-scanned the corpus documents")
  }
}
