package graft

import graft.JobLog.jobs
import graft.index.PhraseVocab
import graft.tokenize.Tokenizers
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The three vocabulary trainers share one iteration core: a step costs a
  * fixed number of Spark jobs (one for BPE and WordPiece, two for Unigram),
  * the final rewrite is materialized by one more job, and the release
  * handle frees every RDD the call persisted. */
class TrainerLoopSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def corpusDocs: Dataset[(Long, Array[String])] = {
    import spark.implicits._
    val tok = Tokenizers.default
    spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, t) => (id, tok.terms(t)) }
  }

  /** (trainer, steps asked for, expected jobs, the call: steps taken and
    * release handle). Every call stops at its step limit on this corpus. */
  private val trainers: Seq[(String, Int, Int, Dataset[(Long, Array[String])] => (Int, () => Unit))] = Seq(
    ("bpe", 5, 5 + 1, d => { val (m, _, rel) = PhraseVocab.train(d, 5); (m.size, rel) }),
    ("wordpiece", 5, 5 + 1, d => { val (m, _, rel) = PhraseVocab.trainWordPiece(d, 5); (m.size, rel) }),
    ("unigram", 3, 2 * 3 + 1, d => { val (s, _, rel) = PhraseVocab.trainUnigram(d, 3, 100); (s.size, rel) })
  )

  test("each trainer: pinned Spark jobs per call; release() frees every RDD the call persisted") {
    val sc = spark.sparkContext
    val docs = corpusDocs
    trainers.foreach { case (name, steps, wantJobs, call) =>
      val before = sc.getPersistentRDDs.keySet
      val ((taken, release), n) = jobs(call(docs))
      assert(taken == steps, s"[$name] stopped after $taken of $steps steps")
      assert(n == wantJobs, s"[$name] $n Spark jobs for $steps steps, want $wantJobs")
      assert((sc.getPersistentRDDs.keySet -- before).nonEmpty, s"[$name] nothing persisted")
      release()
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"[$name] RDDs ${leaked.toSeq.sorted} still persisted after release()")
    }
  }
}
