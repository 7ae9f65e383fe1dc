package graft

import graft.index._
import graft.query.IndexReader
import graft.queries.IndexCache
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** E7 negative coverage: the validator must FLAG broken indexes, not just
  * pass clean ones. Builds a clean index, then derives tampered copies and
  * asserts the specific violation classes surface. Also pins the validator's
  * scale shape: its plan contains no driver-side collect of docstats or the
  * dictionary (both are joined/cogrouped distributively). */
class ValidatorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def freshCopy(src: String, dst: String, postings: org.apache.spark.sql.DataFrame,
      dropTermId: Option[Int] = None): Unit = {
    IndexCache.deleteRecursively(dst)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    val m = Manifest.read(s"$src/manifest.json")
    // single consolidated segment in the copy
    val seg = Segment(0L, m.maxDocId + 1, 0)
    Manifest.write(s"$dst/manifest.json", m.copy(segments = Seq(seg)))
    val dict = spark.read.parquet(IndexBuilder.dictDirFor(src, m.dictVersion))
    dropTermId.fold(dict)(t => dict.filter(col("termId") =!= t))
      .write.mode("overwrite").parquet(IndexBuilder.dictDirFor(dst, m.dictVersion))
    IndexBuilder.readDocstats(spark, src, m)
      .write.mode("overwrite").parquet(s"${IndexBuilder.segmentDir(dst, seg)}/docstats")
    postings.write.mode("overwrite").parquet(s"${IndexBuilder.segmentDir(dst, seg)}/postings")
  }

  test("clean index validates empty; tampered maxTf and missing dict term are flagged") {
    val h = IndexCache.handle(spark, sfDir)
    assert(IndexValidator.validate(h).collect().isEmpty, "clean index reported violations")
    val src = h.dir

    // tamper 1: understate maxTf on termId 0's blocks → both the
    // maxTf==max(tfs) check and (potentially) the dominance check fire
    val tampered = h.postings.toDF().withColumn("maxTf",
      when(col("termId") === 0, greatest(col("maxTf") - 1, lit(0))).otherwise(col("maxTf")))
    val dir1 = "/tmp/graft_validator_tampered"
    freshCopy(src, dir1, tampered)
    val errs1 = IndexValidator.validate(IndexReader.load(spark, dir1)).collect()
    assert(errs1.nonEmpty, "tampered maxTf not flagged")
    assert(errs1.exists(_.contains("maxTf")), s"wrong violation class: ${errs1.take(3).mkString("; ")}")

    // tamper 2: drop termId 0 from the dictionary → orphan postings flagged
    val dir2 = "/tmp/graft_validator_nodict"
    freshCopy(src, dir2, h.postings.toDF(), dropTermId = Some(0))
    val errs2 = IndexValidator.validate(IndexReader.load(spark, dir2)).collect()
    assert(errs2.exists(_.contains("not in dictionary")),
      s"orphan postings not flagged: ${errs2.take(3).mkString("; ")}")
  }

  test("validator plan is distributed: cogroup by bucket, no corpus-sized driver state") {
    val h = IndexCache.handle(spark, sfDir)
    val plan = IndexValidator.validate(h).queryExecution.executedPlan.toString
    assert(plan.contains("CoGroup"), s"expected a CoGroup operator:\n${plan.take(1500)}")
  }
}
