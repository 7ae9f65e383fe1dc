package graft

import graft.index.{IndexBuilder, IndexConfig, Manifest}
import graft.query.IndexReader
import org.scalatest.funsuite.AnyFunSuite

/** J3's two dictionary-lookup flavors must be interchangeable: a build
  * forced onto the distributed-join path (broadcastVocabMax = 0 — the
  * 100M-term web-vocabulary shape, where the dictionary is NEVER collected
  * to the driver) produces a bit-identical index to the default
  * broadcast-map build. */
class JoinDictSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def blocksSorted(dir: String) = {
    val h = IndexReader.load(spark, dir)
    h.postings.collect()
      .map(b => (b.termId, b.blockId, b.firstDocId, b.nDocs, b.docIdGaps.toSeq,
        b.tfs.toSeq, b.positions.toSeq, b.maxTf, b.minDocLen, b.meta))
      .sortBy(t => (t._1, t._2))
  }

  test("distributed-join dictionary build == broadcast build, bit-for-bit") {
    val bcast = "/tmp/graft_test_index/joindict_bcast"
    val joined = "/tmp/graft_test_index/joindict_join"
    Seq(bcast, joined).foreach(d => graft.queries.IndexCache.deleteRecursively(d))
    IndexBuilder.build(spark, sfDir, bcast, IndexConfig())
    // threshold 0 forces EVERY vocabulary onto the join path
    IndexBuilder.build(spark, sfDir, joined, IndexConfig(broadcastVocabMax = 0L))
    assert(Manifest.read(s"$bcast/manifest.json") == Manifest.read(s"$joined/manifest.json"),
      "manifests differ between dictionary-lookup flavors")
    val da = IndexReader.load(spark, bcast).dictionary.collect()
      .map(e => (e.termId, e.term, e.df, e.cf)).sortBy(_._1).toSeq
    val db = IndexReader.load(spark, joined).dictionary.collect()
      .map(e => (e.termId, e.term, e.df, e.cf)).sortBy(_._1).toSeq
    assert(da == db, "dictionaries differ")
    val a = blocksSorted(bcast)
    val b = blocksSorted(joined)
    assert(a.length == b.length, s"block counts differ: ${a.length} vs ${b.length}")
    a.zip(b).foreach { case (x, y) => assert(x == y, s"block differs: ${x._1}/${x._2}") }
  }

  test("capped vocabulary stays on the (bounded) broadcast path and matches the capped build") {
    // vocabCap <= broadcastVocabMax → broadcast even when the threshold is
    // tiny: the HEAD is driver-sized by construction
    val capped = "/tmp/graft_test_index/joindict_cap"
    val cappedJ = "/tmp/graft_test_index/joindict_cap_join"
    Seq(capped, cappedJ).foreach(d => graft.queries.IndexCache.deleteRecursively(d))
    IndexBuilder.build(spark, sfDir, capped, IndexConfig(vocabCap = Some(10)))
    IndexBuilder.build(spark, sfDir, cappedJ,
      IndexConfig(vocabCap = Some(10), broadcastVocabMax = 0L))
    // broadcastVocabMax = 0 < cap → join path; results must still match
    val a = blocksSorted(capped)
    val b = blocksSorted(cappedJ)
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y },
      "capped builds differ between lookup flavors")
  }
}
