package graft

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig}
import graft.query.{IndexReader, QuerySpec, Wand}
import org.apache.spark.sql.SparkSession

/** Benchmark harness. Headline metrics (per BASELINE.md engine targets):
  *  - index-build docs/sec over a deterministically scaled corpus;
  *  - BM25 block-max-WAND top-10 queries/sec over a seeded query batch;
  * plus per-query wall seconds for every SparkEntry query.
  * Prints ONE JSON line. Knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_BENCH_FACTOR (corpus replication, default 20). */
object Bench {

  def session(cpus: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // optional tmpfs shuffle dir: isolates compute scaling from the single
    // shared disk of this sandbox VM (a real cluster adds disks per node)
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").foreach(d => b.config("spark.local.dir", d))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Root dir for bench indexes (point at /dev/shm to take the disk out). */
  def benchDir: String = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "/tmp/graft_bench")

  /** Query batch size per measurement. */
  def nQueries: Int = sys.env.getOrElse("SPARK_GRAFT_QUERIES", "512").toInt

  /** Seeded query batch: fixture queries + random vocab combos. */
  def queryBatch(vocab: Array[String], n: Int): Seq[QuerySpec] = {
    val rnd = new scala.util.Random(42)
    (1 to n).map { i =>
      val len = 1 + rnd.nextInt(5)
      QuerySpec(i, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))))
    }
  }

  /** One full measurement at a given session. Returns
    * (nDocs, buildSec, docsPerSec, nQueries, querySec, queriesPerSec).
    * A small warm-up build+query pass runs first so JIT/codegen/parquet
    * paths are compiled before timing (a production executor is long-lived
    * and warm; a cold JVM otherwise spends a core-count-independent ~30 s
    * in C2 compilation that swamps the scaling signal). */
  def measure(spark: SparkSession, sfDir: String, factor: Int, tag: String): (Long, Double, Double, Long, Double, Double) = {
    val warmDir = s"$benchDir/index_warm_${tag}"
    graft.queries.IndexCache.deleteRecursively(warmDir)
    IndexBuilder.buildFrom(spark, CorpusGen.scaledPages(spark, sfDir, math.max(1, factor / 10)),
      warmDir, IndexConfig(nChunks = 1, postingsBuckets = 32, bucketRange = 2048))
    val warmHandle = IndexReader.load(spark, warmDir)
    Wand.topK(warmHandle, queryBatch(warmHandle.dictMap.keys.toArray.sorted, 64), 10)
    graft.queries.IndexCache.deleteRecursively(warmDir)

    val indexDir = s"$benchDir/index_${tag}"
    graft.queries.IndexCache.deleteRecursively(indexDir)

    val pages = CorpusGen.scaledPages(spark, sfDir, factor)
    val t0 = System.nanoTime()
    // bucketRange sized so the query stage has >= cores buckets to fill
    // (at 10^12 docs the default 65536 gives ~15M buckets; the local bench
    // corpus needs smaller buckets for the same parallelism shape)
    val manifest = IndexBuilder.buildFrom(spark, pages, indexDir,
      IndexConfig(nChunks = 1, postingsBuckets = 32, bucketRange = 2048))
    val buildSec = (System.nanoTime() - t0) / 1e9
    val docsPerSec = manifest.nDocs / buildSec

    val handle = IndexReader.load(spark, indexDir)
    val vocab = handle.dictMap.keys.toArray.sorted
    val queries = queryBatch(vocab, nQueries)
    // one warm-up to exclude one-off planning/IO from the throughput number
    Wand.topK(handle, queries.take(8), 10)
    val t1 = System.nanoTime()
    val res = Wand.topK(handle, queries, 10)
    val querySec = (System.nanoTime() - t1) / 1e9
    require(res.values.count(_.nonEmpty) > queries.size / 2, "bench queries mostly empty")
    (manifest.nDocs, buildSec, docsPerSec, queries.size.toLong, querySec, queries.size / querySec)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val factor = sys.env.getOrElse("SPARK_GRAFT_BENCH_FACTOR", "20").toInt
    val spark = session(cpus)

    val (nDocs, buildSec, dps, nq, querySec, qps) = measure(spark, sfDir, factor, s"main_$cpus")

    // per-query seconds for the full SparkEntry surface
    val perQuery = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    val qs = perQuery.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val total = buildSec + querySec + perQuery.filter(_._2 > 0).map(_._2).sum
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus,"bench_factor":$factor,"index_docs":$nDocs,"index_build_sec":$buildSec%.3f,"index_docs_per_sec":$dps%.1f,"bm25_queries":$nq,"bm25_batch_sec":$querySec%.3f,"bm25_queries_per_sec":$qps%.1f}""")
    spark.stop()
  }
}
