package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global 1-based row numbering over a unique total order WITHOUT a
  * single-partition window (which serializes the whole relation through one
  * task — the classic `Window.orderBy` scale trap).
  *
  * Plan shape: range-exchange on the order keys → per-partition sort +
  * local `row_number` → add a per-partition prefix offset. The offsets come
  * from a tiny per-partition count (one job over ≤ shuffle-partition rows on
  * the driver) injected back as a literal map expression, so the hot path
  * stays in whole-stage codegen — no UDF, no second shuffle.
  *
  * The order must be a UNIQUE total order: ids are then deterministic
  * regardless of where the range boundaries land.
  *
  * Used by the distributed placement of the dictionary fold
  * (`IndexBuilder.fold`: dense df-ordered termIds for a build or merge
  * beyond `broadcastVocabMax` — a 100M-term vocabulary ranks in parallel),
  * the exact percentiles and the ntile binning operator (W8).
  */
object GlobalRank {

  /** Result of a global ranking pass. The ranked plan reads the internally
    * persisted range-partitioned input (the counting pass and the ranked
    * pass MUST see the same partitioning — range sampling is only
    * deterministic within one compiled plan), so callers MUST call
    * [[Ranked.release]] once the ranked output has been materialized
    * (written / collected); before that, releasing would force a
    * re-partitioning with fresh sampling and invalidate the offsets. */
  final case class Ranked(df: DataFrame, total: Long, release: () => Unit)

  /** Global 1-based row number in column `out`; see [[Ranked]] for the
    * release contract. */
  def withRowNumber(
      df: DataFrame,
      order: Seq[Column],
      out: String = "rn",
      partitions: Int = 0
  ): Ranked = {
    val spark = df.sparkSession
    val n = if (partitions > 0) partitions else spark.sessionState.conf.numShufflePartitions
    val sorted = df
      .repartitionByRange(math.max(n, 1), order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      .persist()
    val release = () => { sorted.unpersist(); () }
    val counts: Array[(Int, Long)] = sorted.groupBy("__pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    if (counts.isEmpty) {
      return Ranked(sorted.withColumn(out, lit(0L)).drop("__pid"), 0L, release)
    }
    var acc = 0L
    val offsets = counts.map { case (pid, c) => val o = acc; acc += c; pid -> o }
    // prefix offsets as a literal map expression (codegen-friendly, no UDF)
    val offMap = map(offsets.flatMap { case (p, o) => Seq(lit(p), lit(o)) }.toSeq: _*)
    val w = Window.partitionBy("__pid").orderBy(order: _*)
    val ranked = sorted
      .withColumn(out, element_at(offMap, col("__pid")) + row_number().over(w))
      .drop("__pid")
    Ranked(ranked, acc, release)
  }

  /** Exact percentile VALUES over a unique total order — order statistics
    * through the same rank machinery, never a global sort-collect: one
    * range exchange, per-partition ranks, then a broadcast join against
    * the target ranks. Target rank for percentile `pct` is
    * `⌈n·pct/100⌉ = (n·pct + 99) div 100` in PURE INTEGER arithmetic —
    * a float rank boundary (`ceil(0.99·n)`) rounds differently across
    * engines when p·n grazes an integer, so none is used. Result is
    * eagerly materialized (it is |pcts| rows) and the rank cache released. */
  def exactPercentiles(
      df: DataFrame,
      order: Seq[Column],
      value: Column,
      pcts: Seq[Int]
  ): DataFrame = {
    require(pcts.forall(p => p >= 1 && p <= 100), "percentiles must be in 1..100")
    val spark = df.sparkSession
    import spark.implicits._
    val r = withRowNumber(df, order, "__qrn")
    val targets = pcts
      .map(pct => (pct, math.max(1L, (r.total * pct + 99) / 100)))
      .toDF("pct", "__qrn")
    val res = r.df.join(broadcast(targets), "__qrn")
      .select(col("pct"), value)
      .localCheckpoint(true)
    r.release()
    res
  }

  /** Exact `ntile(k)` over a unique total order, two-phase (no global
    * window): global row number, then the ntile formula — with n rows the
    * first (n mod k) tiles get ⌈n/k⌉ rows, the rest ⌊n/k⌋.
    *
    * The result is eagerly materialized via `localCheckpoint` so the
    * internal ranking cache can be released HERE (no caller-visible release
    * contract); the checkpoint blocks are reclaimed by the ContextCleaner
    * when the returned frame is garbage-collected, unlike a `persist` entry
    * which would pin memory for the JVM lifetime. */
  def ntileBins(df: DataFrame, order: Seq[Column], k: Int, out: String): DataFrame = {
    val r = withRowNumber(df, order, "__grn")
    val big = r.total % k       // number of size (base+1) tiles
    val base = r.total / k
    val cut = big * (base + 1) // rows covered by the big tiles
    val bin = when(col("__grn") <= cut, (col("__grn") - 1) / (base + 1) + 1)
      .otherwise(lit(big) + (col("__grn") - 1 - cut) / math.max(base, 1L) + 1)
    val out0 = r.df.withColumn(out, bin.cast("int")).drop("__grn")
      .localCheckpoint(true)
    r.release()
    out0
  }
}
