package graft

import graft.streaming.EventStreams
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Structured Streaming == batch equivalence for the windowed aggregation
  * (the engine's streaming surface; the reference itself is batch-only,
  * SURVEY.md §2.9). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming tumbling-window agg equals the batch plan") {
    // stage the events parquet into a dir the file stream can watch
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    try {
      val src = java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet")
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(s"$dir/events.parquet"))

      val batch = EventStreams.hourlyAggBatch(spark.read.parquet(dir))
        .orderBy("window_start", "event_type").collect().toSeq
      val streamed = EventStreams.hourlyAggStreaming(spark, dir, "stream_test_1")
        .orderBy("window_start", "event_type").collect().toSeq
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally graft.queries.IndexCache.deleteRecursively(dir)
  }

  test("sessionization: session ids are dense per user and gap-consistent") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val sess = EventStreams.sessionize(events, 30)
    // session ids start at 1 and are non-decreasing per user in event order
    val bad = sess.groupBy("user_id")
      .agg(min(col("session_id")).as("lo"), max(col("session_id")).as("hi"),
        countDistinct(col("session_id")).as("n"))
      .filter(col("lo") =!= 1 || col("n") =!= col("hi"))
    assert(bad.count() == 0)
  }
}
