package graft.index

import org.apache.spark.sql.DataFrame

/** Access to the driver-side dictionary ranking and the clustered dictionary
  * write, which the engine keeps package-private: the staged `index.dict`
  * layer runs the steps `buildFrom` runs when the vocabulary is under
  * `broadcastVocabMax`. */
object PerfbenchDict {
  def rankOnDriver(stats: Array[(String, Long, Long)]): Array[TermEntry] =
    IndexBuilder.rankFreshOnDriver(stats, base = 0L)

  def writeClustered(dict: DataFrame, nBuckets: Int, vocabSize: Long, dest: String): Unit =
    IndexBuilder.writeClusteredDict(dict, nBuckets, vocabSize, dest)
}
