package graft

/** Shared spec probes for index content and physical layout (used by
  * CompactSpec, MaintainSpec, LayoutSpec): the full decoded postings
  * content keyed by term, a recursive (relative path → size) file listing
  * for byte-identity assertions, and the column chunks parquet footers
  * record. */
object IndexTestUtil {

  /** One column chunk of one row group, as its file's footer records it. */
  final case class Chunk(file: String, column: String, codec: String, dictPage: Boolean)

  def decodedContent(h: graft.query.IndexHandle): Map[String, Seq[(Long, Int, Seq[Int])]] = {
    val terms = h.dictionary.collect().map(e => e.termId -> e.term).toMap
    h.postings.collect()
      .flatMap { b =>
        val ids = graft.codec.VByte.decodeDocIds(b.docIdGaps)
        val tfs = graft.codec.VByte.decodeInts(b.tfs)
        val poss = graft.codec.VByte.decodePositions(b.positions, tfs)
        ids.indices.map(j => (terms(b.termId), ids(j), tfs(j), poss(j).toSeq))
      }
      .groupBy(_._1)
      .map { case (t, rows) => t -> rows.sortBy(_._2).map(r => (r._2, r._3, r._4)).toSeq }
  }

  def fileSizes(root: String): Map[String, Long] = {
    val base = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(base)) Map.empty
    else {
      val out = scala.collection.mutable.Map.empty[String, Long]
      java.nio.file.Files.walk(base).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p))
          out(base.relativize(p).toString) = java.nio.file.Files.size(p)
      }
      out.toMap
    }
  }

  /** Every column chunk of every parquet file under `root` (paths relative
    * to it), read from the footers with parquet-hadoop. */
  def parquetChunks(root: String): Seq[Chunk] = {
    import scala.jdk.CollectionConverters._
    fileSizes(root).keys.toSeq.filter(_.endsWith(".parquet")).sorted.flatMap { rel =>
      footer(s"$root/$rel").getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map { c =>
        Chunk(rel, c.getPath.toDotString, c.getCodec.name, c.hasDictionaryPage)
      })
    }
  }

  /** One parquet file's footer, read with parquet-hadoop. */
  def footer(path: String): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration()))
    try reader.getFooter finally reader.close()
  }
}
