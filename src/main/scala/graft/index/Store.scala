package graft.index

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.exc.MismatchedInputException
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import scala.reflect.{ClassTag, classTag}

/** Thin storage-layer helper: every directory mutation an admin verb makes
  * (replaced-segment cleanup, cache resets, export copies, the one vacuum
  * [[sweep]]) goes through the Hadoop FileSystem API instead of
  * `java.io.File`, so the verbs behave identically on local disk and on an
  * object store / HDFS (where `java.io.File` silently sees nothing). Every
  * control file — the index manifest and its snapshots, the dedup
  * manifest, `fielded.json` and the lineage log — is read and written
  * here too, through ONE codec: a Jackson mapper with the Scala module
  * (the one Spark itself ships and builds), which writes a flat case class
  * as one line of JSON in field-declaration order and refuses to read a
  * file that lacks any constructor field. Every committed parquet table
  * (the index's postings, docstats, dictionary and tombstones, and the
  * dedup index's tables) is written by one writer, [[writeTable]].
  *
  * Resolution uses the active Spark session's Hadoop configuration when one
  * exists (picking up any object-store credentials/committer settings) and
  * falls back to a default configuration otherwise.
  */
object Store {

  private def conf =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def fsOf(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf) match {
      // local FS: use the raw (non-checksum) layer — control files must
      // stay editable/restorable by plain tools without tripping stale
      // `.crc` sidecars (object stores have no client-side sidecars)
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    (fs, p)
  }

  def exists(path: String): Boolean = {
    val (fs, p) = fsOf(path)
    fs.exists(p)
  }

  /** Recursive delete; quietly a no-op when the path is absent. */
  def delete(path: String): Unit = {
    val (fs, p) = fsOf(path)
    fs.delete(p, true)
    ()
  }

  /** Child names (not paths) of a directory; empty when absent. */
  def list(path: String): Seq[String] = {
    val (fs, p) = fsOf(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Total bytes under a path (recursive); 0 when absent. Driver-side
    * metadata op — the LSM maintenance policy sizes merge candidates from
    * file metadata, never from data scans. */
  def sizeOf(path: String): Long = {
    val (fs, p) = fsOf(path)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  def mkdirs(path: String): Unit = {
    val (fs, p) = fsOf(path)
    fs.mkdirs(p)
    ()
  }

  /** Recursive copy (dirs or files) — the export primitive. Goes through
    * `FileUtil.copy`, so source and destination may live on different
    * filesystems (local → object store and back). */
  def copy(src: String, dst: String): Unit = {
    val (sfs, sp) = fsOf(src)
    val (dfs, dp) = fsOf(dst)
    org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp, false, true, conf)
    ()
  }

  /** Read a small control file (manifest-sized) fully as UTF-8. */
  def readString(path: String): String = {
    val (fs, p) = fsOf(path)
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Overwrite a small control file with UTF-8 content. */
  def writeString(path: String, content: String): Unit = {
    val (fs, p) = fsOf(path)
    val out = fs.create(p, true)
    try out.write(content.getBytes(UTF_8))
    finally out.close()
  }

  /** Append `line` plus a newline to a small log file, creating it when
    * absent. A crash mid-append can leave a torn, newline-less tail;
    * writing straight after it would merge two lines and lose BOTH, so the
    * torn fragment is terminated first and only it is lost. Synchronized:
    * concurrent driver threads (the overlapped stage writes) append to one
    * log, and the tail check must not race within the JVM. */
  def appendLine(path: String, line: String): Unit = synchronized {
    val (fs, p) = fsOf(path)
    val len = if (fs.exists(p)) fs.getFileStatus(p).getLen else -1L
    val torn = len > 0 && {
      val in = fs.open(p)
      try { in.seek(len - 1); in.read() != '\n' } finally in.close()
    }
    val out = if (len >= 0) fs.append(p) else fs.create(p, false)
    try out.write(((if (torn) "\n" else "") + line + "\n").getBytes(UTF_8))
    finally out.close()
  }

  /** The one vacuum sweep: under each of `tables` (directories of `root`),
    * delete every child whose full path `live` does not hold. Returns the
    * deleted paths relative to `root`. */
  def sweep(root: String, tables: Seq[String], live: Set[String]): Seq[String] = {
    val garbage = tables.flatMap(t => list(s"$root/$t").map(n => s"$t/$n"))
      .filterNot(rel => live(s"$root/$rel"))
    garbage.foreach(rel => delete(s"$root/$rel"))
    garbage
  }

  // ----------------------------------------------------------- table writer

  /** The one parquet table write: `rows` replace `dest` as parquet with
    * zstd page compression. Everything else is Spark's default (v1 data
    * pages, dictionary encoding on), so the `termId` dictionary pages the
    * point fetch filters files by stay. Each footer records its own codec:
    * tables written with another codec (snappy, before this writer) read
    * back next to zstd ones with no migration. */
  def writeTable(rows: Dataset[_], dest: String): Unit =
    rows.write.mode("overwrite").option("compression", "zstd").parquet(dest)

  // ----------------------------------------------------- control-file codec

  private val json = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)
    .build()

  private def cls[T: ClassTag]: Class[T] = classTag[T].runtimeClass.asInstanceOf[Class[T]]

  /** A case class (or a [[tree]]) as one line of JSON. */
  def encode(v: Any): String = json.writeValueAsString(v)

  /** A value as an editable JSON tree — for a control file that keeps one
    * field in its own on-disk shape. */
  def tree[N <: JsonNode](v: Any): N = json.valueToTree[N](v)

  /** One JSON document as a `T`; fails when any constructor field is absent. */
  def decode[T: ClassTag](text: String): T = json.readValue(text, cls[T])

  /** Overwrite control file `path` with `v`'s encoding. */
  def writeJson(path: String, v: Any): Unit = writeString(path, encode(v))

  /** Control file `path` as a `T`, after `edit` has reshaped its tree. A
    * file that lacks a field (written by an older engine version) fails
    * with `remedy` — the action that makes the directory readable again. */
  def readJson[T: ClassTag](path: String, remedy: String, edit: ObjectNode => Unit = _ => ()): T = {
    val t = json.readValue(readString(path), cls[ObjectNode])
    edit(t)
    try json.treeToValue(t, cls[T])
    catch {
      case e: MismatchedInputException => sys.error(s"$path: ${e.getOriginalMessage} — $remedy")
    }
  }
}
