package graft.index

import org.apache.spark.sql.SparkSession

/** Snapshot-level operations beyond load: exporting one commit as a
  * standalone artifact. The export is the engine's analog of the
  * reference's `save_pretrained` portability surface
  * (midi_tokenizer.py:3439-3603, declared out of scope as an external
  * service in SURVEY §2 S8 — "nearest analog: manifest import/export"):
  * a pinned corpus state shipped to another pipeline (a training job, a
  * replica cluster) without the source index's history or garbage. */
object Snapshots {

  /** Export snapshot `snapshotId` of `indexDir` as a SELF-CONTAINED index
    * at `destDir`: only the directories the snapshot references are copied
    * (its segments, its dictionary version, its tombstone version if any) —
    * superseded versions, later commits and unreferenced garbage do NOT
    * travel. The destination is a full first-class index: loadable with
    * `IndexReader.load`, queryable by every surface, and the ROOT of its
    * own fresh commit chain (snapshotId restarts at 0; append / delete /
    * compact / vacuum all compose on it independently of the source).
    *
    * Copies are plain file copies — no decode, no shuffle, no Spark job:
    * at 100 TB an export is object-store server-side copy bandwidth, never
    * compute. The source lineage log travels too (provenance), extended
    * with an `export` row. Crash-safe by the usual discipline: the
    * manifest is committed LAST, so a torn export is an unreadable
    * directory, never a torn index; re-running overwrites into the same
    * layout. */
  def export(spark: SparkSession, indexDir: String, snapshotId: Int,
      destDir: String): IndexManifest = {
    val m = Manifest.readAt(indexDir, snapshotId)
    require(!Store.exists(s"$destDir/manifest.json"),
      s"destination $destDir already holds a committed index")
    Store.mkdirs(destDir)
    IndexBuilder.referencedDirs(indexDir, m).foreach { src =>
      val rel = src.stripPrefix(s"$indexDir/")
      require(Store.exists(src), s"snapshot $snapshotId references $rel but it is " +
        "missing on disk — vacuumed concurrently? re-read the snapshot history")
      Store.delete(s"$destDir/$rel") // replayed export: clean partial copy
      Store.copy(src, s"$destDir/$rel")
    }
    if (Store.exists(s"$indexDir/lineage.jsonl"))
      Store.copy(s"$indexDir/lineage.jsonl", s"$destDir/lineage.jsonl")
    Lineage.append(spark, destDir,
      LineageRow(-1, "export", m.nDocs, System.currentTimeMillis(), "committed"))
    Manifest.commit(destDir, m.copy(snapshotId = 0, operation = "export"))
  }
}
