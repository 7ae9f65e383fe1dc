package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One field of a fielded (BM25F) index: its name (the sub-index directory
  * suffix), its score weight w_f, the pages column holding the field's
  * text, and the field's OWN build config — per-field vocabulary caps,
  * tokenizers and clustering are first-class (a title field might keep its
  * full vocabulary while a body field caps at the head). Block geometry
  * (blockSize, bucketRange) must match across fields — the fielded WAND
  * cogroups all fields by docId bucket. */
final case class FieldSpec(
    name: String,
    weight: Double,
    textCol: String,
    cfg: IndexConfig = IndexConfig()) {
  require(name.matches("[A-Za-z0-9_]+"), s"field name '$name' outside [A-Za-z0-9_]")
  require(weight > 0d && !weight.isInfinite, s"field weight must be positive, got $weight")
}

/** One field's committed spec in `fielded.json`: name, weight, source
  * column, and the build-relevant cfg fingerprint (analyzer + cap +
  * geometry; vocabCap -1 = uncapped) — so the committed-destination checks
  * catch EVERY spec change that would silently no-op against
  * already-built sub-indexes. */
final case class FieldRecord(name: String, weight: Double, textCol: String, analyzer: String,
    vocabCap: Int, blockSize: Int, bucketRange: Long)

/** `fielded.json`: the committed fields, in build order. */
final case class FieldedManifest(fields: Seq[FieldRecord])

/** First-class fielded-index build artifact (the engine analog of the
  * reference's multi-vocabulary tokenizers — Octuple/CPWord emit parallel
  * token streams per timestep, tokenizations/octuple.py:173-203,
  * cp_word.py:319-416): one full sub-index per field (own dictionary,
  * postings segments, norms, stats) under `baseDir/field_<name>`, plus a
  * `fielded.json` manifest recording the field names and weights —
  * committed LAST, so a crash mid-build leaves no readable fielded index
  * and a re-run resumes each sub-index's own checkpointed stages.
  * [[graft.query.Wand.search]] takes [[load]]'s output as its fields. */
object FieldedIndex {

  def fieldDir(baseDir: String, name: String): String = s"$baseDir/field_$name"
  private def manifestPath(baseDir: String) = s"$baseDir/fielded.json"

  /** The `fielded.json` record of `fields`. */
  private[graft] def manifestOf(fields: Seq[FieldSpec]): FieldedManifest =
    FieldedManifest(fields.map(f => FieldRecord(f.name, f.weight, f.textCol, f.cfg.analyzerId,
      f.cfg.vocabCap.getOrElse(-1), f.cfg.blockSize, f.cfg.bucketRange)))

  /** The committed spec — the one reader of `fielded.json`. */
  private def committed(baseDir: String): FieldedManifest =
    Store.readJson[FieldedManifest](manifestPath(baseDir),
      "fielded.json format too old for this engine version; rebuild the fielded index")

  /** Build every field's sub-index from one pages relation. `pages` must
    * carry the standard page columns (doc_id, url, warc_ts, lang) plus one
    * text column per [[FieldSpec.textCol]]; a doc whose field text is
    * empty simply doesn't appear in that field's sub-index (title-only
    * docs score from the title field alone — missing-field semantics are
    * Bm25fSpec-pinned). */
  def build(spark: SparkSession, pages: DataFrame, baseDir: String,
      fields: Seq[FieldSpec]): Unit = {
    require(fields.nonEmpty, "at least one field")
    require(fields.map(_.name).distinct.length == fields.length,
      s"duplicate field names in ${fields.map(_.name)}")
    require(fields.map(f => (f.cfg.blockSize, f.cfg.bucketRange)).distinct.length == 1,
      "fielded sub-indexes must share block geometry (blockSize, bucketRange)")
    // a COMMITTED fielded index (fielded.json present) only re-runs as a
    // pure no-op with the identical spec: buildFrom's idempotent skip would
    // silently ignore a CHANGED per-field cfg (tokenizer, vocabCap, textCol)
    // while this manifest rewrote itself to claim the new spec was applied —
    // queries would then run against stale sub-indexes with no error. A
    // crashed build (no fielded.json yet, manifest commits last) still
    // resumes each sub-index's own checkpointed stages.
    val spec = manifestOf(fields)
    if (Store.exists(manifestPath(baseDir))) {
      val existing = committed(baseDir)
      require(existing == spec,
        s"fielded index already committed at $baseDir with a different field spec " +
          s"($existing); sub-index builds are idempotent skips, so rebuilding in place " +
          "would silently keep the old tokenization — build into a fresh directory")
      return
    }
    // per-field sub-index builds run one after another: each build already
    // uses every core, so starting them together only multiplies the jobs
    // in flight. Every field's build scans the SAME upstream pages relation
    // (often a derived tokenize/split map) — persist it once across the
    // field loop instead of recomputing it per sub-index
    val shared = pages.persist()
    try fields.foreach { f =>
      val fieldPages = shared.select(
        col("doc_id"), col("url"), col("warc_ts"),
        col(f.textCol).as("text"), col("lang"))
      IndexBuilder.buildFrom(spark, fieldPages, fieldDir(baseDir, f.name), f.cfg)
    } finally { shared.unpersist(); () }
    Store.writeJson(manifestPath(baseDir), spec)
  }

  /** Incremental fielded append — the fielded crawl loop: one
    * [[IndexBuilder.append]] per field from ONE pages relation (docIds
    * strictly beyond every sub-index's maxDocId, enforced per field by the
    * plain verb). `fields` must equal the COMMITTED spec exactly (the
    * fielded.json fingerprint — tokenizers and caps are per-field, so a
    * drifted spec would corrupt a sub-dictionary; the same guard as
    * [[build]] over a committed dir). Each sub-append is its own
    * exactly-once commit on the shared `batchId` cursor: a replay after a
    * partial crash no-ops the already-committed fields (their cursors
    * advanced) and completes the rest — the fielded form of the plain
    * verb's crash contract. */
  def append(spark: SparkSession, pages: DataFrame, baseDir: String,
      fields: Seq[FieldSpec], batchId: Option[Long] = None): Unit = {
    val spec = committed(baseDir)
    require(spec == manifestOf(fields),
      s"fielded append spec != committed spec $spec (no side effects were taken)")
    fields.foreach { f =>
      val fieldPages = pages.select(
        col("doc_id"), col("url"), col("warc_ts"),
        col(f.textCol).as("text"), col("lang"))
      IndexBuilder.append(spark, fieldPages, fieldDir(baseDir, f.name), f.cfg, batchId)
    }
  }

  /** Fielded tombstone delete: the SAME ids tombstone in every sub-index
    * (a doc deleted from any field is dead for the logical document — the
    * fielded WAND already unions tombstones across fields, so deleting
    * everywhere keeps per-field df/cf stats exact rather than relying on
    * that union). Each sub-delete is idempotent, so replays compose. */
  def delete(spark: SparkSession, baseDir: String, docIds: Seq[Long]): Unit = {
    committed(baseDir).fields.foreach(f =>
      IndexBuilder.delete(spark, fieldDir(baseDir, f.name), docIds))
  }

  /** Merge an independently built fielded index into this one — the
    * fielded composition of [[IndexBuilder.merge]]: both pairs must carry
    * the IDENTICAL committed field spec (names, weights, source columns,
    * per-field analyzer/cap/geometry — the full `fielded.json`
    * fingerprint), and then each field's sub-index folds in under the
    * plain merge verb's contract (source docId span beyond the
    * destination's, dictionary union, encoded blocks travel verbatim).
    * Each sub-merge is its own crash-safe commit; a replay after a partial
    * crash no-ops the already-merged fields (containment detection) and
    * completes the rest, and `fielded.json` itself never changes — the
    * spec is merge-invariant. */
  def merge(spark: SparkSession, baseDir: String, otherDir: String): Unit = {
    val dst = committed(baseDir)
    val src = committed(otherDir)
    require(dst == src,
      s"fielded merge requires identical field specs; destination $dst != source $src " +
        "(no side effects were taken)")
    dst.fields.foreach(f =>
      IndexBuilder.merge(spark, fieldDir(baseDir, f.name), fieldDir(otherDir, f.name)))
  }

  /** Load the fielded index as [[graft.query.Wand.search]]'s fields: one
    * (handle, weight) per field, in build order. */
  def load(spark: SparkSession, baseDir: String): Seq[(graft.query.IndexHandle, Double)] = {
    val fields = committed(baseDir).fields
    require(fields.nonEmpty, s"no fields in ${manifestPath(baseDir)}")
    fields.map(f => graft.query.IndexReader.load(spark, fieldDir(baseDir, f.name)) -> f.weight)
  }
}
