package graft.dedup

import graft.search.ServingStores
import graft.util.{Stamp, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistent SimHash signature store — the near-dup analogue of the BM25
  * serving index ([[graft.search.BM25Index]]'s build-once split): the
  * (doc, simhash) table is computed from the corpus ONCE and every
  * consumer (pair mining, cluster resolution, degree audits, near-dup
  * curation, the live near-dup gate) reads the 8-byte-per-doc signatures
  * instead of re-tokenizing and re-hashing the text.
  *
  * The store is a [[ServingStores]] timeline store keyed on `doc` in
  * buckets sized to the build's input and the task slots
  * ([[ServingStores.bucketsFor]]), read whole ([[ServingStores.read]]),
  * so it shares that store's
  * manifest commit, tombstones and race rules. Lifecycle: [[appendBatch]]
  * adds NEW ids at batch cost (exact by construction — a doc's 64-bit
  * SimHash depends only on its own tokens); [[upsertBatch]] REPLACES
  * existing ids (the reference indexer's overwrite semantics — an EDITED
  * doc must carry its new signature, or the near-dup gate would compare
  * live traffic against a stale sketch) with its tombstones and rows in
  * one commit; [[compact]] folds each bucket into one doc-sorted file
  * with the deletes applied. A write that lands during a compaction survives it.
  *
  * Freshness follows the index pattern: a (name, size, mtime) stamp of the
  * source parquet — a regenerated corpus forces a rebuild, repeated runs
  * within one suite reuse the artifact.
  */
object SimHashStore {

  def defaultDir(sfDir: String): String = {
    graft.util.StoreDirs.resolve("simhash-sig-v3", sfDir)
  }

  /** Build-if-absent-or-stale; returns the signature DataFrame read from
    * the store (so every consumer's plan starts at an 8-byte-per-row
    * parquet scan, not a corpus tokenize).
    */
  def ensureBuilt(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = defaultDir(sfDir)
    val stamp = Stamp.sourceStamp(sfDir)
    if (!Stamp.isFresh(dest, stamp)) {
      buildAt(dest, Tables.documents(spark, sfDir), "doc_id", "text")
      Stamp.write(dest, stamp)
    }
    read(spark, dest)
  }

  /** Materialize the signature table as a fresh store at `dest`. */
  def buildAt(dest: String, docs: DataFrame, idCol: String,
              textCol: String): Unit = {
    val sigs = Dedup.simHash(docs, idCol, textCol)
    ServingStores.buildTimeline(sigs, "doc", dest,
      buckets = ServingStores.bucketsFor(sigs))
  }

  /** The store's live (doc, simhash) rows — what every consumer reads. */
  def read(spark: SparkSession, dest: String): DataFrame =
    ServingStores.read(spark, dest)

  /** Append a NEW doc batch's signatures at batch cost — exact by
    * construction, so the appended store is value-equal to a rebuild
    * over the union. Batch ids must be new (dedup upstream); an EDITED
    * id goes through [[upsertBatch]] instead.
    */
  def appendBatch(dest: String, batch: DataFrame, idCol: String,
                  textCol: String): Unit =
    ServingStores.appendTimeline(Dedup.simHash(batch, idCol, textCol), dest)

  /** Replace the stored signatures of the batch's (existing or new) ids
    * with signatures of the batch's text: every batch id is tombstoned
    * and the new signatures added in one commit.
    */
  def upsertBatch(spark: SparkSession, dest: String, batch: DataFrame,
                  idCol: String, textCol: String): Unit =
    ServingStores.ingest(dest, Some(Dedup.simHash(batch, idCol, textCol)),
      Some("doc" -> batch.select(col(idCol))))

  /** Fold appended files into one doc-sorted file per bucket, tombstoned
    * versions dropped ([[ServingStores.compact]]).
    */
  def compact(spark: SparkSession, dest: String): Unit =
    ServingStores.compact(spark, dest)
}
