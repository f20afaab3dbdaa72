package graft.similarity

import graft.search.ServingStores
import graft.util.{Stamp, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SRP sketch store PARTITIONED BY A HASH BUCKET OF THE FILTER COLUMN —
  * the physical escalation for filtered vector search that
  * `q_ann_filtered_recall`'s tripwire pointed at (round-14 verdict item
  * 6): a predicate riding the sketch scan ([[Similarity.srpTopKFiltered]])
  * degrades recall for RARE strata, because the Hamming ball is
  * filter-agnostic — few same-stratum vectors survive it, so the
  * filtered top-k starves precisely where the filter matters most.
  * Widening the radius recovers recall but, on a flat layout, pays a
  * bigger scan.
  *
  * Laying the signature table out BY the filter column breaks that
  * trade: a label-filtered query prunes the scan to the label's slice
  * at planning time (the label is a serving-boundary literal, like the
  * IVF probe cluster), so the store can afford a WIDER radius — more
  * same-label candidates — while reading FEWER bytes than the flat
  * shape reads at the narrow radius. This is the vector-DB
  * filtered-search playbook (partition/shard by tenant or metadata key;
  * FAISS IDSelector over per-shard indexes), measured per stratum by
  * `q_ann_filtered_recall_part`.
  *
  * Layout — the HIGH-CARDINALITY story (round-15 verdict item 3): v1
  * partitioned by the RAW label, a metadata bomb at tenant-id
  * cardinality (10^6 labels ⇒ 10^6 partition directories). The store is
  * a [[graft.search.ServingStores]] timeline store keyed on `label`:
  * rows are bucketed by the hash of the label's string form — a BOUNDED
  * directory count at ANY label cardinality — and sorted by label within
  * each bucket, so the filtered search is one
  * [[graft.search.ServingStores.timelineProbe]]: on the driver, it opens
  * only the label's bucket's listed files, decodes only the row groups
  * whose min/max label statistics admit the label (skipping the bucket's
  * other labels) and keeps the rows of exactly that label. A
  * filtered query reads ~1/buckets of the corpus from disk regardless
  * of how many labels exist. The bucket count is a BUILD parameter the
  * manifest persists (index identity: a prober or appender reads it
  * back, so it can never route to the wrong bucket), sized ∝ corpus like
  * every bucket count in the family.
  *
  * Maintenance lifecycle: [[SrpStore]]'s contract with the label as the
  * key — per-row signatures mean append ≡ rebuild exactly;
  * upsert/delete through the store's id-keyed tombstones (on `vec_id`);
  * [[compact]] folds each fragmented bucket to one sorted file. A label
  * edit is an upsert (the new row lands in the new label's bucket; the
  * tombstone kills the old row wherever it lives — tombstones are
  * id-keyed, not bucket-keyed).
  */
object SrpLabelStore {

  /** Build-time default — the REAL count lives in the store's manifest
    * (a 100-TB tenant store passes buckets ∝ corpus so a bucket's slice
    * stays scannable; the default keeps small-SF builds wide enough to
    * exercise the pruned read).
    */
  val DefaultLabelBuckets = 16

  def defaultDir(sfDir: String): String = {
    // v3: a timeline store keyed on label (v2 partitioned by
    // pmod(crc32(label)) under its own lock; v1 by the raw label — the
    // bumps orphan them and gcOrphans reclaims the roots)
    graft.util.StoreDirs.resolve("srp-label-v3", sfDir)
  }

  private def signatures(embWithLabel: DataFrame): DataFrame =
    Similarity.srpSignature(embWithLabel, "embedding")
      .select(col("vec_id"), col("__w0"), col("__w1"), col("__w2"),
        col("__w3"), col("label"))

  def buildAt(dest: String, embeddings: DataFrame,
              labelBuckets: Int = DefaultLabelBuckets): Unit =
    ServingStores.buildTimeline(signatures(embeddings), "label", dest,
      buckets = labelBuckets)

  /** Append a NEW batch — exact by construction (per-row signatures). */
  def appendBatch(dest: String, batch: DataFrame): Unit =
    ServingStores.appendTimeline(signatures(batch), dest)

  /** Id-keyed overwrite; handles label EDITS (the tombstone is id-keyed,
    * so the old row dies in its old label's bucket and the new one lands
    * in the new label's).
    */
  def upsertBatch(spark: SparkSession, dest: String, batch: DataFrame): Unit =
    ServingStores.upsertTimeline(signatures(batch), "vec_id", dest)

  /** Tombstone-only delete; purged at the next [[compact]]. */
  def deleteIds(spark: SparkSession, dest: String, ids: Seq[Long]): Unit =
    ServingStores.deleteIds(spark, dest, "vec_id", ids)

  /** Live signatures (vec_id, __w0..3, label). */
  def read(spark: SparkSession, dest: String): DataFrame =
    ServingStores.read(spark, dest)

  /** Fold each fragmented bucket to one (label)-sorted file, tombstoned
    * rows dropped ([[ServingStores.compact]]).
    */
  def compact(spark: SparkSession, dest: String): Unit =
    ServingStores.compact(spark, dest)

  /** Build-if-absent-or-stale; returns the store directory. */
  def ensureBuilt(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir)
    val stamp = Stamp.sourceStamp(sfDir, "embeddings.parquet")
    if (!Stamp.isFresh(dest, stamp)) {
      buildAt(dest, Tables.embeddings(spark, sfDir))
      Stamp.write(dest, stamp)
    }
    dest
  }

  /** [[Similarity.srpTopKFiltered]] (pred = same label as the query)
    * served from the keyed store: identical results, but the sketch
    * scan is the query label's [[ServingStores.timelineProbe]] — the
    * label is a serving-boundary point read whose bucket picks the ONE
    * bucket's files to open, and the exact label equality rides the
    * within-bucket scan over the label-led sort (asserted in the
    * lifecycle spec).
    */
  def topKFilteredAt(spark: SparkSession, dest: String, emb: DataFrame,
                     queryId: Long, k: Int,
                     radius: Int = Similarity.SrpRadius): DataFrame = {
    val qLabel = emb.filter(col("vec_id") === queryId)
      .select(col("label")).head().getInt(0)
    SrpStore.topKOver(
      ServingStores.timelineProbe(spark, dest, "label", qLabel).drop("label"),
      emb, queryId, k, radius)
  }

  def topKFiltered(spark: SparkSession, sfDir: String, queryId: Long, k: Int,
                   radius: Int = Similarity.SrpRadius): DataFrame =
    topKFilteredAt(spark, ensureBuilt(spark, sfDir),
      Tables.embeddings(spark, sfDir), queryId, k, radius)
}
