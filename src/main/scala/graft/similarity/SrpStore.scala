package graft.similarity

import graft.search.ServingStores
import graft.util.{Stamp, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistent SRP sketch store — the ANN member of the engine's build-once
  * serving family ([[graft.search.BM25Index]] for keyword search,
  * [[graft.dedup.SimHashStore]] for near-dup): the 128-bit signatures of
  * [[Similarity.srpSignature]] are computed over the embedding corpus ONCE
  * and persisted as four bigint words, so a serving deployment answers
  * every ANN query from a 32-byte-per-row sketch scan + an id-join to the
  * vectors for exact rerank of the Hamming-ball survivors — the raw
  * 256-byte embedding column is never scanned for filtering.
  *
  * The store is a [[ServingStores]] timeline store keyed on `vec_id` in
  * buckets sized to the build's input ([[ServingStores.bucketsFor]]),
  * read whole, so its writes commit through that store's
  * manifest: [[appendBatch]] adds a new batch's signatures at batch
  * cost — EXACT by construction, since a row's sketch depends only on
  * that row (the hyperplanes are plan-time md5-derived constants), so
  * append ≡ full rebuild byte-for-byte (spec-asserted);
  * [[upsertBatch]]/[[deleteIds]] are its id-keyed overwrite and delete;
  * [[compact]] folds accumulated small files into one vec_id-sorted file
  * per bucket (min/max row-group pruning restored for the query-point
  * lookup).
  *
  * Freshness follows the family pattern: a (name, size, mtime) stamp of
  * the source parquet; repeated suite runs reuse the artifact, a
  * regenerated corpus forces a rebuild.
  */
object SrpStore {

  def defaultDir(sfDir: String): String = {
    graft.util.StoreDirs.resolve("srp-sig-v2", sfDir)
  }

  private def signatures(embeddings: DataFrame): DataFrame =
    Similarity.srpSignature(embeddings, "embedding")
      .select(col("vec_id"), col("__w0"), col("__w1"), col("__w2"), col("__w3"))

  /** Materialize the signature table for `embeddings` as a fresh store at
    * `dest` — the dest-level build [[ensureBuilt]] wraps with the
    * staleness stamp.
    */
  def buildAt(dest: String, embeddings: DataFrame): Unit = {
    val sigs = signatures(embeddings)
    ServingStores.buildTimeline(sigs, "vec_id", dest,
      buckets = ServingStores.bucketsFor(sigs))
  }

  /** Append a NEW batch's signatures into an existing store at batch
    * cost. Exact by construction: signatures are per-row, so the
    * appended store is value-equal to a rebuild over the union.
    * Contract: batch ids are new — [[upsertBatch]] is the id-keyed
    * overwrite.
    */
  def appendBatch(dest: String, batch: DataFrame): Unit =
    ServingStores.appendTimeline(signatures(batch), dest)

  /** Id-keyed overwrite: the batch's ids are tombstoned and re-signed in
    * one commit — an EDITED vector's sketch replaces its predecessor.
    */
  def upsertBatch(spark: SparkSession, dest: String, batch: DataFrame): Unit =
    ServingStores.upsertTimeline(signatures(batch), "vec_id", dest)

  /** Tombstone-only delete; purged at the next [[compact]]. */
  def deleteIds(spark: SparkSession, dest: String, ids: Seq[Long]): Unit =
    ServingStores.deleteIds(spark, dest, "vec_id", ids)

  /** The store's live (vec_id, __w0..__w3) signatures (what
    * [[topK]]/[[ensureBuilt]] hand to consumers).
    */
  def read(spark: SparkSession, dest: String): DataFrame =
    ServingStores.read(spark, dest)

  /** Fold accumulated appended files into one vec_id-sorted file per
    * bucket with tombstoned rows dropped ([[ServingStores.compact]]).
    */
  def compact(spark: SparkSession, dest: String): Unit =
    ServingStores.compact(spark, dest)

  /** Build-if-absent-or-stale; returns the (vec_id, __w0..__w3) signature
    * table read from the store.
    */
  def ensureBuilt(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = defaultDir(sfDir)
    val stamp = Stamp.sourceStamp(sfDir, "embeddings.parquet")
    if (!Stamp.isFresh(dest, stamp)) {
      buildAt(dest, Tables.embeddings(spark, sfDir))
      Stamp.write(dest, stamp)
    }
    read(spark, dest)
  }

  /** Incremental build-if-stale: 80% base build + appended batch +
    * compaction (the [[graft.search.BM25Index.ensureBuiltIncremental]]
    * pattern) — `q_ann_lsh_incr` serves from it with `q_ann_lsh`'s
    * oracle verbatim, putting append ≡ rebuild under the driver hash
    * gate. A rebuild starts a fresh store, and the job ends by
    * reclaiming what its fold unlisted.
    */
  def ensureBuiltIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = defaultDir(sfDir) + "__incr"
    val stamp = Stamp.sourceStamp(sfDir, "embeddings.parquet")
    if (!Stamp.isFresh(dest, stamp)) {
      val emb = Tables.embeddings(spark, sfDir)
      buildAt(dest, emb.filter(col("vec_id") % 5 =!= 0))
      appendBatch(dest, emb.filter(col("vec_id") % 5 === 0))
      compact(spark, dest)
      graft.search.StoreAdmin.reclaim(dest)
      Stamp.write(dest, stamp)
    }
    read(spark, dest)
  }

  /** STREAMED build-if-stale — the streaming loop closed for the ANN
    * family (`q_ann_lsh_stream`, round-15 verdict item 5): the 80% base
    * builds as usual, and the remaining 20% arrives through a real
    * Structured Streaming source (file-triggered micro-batches, one
    * file per trigger) feeding
    * [[graft.streaming.StreamSinks.annIngestSink]], whose per-batch
    * apply is this store's own [[upsertBatch]]. Serves with
    * `q_ann_lsh`'s oracle VERBATIM — streamed ingest ≡ batch build
    * exactly, because signatures are per-row and the sink's upserts
    * only add new ids. Compacted and reclaimed at the end like the
    * __incr twin, so the served scan is one sorted file. Batch-boundary
    * order is irrelevant by construction (disjoint-id upserts commute).
    */
  def ensureBuiltStreamed(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = defaultDir(sfDir) + "__stream"
    val stamp = Stamp.sourceStamp(sfDir, "embeddings.parquet")
    if (!Stamp.isFresh(dest, stamp)) {
      val emb = Tables.embeddings(spark, sfDir)
      buildAt(dest, emb.filter(col("vec_id") % 5 =!= 0))
      // the streamed 20%, staged as two source files → two micro-batches
      val staging = s"$dest/_stream_src"
      val late = emb.filter(col("vec_id") % 5 === 0)
      late.filter(col("vec_id") % 10 === 0)
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/b0")
      late.filter(col("vec_id") % 10 =!= 0)
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/b1")
      val stream = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(staging)
        .select(emb.columns.map(col): _*)
      val q = graft.streaming.StreamSinks.annIngestSink(stream, dest,
        s"$dest/_stream_ckpt", upsertBatch)
      try q.processAllAvailable() finally q.stop()
      graft.util.StoreFs.deleteRecursively(java.nio.file.Paths.get(staging))
      compact(spark, dest)
      graft.search.StoreAdmin.reclaim(dest)
      Stamp.write(dest, stamp)
    }
    read(spark, dest)
  }

  /** [[topK]] over explicit signature/vector frames — shared by the
    * stamped sfDir route and dest-level stores (lifecycle specs).
    */
  def topKOver(sigs: DataFrame, emb: DataFrame, queryId: Long, k: Int,
               radius: Int = Similarity.SrpRadius): DataFrame = {
    import graft.expressions.GraftFunctions
    GraftFunctions.register(emb.sparkSession)
    val q = sigs.filter(col("vec_id") === queryId)
      .join(emb, "vec_id")
      .select((col("embedding").as("__qv") +:
        (0 until 4).map(w => col(s"__w$w").as(s"__qw$w"))): _*)
    sigs.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId &&
        Similarity.srpHamming("__w", "__qw") <= radius)
      .join(emb, "vec_id")
      .select(col("vec_id"),
        round(Similarity.cosineFast("embedding", "__qv"), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** [[Similarity.srpTopK]] served from the persisted store: identical
    * results (the signatures are deterministic), but the plan reads the
    * sketch parquet instead of recomputing 128 projections per row, and
    * only Hamming-ball survivors touch the vector column via the id-join.
    */
  def topK(spark: SparkSession, sfDir: String, queryId: Long, k: Int,
           radius: Int = Similarity.SrpRadius): DataFrame =
    topKOver(ensureBuilt(spark, sfDir), Tables.embeddings(spark, sfDir),
      queryId, k, radius)
}
