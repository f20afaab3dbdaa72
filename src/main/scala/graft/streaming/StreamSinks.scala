package graft.streaming

import graft.dedup.Dedup
import graft.search.Collections
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Streaming sinks beyond the built-ins.
  *
  * [[keyedUpsertSink]] is the reference's continuous indexing step — tweets
  * streamed into Solr with overwrite-on-add keyed by id
  * (`Ranking Model/src/main/java/Main/SolrIndexer.java:47-59`) — as a
  * Structured Streaming `foreachBatch` merge into a parquet "collection".
  */
object StreamSinks {

  /** Highest COMPLETE store version strictly below `batchId` — the
    * crash-replay anchor every versioned sink here shares: a re-executed
    * batch N must rebuild `v<N>` from the same input snapshot, so reads
    * bind to `v<k>` (k < N, `_SUCCESS` present), never the `current`
    * symlink (which could alias the very version being rewritten).
    */
  private def prevVersion(dest: String, batchId: Long): Option[Long] = {
    val versionRe = "^v(\\d+)$".r
    val listing = Files.list(Paths.get(dest))
    try listing.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .flatMap(p => p.getFileName.toString match {
        case versionRe(k)
          if k.toLong < batchId && Files.exists(p.resolve("_SUCCESS")) =>
          Some(k.toLong)
        case _ => None
      }).sorted.lastOption
    finally listing.close()
  }

  /** Atomically publish `<dest>/v<batchId>` as `<dest>/current`. */
  private def publish(dest: String, batchId: Long): Unit = {
    val next = Paths.get(dest, s"v$batchId")
    val tmp = Paths.get(dest, "current.tmp")
    Files.deleteIfExists(tmp)
    Files.createSymbolicLink(tmp, next.toAbsolutePath)
    Files.move(tmp, Paths.get(dest, "current"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Streaming materialized-view maintenance —
    * [[graft.operators.Materialize]] as a `foreachBatch` advance over a
    * versioned MV store: each micro-batch folds its own aggregate state
    * into the previous snapshot (cost O(MV + batch), never O(history) —
    * the streaming face of q_mv_merge's flat scale curve), and
    * `<dest>/current` always points at a complete state table. Serve with
    * [[graft.operators.Materialize.serve]]. Versioning/replay semantics
    * are [[keyedUpsertSink]]'s; merge associativity (MaterializeSpec)
    * makes any batch arrival order land on the same state.
    */
  def aggMvSink(stream: DataFrame, keys: Seq[String], valCol: String,
                dest: String, checkpoint: String): StreamingQuery = {
    Files.createDirectories(Paths.get(dest))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import graft.operators.Materialize
        val state = Materialize.aggState(batch, keys, valCol)
        val merged = prevVersion(dest, batchId) match {
          case Some(k) =>
            Materialize.merge(spark.read.parquet(s"$dest/v$k"), state, keys)
          case None => state
        }
        merged.write.mode("overwrite").parquet(s"$dest/v$batchId")
        publish(dest, batchId)
        ()
      }
      .start()
  }

  /** Merge each micro-batch into a keyed parquet collection, keep-latest
    * per id ([[Collections.upsertLatest]] — dedupes the batch by
    * `versionCol`, then anti-join + union against the current snapshot).
    *
    * Snapshot isolation AND replay idempotence without a table format:
    * batch N always writes `v<N>` and always reads its input snapshot as
    * the highest COMPLETE version `v<k>` with k < N — never the `current`
    * symlink. foreachBatch's contract is that a batch may be re-executed
    * after a crash; reading `current` on replay would resolve to the very
    * `v<N>` about to be overwritten (an aliasing hazard Spark's
    * overwrite-while-reading check cannot see through a symlink), and a
    * half-written `v<N>` would poison the merge. Anchoring the read to
    * k < N makes re-execution rebuild `v<N>` from exactly the same input.
    * The atomic symlink swap then publishes it — readers of
    * `<dest>/current` never observe a half-written merge. At real scale
    * this whole sink is a table format's MERGE (SCALE.md); the operator
    * shape — dedup batch, anti-join snapshot, union — is identical. Old
    * versions are left for the table format's job (GC/compaction).
    */
  def keyedUpsertSink(stream: DataFrame, idCol: String, versionCol: String,
                      dest: String, checkpoint: String): StreamingQuery = {
    Files.createDirectories(Paths.get(dest))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // input snapshot: highest complete version strictly below batchId
        val existing = prevVersion(dest, batchId) match {
          case Some(k) => spark.read.parquet(s"$dest/v$k")
          case None => spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], batch.schema)
        }
        Collections.upsertLatest(existing, batch, idCol, versionCol)
          .write.mode("overwrite").parquet(s"$dest/v$batchId")
        publish(dest, batchId)
        ()
      }
      .start()
  }

  /** Streaming near-dup ingestion filter — [[Dedup.simHashIncremental]] as
    * a `foreachBatch` pipeline over a versioned signature store (the
    * streaming face of [[graft.dedup.SimHashStore]]): each micro-batch
    * keeps only docs whose 64-bit SimHash is more than `maxHamming` bits
    * from EVERY signature accepted so far, survivors' signatures advance
    * the store, and `<dest>/current` always points at a complete snapshot.
    *
    * Versioning/replay semantics are [[keyedUpsertSink]]'s: batch N reads
    * the highest complete `v<k>` with k < N (never the symlink), so a
    * crash-replayed batch rebuilds `v<N>` from the same input. In-batch
    * near-dups are intentionally NOT resolved here (the operator's
    * documented contract — that is the separate pairs+clusters pass);
    * this sink answers "is it new vs the corpus so far" at ingest time.
    * Survivor signatures for batch N land in `kept_v<N>` for downstream
    * consumers. At 100 TB the store is the bucketed-by-band signature
    * table; the per-batch probe cost is batch-sized, never corpus-sized.
    */
  /** Streaming vector ingest into a persisted ANN store — the sink that
    * closes the streaming loop for the ANN family (round-15 verdict item
    * 5): micro-batches of (vec_id, embedding, …) rows fold into an
    * EXISTING store (SrpStore / IvfSq8Store / any family member) through
    * the store's own id-keyed upsert, so a streamed ingest converges to
    * the same live rows as the equivalent batch upserts and serves the
    * identical top-k (EventStreamsSpec; `q_ann_lsh_stream` shares
    * `q_ann_lsh`'s oracle verbatim).
    *
    * Replay semantics: foreachBatch may re-execute a batch after a
    * crash. The versioned sinks above anchor replays by reading `v<k>`
    * (k < N); an ANN store is append-IN-PLACE (tombstone generations),
    * so the anchor here is the family's own crash
    * contract: every batch applies through UPSERT — tombstone-first,
    * strict-older-generation kill — which is exactly the documented
    * recovery for a half-applied append, so a re-executed batch
    * converges to the same live rows no matter where the previous
    * attempt died (tombstoning the batch ids kills any partial
    * generation before re-adding). An applied-batch marker, written
    * AFTER the upsert, short-circuits clean replays; correctness never
    * depends on it. A concurrent compactor never loses the upsert: a
    * manifest-committed store (SRP, SQ8) keeps a write committed during
    * a fold, and a lock-guarded one (IVF-SQ8) rejects the collision
    * loudly.
    */
  def annIngestSink(stream: DataFrame, dest: String, checkpoint: String,
                    upsert: (org.apache.spark.sql.SparkSession, String,
                      DataFrame) => Unit): StreamingQuery = {
    Files.createDirectories(Paths.get(dest))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = Paths.get(dest, "_stream_applied", s"batch-$batchId")
        if (!graft.util.StoreFs.exists(marker) && !batch.isEmpty) {
          upsert(batch.sparkSession, dest, batch)
          graft.util.StoreFs.createDirectories(marker.getParent)
          graft.util.StoreFs.writeString(marker, "applied\n")
        }
        ()
      }
      .start()
  }

  def nearDupFilterSink(stream: DataFrame, idCol: String, textCol: String,
                        dest: String, checkpoint: String,
                        maxHamming: Int = 3): StreamingQuery = {
    Files.createDirectories(Paths.get(dest))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val store = prevVersion(dest, batchId) match {
          case Some(k) => spark.read.parquet(s"$dest/v$k")
          case None =>
            import org.apache.spark.sql.types._
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
              StructType(Seq(StructField("doc", LongType),
                StructField("simhash", LongType))))
        }
        val survivors = Dedup.simHashIncremental(store, batch, idCol, textCol,
          maxHamming)
        survivors.write.mode("overwrite").parquet(s"$dest/kept_v$batchId")
        store.unionByName(spark.read.parquet(s"$dest/kept_v$batchId"))
          .write.mode("overwrite").parquet(s"$dest/v$batchId")
        publish(dest, batchId)
        ()
      }
      .start()
  }
}
