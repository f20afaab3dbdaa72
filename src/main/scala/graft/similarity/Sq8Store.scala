package graft.similarity

import graft.expressions.GraftFunctions
import graft.search.ServingStores
import graft.util.{Stamp, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Persistent SQ8 (int8 scalar quantization) store — the ARTIFACT behind
  * the `q_ann_sq8` serve audit (FAISS IndexScalarQuantizer / SQ8): each
  * vector persists as d int8 codes packed into one binary column plus
  * ONE fp64 scale (s = max|x|/127, q = round(x/s), x̂ = q·s — the
  * `q_embedding_quant` algebra), so the candidate scan reads d+8 bytes
  * per vector instead of 4d raw floats. The audit measured recall@10 =
  * 1.0 on this corpus (`q_ann_recall_sq8`) — the 4× cheaper scan is
  * FREE accuracy-wise, which is exactly why the compression deserves a
  * persisted artifact rather than the in-plan dequantization
  * [[Similarity.sq8TopK]] uses to measure the decision.
  *
  * Asymmetric distance (the standard SQ deployment): the corpus is
  * quantized, the query stays exact — candidates are top-`rerank` by
  * round-6 cosine(q, x̂), then the usual exact rerank on raw vectors via
  * an id join, so SQ8 can only lose candidates, never mis-rank kept
  * ones. Decode parity is EXACT by construction: q = round(x/s) is an
  * integer-valued double in [−127, 127], stored as the unsigned byte
  * q+128 ([[graft.expressions.U8sToBytes]]'s 0..255 range) and decoded
  * (u−128)·s — the identical double product the in-plan audit computes,
  * so `q_ann_sq8_served` shares `q_ann_sq8`'s oracle verbatim (the
  * all-zero vector has s = 0 and decodes to itself with no special
  * case: (128−128)·0 = 0 per coordinate).
  *
  * Maintenance lifecycle: the store is a [[graft.search.ServingStores]]
  * timeline store keyed on `vid` in buckets sized to the build's input
  * ([[graft.search.ServingStores.bucketsFor]]), read whole — codes are
  * PER-ROW, no trained state, so [[appendBatch]] ≡ full rebuild exactly
  * (spec-asserted), [[upsertBatch]]/[[deleteIds]] are that store's
  * id-keyed overwrite and delete, and [[compact]] folds each bucket to
  * one vid-sorted file; every write commits through its manifest.
  *
  * Scale shape: the candidate pass is ONE projection over the codes
  * scan (decode + dot ride whole-stage codegen; no shuffle before the
  * top-`rerank` cut), embarrassingly parallel at any corpus size; bytes
  * per candidate sit between PQ's m and raw fp32's 4d — the grid is in
  * SCALE.md. Reference analogue: the engine-side compression the
  * reference's Solr stack gets from Lucene's scalar-quantized KNN
  * vectors (public Lucene 9.x `Lucene99ScalarQuantizedVectorsFormat`).
  */
object Sq8Store {

  def defaultDir(sfDir: String): String = {
    // v3: a timeline store committed by manifest (v2 range-sorted codes
    // under its own lock, v1 hash-scattered rows; the bumps orphan them)
    graft.util.StoreDirs.resolve("sq8-store-v3", sfDir)
  }

  /** (vid, code binary[d], scale double) encode projection — the exact
    * [[Similarity.sq8TopK]] quantization: s = max|x|/127 over the
    * double-cast coordinates, u8 = round(x/s) + 128 (zero vector ⇒ all
    * 128 at s = 0).
    */
  private[similarity] def encoded(embeddings: DataFrame): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val v = transform(col("embedding"), x => x.cast("double"))
    val scale = array_max(transform(v, x => abs(x))) / lit(127.0)
    val u8 = when(scale === 0.0, transform(v, _ => lit(128)))
      .otherwise(transform(v, x => (round(x / scale) + lit(128.0)).cast("int")))
    embeddings.select(col("vec_id").cast("long").as("vid"),
      call_function("graft_u8_bytes", u8).as("code"),
      scale.as("scale"))
  }

  /** Dequantized coordinates from the packed codes: (u−128)·s, the
    * bit-identical double each coordinate quantized FROM (q·s with q
    * integer-valued — see the object scaladoc).
    */
  private[similarity] def decodeCol: Column =
    transform(call_function("graft_bytes_u8", col("code")),
      u => (u.cast("double") - lit(128.0)) * col("scale"))

  /** Materialize the packed codes as a fresh store at `dest`. */
  def buildAt(dest: String, embeddings: DataFrame): Unit = {
    val codes = encoded(embeddings)
    ServingStores.buildTimeline(codes, "vid", dest,
      buckets = ServingStores.bucketsFor(codes))
  }

  /** Append a NEW batch's codes at batch cost — exact by construction
    * (per-row encode: no trained state, so append ≡ rebuild exactly).
    */
  def appendBatch(spark: SparkSession, dest: String, batch: DataFrame): Unit =
    ServingStores.appendTimeline(encoded(batch), dest)

  /** Id-keyed overwrite: the batch's ids are tombstoned and re-encoded in
    * one commit.
    */
  def upsertBatch(spark: SparkSession, dest: String, batch: DataFrame): Unit =
    ServingStores.upsertTimeline(encoded(batch), "vid", dest)

  /** Tombstone-only delete; purged at the next [[compact]]. */
  def deleteIds(spark: SparkSession, dest: String, ids: Seq[Long]): Unit =
    ServingStores.deleteIds(spark, dest, "vid", ids)

  /** Fold to one vid-sorted file per bucket, tombstoned rows dropped
    * ([[ServingStores.compact]]).
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

  /** [[Similarity.sq8TopK]] served from the persisted codes: identical
    * ranking (the decode reproduces the audit's dequantized doubles
    * bit-for-bit), but the candidate scan reads d+8 bytes/vector from
    * the store — the raw vectors join in only for the query's own
    * vector and the top-`rerank` survivors' exact rerank.
    * Returns (vec_id, approx_cosine, cosine).
    */
  def topKAt(spark: SparkSession, dest: String, emb: DataFrame,
             queryId: Long, k: Int, rerank: Int = 40): DataFrame = {
    require(rerank >= k, "Sq8Store.topKAt: rerank must be >= k")
    GraftFunctions.register(spark)
    val withV = emb.select(col("vec_id").cast("long").as("vid"),
      expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
    val qv = withV.filter(col("vid") === queryId)
      .select(col("v").as("qv"))
    val cands = ServingStores.read(spark, dest)
      .filter(col("vid") =!= queryId)
      .withColumn("__dq", decodeCol)
      .crossJoin(broadcast(qv))
      .select(col("vid"),
        round(Similarity.cosineFast("__dq", "qv"), 6).as("approx_cosine"))
      .orderBy(col("approx_cosine").desc, col("vid").asc)
      .limit(rerank)
    cands.join(withV, "vid")
      .crossJoin(broadcast(qv))
      .select(col("vid").as("vec_id"), col("approx_cosine"),
        round(Similarity.cosineFast("v", "qv"), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  def topK(spark: SparkSession, sfDir: String, queryId: Long, k: Int,
           rerank: Int = 40): DataFrame =
    topKAt(spark, ensureBuilt(spark, sfDir), Tables.embeddings(spark, sfDir),
      queryId, k, rerank)

  /** Multi-query face for the recall audit ([[Similarity.sq8TopKMultiQuery]]
    * over the persisted codes). Returns (qid, vec_id).
    */
  def topKMultiAt(spark: SparkSession, dest: String, emb: DataFrame,
                  maxQid: Long, k: Int, rerank: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(spark)
    val withV = emb.select(col("vec_id").cast("long").as("vid"),
      expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
    val qs = withV.filter(col("vid") < maxQid)
      .select(col("vid").as("qid"), col("v").as("qv"))
    val cands = ServingStores.read(spark, dest)
      .withColumn("__dq", decodeCol)
      .crossJoin(broadcast(qs))
      .filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"),
        round(Similarity.cosineFast("__dq", "qv"), 6).as("approx_cosine"))
      .withColumn("__rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("approx_cosine").desc, col("vid").asc)))
      .filter(col("__rn") <= rerank)
      .drop("__rn")
    cands.join(withV, "vid")
      .join(broadcast(qs), "qid")
      .select(col("qid"), col("vid"),
        round(Similarity.cosineFast("v", "qv"), 6).as("cosine"))
      .withColumn("__rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("cosine").desc, col("vid").asc)))
      .filter(col("__rn") <= k)
      .select(col("qid"), col("vid").as("vec_id"))
  }

  def topKMulti(spark: SparkSession, sfDir: String, maxQid: Long, k: Int,
                rerank: Int = 40): DataFrame =
    topKMultiAt(spark, ensureBuilt(spark, sfDir),
      Tables.embeddings(spark, sfDir), maxQid, k, rerank)
}
