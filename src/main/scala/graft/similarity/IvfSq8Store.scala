package graft.similarity

import graft.expressions.GraftFunctions
import graft.util.{AtomicRewrite, Stamp, StoreLock, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** IVF × SQ8 composed index (FAISS IndexIVFScalarQuantizer) — the two
  * measured wins COMPOUNDED: [[IvfStore]] buys partition pruning (a
  * probe reads ~N·nprobe/nCentroids of the corpus but 4d bytes/vector);
  * [[Sq8Store]] buys byte compression (d+8 bytes/vector, measured FREE
  * at recall@10 = 1.0 on this corpus — but scans ALL N). Here the
  * candidate pass reads (d+8) bytes × N·nprobe/nCentroids: the probe
  * clusters prune to partition DIRECTORIES at planning time and each
  * surviving row is an int8 code + one fp64 scale. Against IVFADC this
  * trades more bytes/candidate (d+8 vs m) for ZERO quantization recall
  * loss inside the probed cells — the right point on the grid when the
  * cluster ceiling, not the code, is the recall bottleneck (SCALE.md).
  *
  * Layout:
  *   - `centroids.parquet` (cid, cv double[dim]) — the coarse quantizer
  *     persisted as its own artifact ([[IvfPqStore]]'s contract: the
  *     index identity survives upserts to any data row).
  *   - `codes.parquet`, PARTITIONED BY cluster: (vid, code binary[d],
  *     scale, __gen), sorted (cluster, vid).
  *   - `byid.parquet` — the vid-range-BUCKETED forward table
  *     ([[IvfStore]]'s layout; width persisted in [[AnnMeta]]).
  *
  * Maintenance lifecycle: [[appendBatch]] assigns a NEW batch against
  * the FROZEN persisted centroids and encodes per-row — and because
  * BOTH artifacts are deterministic (seed centroids; per-row scalar
  * quantization has no trained state), append ≡ full rebuild EXACTLY
  * (spec-asserted), the strongest contract in the family.
  * [[upsertBatch]]/[[deleteIds]]/[[compact]] ride the shared
  * Tombstones/StoreLock/AtomicRewrite machinery; the compact folds
  * codes and byid in ONE stamp-guarded transaction.
  */
object IvfSq8Store {

  val DefaultNumCentroids = 8

  /** Serve width gated by `q_ann_ivfsq8_served` — 2 probed directories
    * of the 8 (the multi-probe knob, same formula as IVFADC's).
    */
  val DefaultNprobe = 2

  def defaultDir(sfDir: String): String = {
    graft.util.StoreDirs.resolve("ivfsq8-store-v1", sfDir)
  }

  private def writeCodes(enc: DataFrame, path: String, mode: String): Unit =
    enc.select(col("vid"), col("code"), col("scale"), col("__gen"),
        col("cluster"))
      .repartition(col("cluster"))
      .sortWithinPartitions(col("cluster"), col("vid"))
      .write.mode(mode).partitionBy("cluster").parquet(path)

  private def writeById(assigned: DataFrame, path: String, mode: String,
                        width: Int): Unit =
    assigned.select(col("vid"), col("cluster"), col("__gen"))
      .withColumn("bucket", expr(s"vid DIV $width"))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("vid"))
      .write.mode(mode).partitionBy("bucket").parquet(path)

  /** Materialize centroids + cluster-partitioned SQ8 codes + bucketed
    * forward table; generation 0, stale tombstones cleared,
    * hyperparameters persisted FIRST.
    */
  def buildAt(dest: String, embeddings: DataFrame,
              nCentroids: Int = DefaultNumCentroids): Unit = {
    GraftFunctions.register(embeddings.sparkSession)
    val dim = embeddings.select(size(col("embedding"))).head().getInt(0)
    val (maxVid, nRows) = IvfStore.corpusStats(embeddings, "IvfSq8Store")
    val width = IvfStore.byidWidth(maxVid, IvfStore.DefaultByidBuckets)
    AnnMeta.write(dest, "nCentroids" -> nCentroids, "dim" -> dim,
      "byidBuckets" -> IvfStore.DefaultByidBuckets, "byidWidth" -> width)
    graft.search.RetrainPolicy.recordTrainMass(dest, nRows)
    graft.util.Tombstones.clear(dest)
    val assigned = Similarity.ivfAssign(embeddings, "vec_id", "embedding",
        nCentroids)
      .select(col("vec_id").cast("long").as("vid"), col("cluster"))
      .withColumn("__gen", lit(0L))
    Similarity.centroidFrame(embeddings, "vec_id", "embedding", nCentroids)
      .coalesce(1).write.mode("overwrite").parquet(s"$dest/centroids.parquet")
    writeCodes(Sq8Store.encoded(embeddings)
      .join(assigned, "vid"), s"$dest/codes.parquet", "overwrite")
    writeById(assigned, s"$dest/byid.parquet", "overwrite", width)
  }

  /** Append a NEW batch: frozen persisted centroids + per-row encode —
    * both artifacts deterministic, so append ≡ full rebuild EXACTLY
    * when the base keeps the seed ids (spec-asserted).
    */
  def appendBatch(spark: SparkSession, dest: String, batch: DataFrame): Unit =
    StoreLock.withLock(dest, "append") {
      appendEncoded(spark, dest, batch, graft.util.Tombstones.nextGen(dest))
    }

  /** Id-keyed overwrite (shared Tombstones contract): tombstone-first,
    * re-assign + re-encode at the same generation. Any id is editable —
    * the centroids are a persisted artifact ([[IvfPqStore]]'s contract).
    */
  def upsertBatch(spark: SparkSession, dest: String, batch: DataFrame): Unit =
    StoreLock.withLock(dest, "append") {
      val gen = graft.util.Tombstones.nextGen(dest)
      graft.util.Tombstones.write(batch.select(col("vec_id")), dest, gen)
      appendEncoded(spark, dest, batch, gen)
    }

  /** Tombstone-only delete; purged physically at the next [[compact]]. */
  def deleteIds(spark: SparkSession, dest: String, ids: Seq[Long]): Unit =
    StoreLock.withLock(dest, "append") {
      import spark.implicits._
      graft.util.Tombstones.write(ids.toDF("vec_id"), dest,
        graft.util.Tombstones.nextGen(dest))
    }

  private def appendEncoded(spark: SparkSession, dest: String,
                            batch: DataFrame, gen: Long): Unit = {
    GraftFunctions.register(spark)
    val width = AnnMeta.readKey(dest, "byidWidth")
    val cents = spark.read.parquet(s"$dest/centroids.parquet")
    val assigned = Similarity.assignToCentroids(batch, "vec_id", "embedding",
        cents)
      .select(col("vec_id").cast("long").as("vid"), col("cluster"))
      .withColumn("__gen", lit(gen))
    writeCodes(Sq8Store.encoded(batch)
      .join(assigned, "vid"), s"$dest/codes.parquet", "append")
    writeById(assigned, s"$dest/byid.parquet", "append", width)
  }

  private def liveCodes(spark: SparkSession, dest: String): DataFrame =
    graft.util.Tombstones.dropDead(spark, dest,
      spark.read.parquet(s"$dest/codes.parquet"), "vid")

  private def liveById(spark: SparkSession, dest: String): DataFrame =
    graft.util.Tombstones.dropDead(spark, dest,
      spark.read.parquet(s"$dest/byid.parquet"), "vid")

  /** Fold codes + byid to one generation per sub-table in ONE
    * stamp-guarded transaction; tombstoned rows purged, clear inside
    * the transaction (the family invariant).
    */
  def compact(spark: SparkSession, dest: String): Unit =
    StoreLock.withLock(dest, "compact") {
      val codes = liveCodes(spark, dest).withColumn("__gen", lit(0L))
      val byid = liveById(spark, dest).withColumn("__gen", lit(0L))
      val width = AnnMeta.readKey(dest, "byidWidth")
      AtomicRewrite.rewriteMany(dest, Seq(
        s"$dest/codes.parquet" -> (tmp => writeCodes(codes, tmp, "overwrite")),
        s"$dest/byid.parquet" -> (tmp => writeById(byid, tmp, "overwrite", width))),
        inTxn = () => graft.util.Tombstones.clear(dest))
    }

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

  /** Serve width for the auto configuration — [[IvfPqStore.AutoNprobe]]'s
    * contract; callers clamp it to the persisted cell count
    * (`LEAST(AutoNprobe, nc)` on the oracle side) so a corpus with
    * N ≤ AutoCellSize, which builds ONE cell, still satisfies
    * [[topKAt]]'s nprobe ≤ nCentroids contract.
    */
  val AutoNprobe = 2

  /** k ∝ N made executable for the COMPOSED store ([[IvfStore
    * .ensureBuiltAuto]]'s pattern): nCentroids = ⌈N / AutoCellSize⌉
    * resolved from the corpus count at build time and persisted in
    * params.txt. This is what restores the composition's whole point at
    * scale — at the fixed [[DefaultNumCentroids]] = 8 the candidate pass
    * reads a CONSTANT nprobe/8 = 25% of the corpus at ANY size, whereas
    * here a probe reads ~AutoCellSize·nprobe int8 rows no matter how
    * large N grows (cells multiply instead of fattening). Gated by
    * `q_ann_ivfsq8_auto` (oracle derives the same count-based nCentroids
    * in SQL); accuracy measured by `q_ann_recall_ivfsq8_auto` over the
    * shared persisted truth.
    */
  def ensureBuiltAuto(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir) + "__auto"
    val stamp = Stamp.sourceStamp(sfDir, "embeddings.parquet")
    if (!Stamp.isFresh(dest, stamp)) {
      graft.search.StoreAdmin.truncate(dest)
      val emb = Tables.embeddings(spark, sfDir)
      buildAt(dest, emb,
        Similarity.autoK(emb.count(), IvfStore.AutoCellSize))
      Stamp.write(dest, stamp)
    }
    dest
  }

  /** Probe-cluster literals for a query: nprobe = 1 resolves from the
    * bucketed forward table (one pruned point read — rank 1 IS the
    * assignment); wider probes rank the persisted centroid table by the
    * exact assignment formula ([[IvfPqStore.topKAt]]'s contract).
    */
  private def probeClusters(spark: SparkSession, dest: String, emb: DataFrame,
                            queryId: Long, nprobe: Int): Seq[Long] =
    if (nprobe == 1) {
      val width = AnnMeta.readKey(dest, "byidWidth")
      val hit = liveById(spark, dest)
        .filter(col("bucket") === lit(queryId / width) &&
          col("vid") === queryId)
        .collect().headOption
      require(hit.nonEmpty,
        s"IvfSq8Store: query id $queryId is not live in store $dest " +
          "(never indexed, or deleted) — index it or query by vector")
      Seq(hit.get.getAs[Number]("cluster").longValue())
    } else {
      val qv = emb.filter(col("vec_id") === queryId)
        .select(expr("CAST(embedding AS ARRAY<DOUBLE>)").as("__qv"))
      val probes = spark.read.parquet(s"$dest/centroids.parquet")
        .crossJoin(broadcast(qv))
        .select(col("cid"), expr(
          """round(graft_dot(__qv, cv) /
            |  (sqrt(graft_dot(__qv, __qv)) * sqrt(graft_dot(cv, cv))), 6)"""
            .stripMargin).as("__sim"))
        .orderBy(col("__sim").desc, col("cid").asc)
        .limit(nprobe)
        .collect().map(_.getAs[Number]("cid").longValue()).toSeq
      // mirror the nprobe==1 contract: a never-indexed (or deleted) query
      // id yields an empty qv here, which would otherwise flow through as
      // an empty probe set and a SILENTLY empty top-k
      require(probes.nonEmpty,
        s"IvfSq8Store: query id $queryId has no vector in the supplied " +
          s"embeddings (store $dest) — index it or query by vector")
      probes
    }

  /** SQ8-decoded candidate scoring inside the probe clusters' partition
    * directories + exact rerank: the candidate scan reads (d+8) bytes ×
    * N·nprobe/nCentroids — pruned at planning time AND compressed.
    * Returns (vec_id, approx_cosine, cosine).
    */
  def topKAt(spark: SparkSession, dest: String, emb: DataFrame,
             queryId: Long, k: Int, rerank: Int = 40,
             nprobe: Int = DefaultNprobe): DataFrame = {
    require(rerank >= k, "IvfSq8Store.topKAt: rerank must be >= k")
    require(nprobe >= 1 && nprobe <= AnnMeta.readKey(dest, "nCentroids"),
      "IvfSq8Store.topKAt: bad nprobe")
    GraftFunctions.register(spark)
    val probes = probeClusters(spark, dest, emb, queryId, nprobe)
    val withV = emb.select(col("vec_id").cast("long").as("vid"),
      expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
    val qv = withV.filter(col("vid") === queryId)
      .select(col("v").as("qv"))
    // the nprobe==1 path proves the id live in the STORE but not in
    // `emb` — an absent query row here would cross-join to zero rows and
    // return a silently empty top-k (same shape the probe guard names)
    require(!qv.isEmpty,
      s"IvfSq8Store.topKAt: query id $queryId has no vector in the " +
        s"supplied embeddings (store $dest) — index it or query by vector")
    val cands = liveCodes(spark, dest)
      .filter(col("cluster").isin(probes: _*))
      .filter(col("vid") =!= queryId)
      .withColumn("__dq", Sq8Store.decodeCol)
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
           rerank: Int = 40, nprobe: Int = DefaultNprobe): DataFrame =
    topKAt(spark, ensureBuilt(spark, sfDir), Tables.embeddings(spark, sfDir),
      queryId, k, rerank, nprobe)

  /** Multi-query face for the recall audit: per-query top-nprobe probe
    * set (the exact assignment formula), SQ8-decoded candidates inside
    * the probed clusters, exact rerank. Returns (qid, vec_id).
    */
  def topKMultiAt(spark: SparkSession, dest: String, emb: DataFrame,
                  maxQid: Long, k: Int, rerank: Int = 40,
                  nprobe: Int = DefaultNprobe): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(spark)
    val withV = emb.select(col("vec_id").cast("long").as("vid"),
      expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
    val qs = withV.filter(col("vid") < maxQid)
      .select(col("vid").as("qid"), col("v").as("qv"))
    val centsArr = spark.read.parquet(s"$dest/centroids.parquet")
      .agg(collect_list(struct(col("cid"), col("cv"))).as("__cents"))
    val probes = qs.crossJoin(broadcast(centsArr))
      .select(col("qid"), col("qv"), explode(expr(
        """transform(__cents, c -> struct(
          |  round(graft_dot(qv, c.cv) /
          |    (sqrt(graft_dot(qv, qv)) * sqrt(graft_dot(c.cv, c.cv))), 6) AS sim,
          |  c.cid AS cid))""".stripMargin)).as("__p"))
      .withColumn("__rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("__p.sim").desc, col("__p.cid").asc)))
      .filter(col("__rn") <= nprobe)
      .select(col("qid"), col("__p.cid").as("cluster"))
    val cands = liveCodes(spark, dest)
      .withColumn("__dq", Sq8Store.decodeCol)
      .join(broadcast(probes), "cluster")
      .join(broadcast(qs), "qid")
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
                rerank: Int = 40, nprobe: Int = DefaultNprobe): DataFrame =
    topKMultiAt(spark, ensureBuilt(spark, sfDir),
      Tables.embeddings(spark, sfDir), maxQid, k, rerank, nprobe)
}
