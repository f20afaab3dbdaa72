package graft.similarity

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.search.ServingStores
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The serving-store maintenance lifecycle ([[graft.search.ServingStores]]'
  * append/compact contract) applied to the ANN family: each store admits
  * NEW vectors at batch cost, the appended store serves them immediately,
  * and compaction bounds the file count without changing a single result.
  * Contracts differ per store and are asserted as such:
  *  - SRP: append ≡ full rebuild EXACTLY (signatures are per-row);
  *  - IVF: append under the store's frozen seed centroids ≡ full rebuild
  *    EXACTLY (the rebuild's seeds — base ids < NumCentroids — are
  *    unchanged by new higher ids);
  *  - PQ: frozen-codebook contract — new codes in the shipped space,
  *    codebook and existing codes byte-untouched.
  */
class AnnStoreLifecycleSpec extends SparkSpec {
  import spark.implicits._

  // deterministic 16-dim fixture: 3 loose clusters, ids 0..39;
  // vector 35 (appended) is a near-duplicate of vector 2 (base), so a
  // query at 2 must surface 35 once the stores absorb the batch
  private def vec(seed: Int): Array[Float] =
    Array.tabulate(16) { i =>
      val c = seed % 3
      (c - 1).toFloat + 0.08f * ((seed * 31 + i * 7) % 11) + 0.01f * i
    }
  private lazy val all: DataFrame = ((0 until 40).map {
    case 35 => (35L, vec(2).map(x => x + 0.001f))
    case i  => (i.toLong, vec(i))
  }).toDF("vec_id", "embedding")
  private lazy val base = all.filter(col("vec_id") < 32)
  private lazy val batch = all.filter(col("vec_id") >= 32)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def parquetFiles(path: String): Int = {
    val s = Files.walk(Paths.get(path))
    try s.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .count().toInt
    finally s.close()
  }

  /** bucket=N partition directories of a byid forward table. */
  private def bucketDirs(path: String): Seq[String] = {
    val s = Files.list(Paths.get(path))
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("bucket="))
      .map(_.getFileName.toString).toSeq
    finally s.close()
  }

  /** Max parquet files in any one bucket dir — the per-bucket file
    * bound compaction restores (the TOTAL count is constant when every
    * generation landed in disjoint vid ranges, so it is per-bucket
    * fragmentation that measures fold quality for a bucketed table).
    */
  private def maxFilesPerBucket(path: String): Int =
    bucketDirs(path).map(b => parquetFiles(s"$path/$b")).max

  test("SrpStore: append ≡ full rebuild exactly; compact bounds files, " +
      "results and stamp unchanged") {
    val dest = Files.createTempDirectory("graft-srp-life").toString
    val full = Files.createTempDirectory("graft-srp-full").toString
    SrpStore.buildAt(dest, base)
    SrpStore.appendBatch(dest, batch)
    SrpStore.buildAt(full, all)
    val sigAppended = SrpStore.read(spark, dest)
    val sigRebuilt = SrpStore.read(spark, full)
    assert(rows(sigAppended).sorted == rows(sigRebuilt).sorted,
      "appended signature table must equal a full rebuild")
    val served = rows(SrpStore.topKOver(sigAppended, all, queryId = 2L, k = 5))
    assert(served == rows(SrpStore.topKOver(sigRebuilt, all, 2L, 5)))
    assert(served.exists(_.contains("[35,")),
      s"planted near-dup 35 missing from $served")
    // compact: fewer files, same rows, stamp survives
    graft.util.Stamp.write(dest, "stamp-s")
    val before = ServingStores.dataFileCount(dest)
    SrpStore.compact(spark, dest)
    assert(ServingStores.dataFileCount(dest) < before)
    assert(graft.util.Stamp.isFresh(dest, "stamp-s"))
    assert(rows(SrpStore.topKOver(SrpStore.read(spark, dest), all, 2L, 5))
      == served)
    // id-keyed overwrite: move vector 35 FAR from 2 — the near-dup hit
    // must vanish from the served ranking; delete+compact purges
    SrpStore.upsertBatch(spark, dest,
      Seq((35L, vec(7).map(x => x + 0.002f))).toDF("vec_id", "embedding"))
    val afterEdit = rows(SrpStore.topKOver(SrpStore.read(spark, dest), 
      all.filter(col("vec_id") =!= 35L).unionAll(
        Seq((35L, vec(7).map(x => x + 0.002f))).toDF("vec_id", "embedding")),
      2L, 5))
    assert(!afterEdit.exists(_.startsWith("[35,")),
      s"edited-away vector still served as a neighbor: $afterEdit")
    SrpStore.deleteIds(spark, dest, Seq(34L))
    assert(!rows(SrpStore.read(spark, dest)).exists(_.startsWith("[34,")))
    SrpStore.compact(spark, dest)
    assert(!ServingStores.hasTombstones(dest))
    assert(!rows(SrpStore.read(spark, dest)).exists(_.startsWith("[34,")))
  }

  test("SrpStore and Sq8Store size their buckets to their input: a " +
      "source larger than the task slots' scan splits spreads over more " +
      "buckets, and append, compact and read serve what a small store serves") {
    val src = Files.createTempDirectory("graft-sized-src").toString + "/emb"
    all.write.parquet(src)
    def emb = spark.read.parquet(src)
    val oneSrp = Files.createTempDirectory("graft-sized-srp1").toString
    val oneSq8 = Files.createTempDirectory("graft-sized-sq81").toString
    SrpStore.buildAt(oneSrp, emb)
    Sq8Store.buildAt(oneSq8, emb)
    val slots = spark.sparkContext.defaultParallelism
    assert(ServingStores.dataFileCount(oneSrp) <= slots &&
      ServingStores.dataFileCount(oneSq8) <= slots,
      "a source under one scan split must build one bucket per task slot")
    def srpRows(d: String) = rows(SrpStore.read(spark, d)).sorted
    def sq8Rows(d: String) = rows(ServingStores.read(spark, d)
      .select(col("vid"), hex(col("code")), col("scale"))).sorted
    val split = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(split, "512")
    try {
      val srp = Files.createTempDirectory("graft-sized-srp").toString
      val sq8 = Files.createTempDirectory("graft-sized-sq8").toString
      SrpStore.buildAt(srp, emb.filter(col("vec_id") < 32))
      Sq8Store.buildAt(sq8, emb.filter(col("vec_id") < 32))
      val (srpFiles, sq8Files) =
        (ServingStores.dataFileCount(srp), ServingStores.dataFileCount(sq8))
      assert(srpFiles > slots && sq8Files > slots,
        s"a source over $slots scan splits built $srpFiles / $sq8Files buckets")
      SrpStore.appendBatch(srp, emb.filter(col("vec_id") >= 32))
      Sq8Store.appendBatch(spark, sq8, emb.filter(col("vec_id") >= 32))
      assert(srpRows(srp) == srpRows(oneSrp) && sq8Rows(sq8) == sq8Rows(oneSq8))
      SrpStore.compact(spark, srp)
      Sq8Store.compact(spark, sq8)
      // after the fold and its reclaim, each bucket dir holds one file
      def filesPerBucket(d: String): Seq[Int] = {
        graft.search.StoreAdmin.reclaim(d)
        val s = Files.list(Paths.get(d))
        try s.iterator().asScala.filter(_.getFileName.toString
            .startsWith("__bucket=")).map(b => parquetFiles(b.toString)).toSeq
        finally s.close()
      }
      for (d <- Seq(srp, sq8)) {
        val per = filesPerBucket(d)
        assert(per.size > 1 && per.forall(_ == 1),
          s"compact must fold each bucket of $d to one file: $per")
      }
      assert(srpRows(srp) == srpRows(oneSrp) && sq8Rows(sq8) == sq8Rows(oneSq8))
    } finally spark.conf.unset(split)
  }

  test("IvfStore: frozen-centroid append ≡ full rebuild exactly; single " +
      "stamp transaction for the two sub-tables on compact") {
    val dest = Files.createTempDirectory("graft-ivf-life").toString
    val full = Files.createTempDirectory("graft-ivf-full").toString
    IvfStore.buildAt(dest, base)
    IvfStore.appendBatch(spark, dest, batch)
    IvfStore.buildAt(full, all)
    // the whole forward table matches a rebuild — assignment is identical
    def byid(d: String) = rows(spark.read.parquet(s"$d/byid.parquet")
      .select(col("vec_id"), col("cluster"))).sorted
    assert(byid(dest) == byid(full))
    // the forward table is RANGE-BUCKETED (the round-14 verdict's weak:
    // a single-file byid serializes ~700 GB through one task at the
    // design point): multiple bucket dirs exist, the persisted width
    // maps vid -> bucket, and a point read PRUNES to one bucket
    // directory at planning time
    assert(bucketDirs(s"$dest/byid.parquet").size > 1,
      s"byid must write multiple range buckets: ${bucketDirs(s"$dest/byid.parquet")}")
    val width = AnnMeta.readKey(dest, "byidWidth")
    val pointPlan = spark.read.parquet(s"$dest/byid.parquet")
      .filter(col("bucket") === lit(2L / width) && col("vec_id") === 2L)
      .queryExecution.executedPlan.toString
    assert(pointPlan.contains("PartitionFilters") && pointPlan.contains("bucket"),
      s"byid point read must prune to one bucket directory:\n$pointPlan")
    val served = rows(IvfStore.topKAt(spark, dest, queryId = 2L, k = 5))
    assert(served == rows(IvfStore.topKAt(spark, full, 2L, 5)))
    assert(served.exists(_.startsWith("[35,")),
      s"planted near-dup 35 missing from $served")
    graft.util.Stamp.write(dest, "stamp-i")
    // upsert first so at least one bucket holds TWO generations — the
    // per-bucket fragmentation compact must fold back to one file
    IvfStore.upsertBatch(spark, dest,
      Seq((33L, vec(33))).toDF("vec_id", "embedding"))
    assert(maxFilesPerBucket(s"$dest/byid.parquet") > 1)
    IvfStore.compact(spark, dest)
    assert(maxFilesPerBucket(s"$dest/byid.parquet") == 1,
      "compact must fold every byid bucket to one file")
    assert(byid(dest) == byid(full),
      "compact over an identity upsert must preserve the forward table")
    assert(graft.util.Stamp.isFresh(dest, "stamp-i"))
    assert(rows(IvfStore.topKAt(spark, dest, 2L, 5)) == served)
    // id-keyed overwrite in the frozen-centroid space: 35 moves away,
    // the near-dup hit vanishes; deleteIds + compact purges physically
    IvfStore.upsertBatch(spark, dest,
      Seq((35L, vec(7).map(x => x + 0.002f))).toDF("vec_id", "embedding"))
    assert(!rows(IvfStore.topKAt(spark, dest, 2L, 5)).exists(_.startsWith("[35,")))
    IvfStore.deleteIds(spark, dest, Seq(34L))
    IvfStore.compact(spark, dest)
    assert(!Files.exists(Paths.get(dest, "_tombstones")))
    assert(spark.read.parquet(s"$dest/byid.parquet")
      .filter(col("vec_id") === 34L).count() == 0,
      "deleted id must be physically purged at compact")
  }

  test("IvfPqStore: frozen-space append — trained artifacts untouched, " +
      "probe partition-pruned, compact preserves results, upsert/delete") {
    val dest = Files.createTempDirectory("graft-ivfpq-life").toString
    IvfPqStore.buildAt(dest, base)
    // non-degeneracy guards (the adversarial-review lesson: seeding the
    // residual Lloyd round with the centroids' ZERO residuals used to
    // collapse every subspace codebook to one codeword, making all ADC
    // scores constant — while every hash gate stayed green, because the
    // oracle replayed the same degenerate algebra)
    val minCodewords = spark.read.parquet(s"$dest/codebook.parquet")
      .groupBy(col("s")).agg(countDistinct(col("cid")).as("n"))
      .agg(min(col("n"))).head().getLong(0)
    assert(minCodewords >= 2,
      s"residual codebook degenerate: min codewords/subspace = $minCodewords")
    val adcDistinct = IvfPqStore.topKAt(spark, dest, base, queryId = 2L, k = 5)
      .select(col("adc_cosine")).distinct().count()
    assert(adcDistinct > 1,
      "ADC scores constant across candidates — the codebook carries no discrimination")
    def codeRows(pred: org.apache.spark.sql.Column) =
      rows(spark.read.parquet(s"$dest/codes.parquet").filter(pred)
        .select(col("vid"), hex(col("code")), col("cluster"))).sorted
    val centsBefore = rows(spark.read.parquet(s"$dest/centroids.parquet")).sorted
    val cbBefore = rows(spark.read.parquet(s"$dest/codebook.parquet")).sorted
    val oldCodes = codeRows(col("vid") < 32)
    IvfPqStore.appendBatch(spark, dest, batch)
    assert(rows(spark.read.parquet(s"$dest/centroids.parquet")).sorted
      == centsBefore, "append must not move the coarse centroids")
    assert(rows(spark.read.parquet(s"$dest/codebook.parquet")).sorted
      == cbBefore, "append must not retrain the residual codebook")
    assert(codeRows(col("vid") < 32) == oldCodes,
      "append must not rewrite existing codes")
    // appended vectors: one m-byte packed row each, cluster-partitioned,
    // immediately searchable — the planted near-dup surfaces for query 2
    val appended = spark.read.parquet(s"$dest/codes.parquet")
      .filter(col("vid") >= 32)
    assert(appended.count() == 8L)
    val lens = appended.select(length(col("code"))).distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(lens == Seq(IvfPqStore.DefaultM), s"appended code byte-lengths: $lens")
    val probe = IvfPqStore.topKAt(spark, dest, all, queryId = 2L, k = 5)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"IVFPQ probe must prune the codes scan to the probe cluster's " +
        s"partition directory:\n$plan")
    val served = rows(probe)
    assert(served.exists(_.startsWith("[35,")),
      s"planted near-dup 35 missing from $served")
    graft.util.Stamp.write(dest, "stamp-ip")
    // bucketed forward table: parallel write, per-bucket fold at compact
    assert(bucketDirs(s"$dest/byid.parquet").size > 1,
      s"byid must write multiple range buckets: ${bucketDirs(s"$dest/byid.parquet")}")
    IvfPqStore.upsertBatch(spark, dest,
      Seq((33L, vec(33))).toDF("vec_id", "embedding"))
    assert(maxFilesPerBucket(s"$dest/byid.parquet") > 1)
    IvfPqStore.compact(spark, dest)
    assert(maxFilesPerBucket(s"$dest/byid.parquet") == 1,
      "compact must fold every byid bucket to one file")
    assert(graft.util.Stamp.isFresh(dest, "stamp-ip"))
    assert(rows(IvfPqStore.topKAt(spark, dest, all, 2L, 5)) == served)
    // nprobe (the IVFADC recall/cost knob): the multi-probe SERVED path
    // must agree with the ad-hoc multi-query path over the same one-shot
    // artifacts (deterministic train ⇒ identical codebooks/codes)
    val destFull = Files.createTempDirectory("graft-ivfpq-np").toString
    IvfPqStore.buildAt(destFull, all)
    val npProbe = IvfPqStore.topKAt(spark, destFull, all, queryId = 2L,
      k = 5, rerank = 40, nprobe = 3)
    // the FUSED multi-probe shape: ONE codes scan pruned by an IN-set of
    // probe clusters (not nprobe unioned branches), candidate path
    // exchange-free — the per-probe LUTs ride one broadcast map
    val npPlan = npProbe.queryExecution.executedPlan.toString
    assert(npPlan.contains("PartitionFilters: [cluster") &&
      npPlan.contains(" IN ("),
      s"multi-probe serve must prune ONE scan by an IN-set of clusters:\n$npPlan")
    assert(!npPlan.contains("Union"),
      s"multi-probe serve regressed to per-probe union branches:\n$npPlan")
    val servedNp = rows(npProbe.select(col("vec_id"))).sorted
    val adhocNp = rows(Similarity.ivfPqTopKMultiQuery(all, "vec_id",
      "embedding", maxQid = 3, k = 5, nCentroids = 8, m = 8, ksub = 8,
      rerank = 40, nprobe = 3).filter(col("qid") === 2L)
      .select(col("vec_id"))).sorted
    assert(servedNp == adhocNp,
      s"served nprobe=3 $servedNp must equal the ad-hoc multi path $adhocNp")
    // id-keyed overwrite in the frozen space: 35 re-assigns + re-encodes
    // far from 2 and leaves the neighborhood; deleteIds + compact purges
    val moved = Seq((35L, vec(7).map(x => x + 0.002f))).toDF("vec_id", "embedding")
    IvfPqStore.upsertBatch(spark, dest, moved)
    val allEdited = all.filter(col("vec_id") =!= 35L).unionAll(moved)
    assert(!rows(IvfPqStore.topKAt(spark, dest, allEdited, 2L, 5))
      .exists(_.startsWith("[35,")))
    IvfPqStore.deleteIds(spark, dest, Seq(34L))
    IvfPqStore.compact(spark, dest)
    assert(!Files.exists(Paths.get(dest, "_tombstones")))
    assert(spark.read.parquet(s"$dest/codes.parquet")
      .filter(col("vid") === 34L).count() == 0,
      "deleted id's codes must be physically purged at compact")
    assert(spark.read.parquet(s"$dest/byid.parquet")
      .filter(col("vid") === 34L).count() == 0,
      "deleted id must leave the forward table at compact")
  }

  test("SrpLabelStore: label-partitioned sketch — served filtered top-k " +
      "equals the predicate-inside-scan shape, the scan PRUNES to the " +
      "label partition, label edits re-home rows, compact folds") {
    val dest = Files.createTempDirectory("graft-srplab-life").toString
    val full = Files.createTempDirectory("graft-srplab-full").toString
    def lab(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("label", (col("vec_id") % 3).cast("int"))
    SrpLabelStore.buildAt(dest, lab(base))
    SrpLabelStore.appendBatch(dest, lab(batch))
    SrpLabelStore.buildAt(full, lab(all))
    def sigs(d: String) = rows(SrpLabelStore.read(spark, d)
      .select(col("vec_id"), col("label"), col("__w0"), col("__w1"),
        col("__w2"), col("__w3"))).sorted
    assert(sigs(dest) == sigs(full),
      "appended label-partitioned store must equal a full rebuild")
    // served filtered top-k ≡ the predicate-inside-scan shape (layout,
    // not algebra) — and the near-dup 35 shares 2's label (both % 3 = 2)
    val served = rows(SrpLabelStore.topKFilteredAt(spark, dest, lab(all),
      queryId = 2L, k = 5))
    assert(served == rows(Similarity.srpTopKFiltered(lab(all), "vec_id",
      "embedding", queryId = 2L, k = 5, pred = col("label") === lit(2))),
      "served filtered ranking must equal srpTopKFiltered")
    assert(served.exists(_.startsWith("[35,")),
      s"planted same-label near-dup 35 missing from $served")
    // the point of the layout: the sketch scan opens the files of ONE
    // bucket directory only, and the exact label predicate rides the
    // pruned within-bucket scan
    val opened = graft.util.LocalScan.opened(
      SrpLabelStore.topKFilteredAt(spark, dest, lab(all), 2L, 5))._2
      .filter(_.startsWith(dest))
    val scannedDirs = opened.map(_.split("/").init.last).distinct
    assert(scannedDirs.length == 1 && scannedDirs.head.startsWith("__bucket="),
      s"filtered serve read files outside one bucket: $opened")
    // label EDIT via upsert: vector 35 moves to label 0 — it must leave
    // label 2's partition (the tombstone is id-keyed, not partition-keyed)
    SrpLabelStore.upsertBatch(spark, dest,
      lab(batch.filter(col("vec_id") === 35L))
        .withColumn("label", lit(0)))
    val relabeled = SrpLabelStore.read(spark, dest)
      .filter(col("vec_id") === 35L)
      .select(col("label")).collect().map(_.getInt(0)).toSeq
    assert(relabeled == Seq(0), s"edited label rows: $relabeled")
    assert(!rows(SrpLabelStore.topKFilteredAt(spark, dest, lab(all), 2L, 5))
      .exists(_.startsWith("[35,")),
      "re-labeled vector must leave its old label's filtered results")
    SrpLabelStore.deleteIds(spark, dest, Seq(34L))
    SrpLabelStore.compact(spark, dest)
    // no tombstone left, so the read applies none: what it serves is
    // what the listed files physically hold
    assert(!ServingStores.hasTombstones(dest))
    assert(SrpLabelStore.read(spark, dest)
      .filter(col("vec_id") === 34L).count() == 0,
      "deleted id must be physically purged at compact")
    assert(SrpLabelStore.read(spark, dest)
      .filter(col("vec_id") === 35L && col("label") === 2).count() == 0,
      "compact must not resurrect the old-label row")
  }

  test("SrpLabelStore: directory count is BOUNDED at high label " +
      "cardinality (one bucket dir per hash bucket, never per label), " +
      "and filtered serving stays exact") {
    import spark.implicits._
    val dest = Files.createTempDirectory("graft-srplab-hicard").toString
    // 500 DISTINCT labels over 500 rows — the v1 raw-label layout would
    // write 500 partition directories here; the bucketed layout is
    // bounded by the build parameter at ANY cardinality
    val many = (0 until 500).map(i =>
        (i.toLong, Array.tabulate(16)(j =>
          ((i % 3) - 1).toFloat + 0.08f * ((i * 31 + j * 7) % 11)),
          i.toInt))
      .toDF("vec_id", "embedding", "label")
    SrpLabelStore.buildAt(dest, many)
    val dirs = {
      val s = Files.list(Paths.get(dest))
      try s.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("__bucket="))
        .map(_.getFileName.toString).toSeq
      finally s.close()
    }
    assert(dirs.nonEmpty && dirs.size <= SrpLabelStore.DefaultLabelBuckets,
      s"500 labels must land in <= ${SrpLabelStore.DefaultLabelBuckets} " +
        s"bucket dirs, got ${dirs.size}")
    // a label with exactly one member: the filtered top-k over it is
    // empty (no same-label neighbor exists) — exactness means NOT
    // leaking the bucket's 30-odd other labels into the results
    assert(SrpLabelStore.topKFilteredAt(spark, dest, many, 7L, 5).isEmpty,
      "singleton label must have an empty same-label top-k — bucket " +
        "neighbors with other labels may not leak through")
    // the driver-side routing and the executor-side bucketing agree —
    // every label's rows are IN the bucket its point read opens, so a
    // probe routed per label finds all 500 rows
    val routed = ServingStores.timelineProbeMany(spark, dest, "label",
      0 until 500).count()
    assert(routed == 500,
      s"${500 - routed} rows bucketed differently than the driver would probe")
  }

  test("Sq8Store: per-row int8 codes — append ≡ full rebuild exactly, " +
      "served ranking equals the in-plan audit, d+8-byte rows, " +
      "compact/upsert/delete") {
    val dest = Files.createTempDirectory("graft-sq8-life").toString
    val full = Files.createTempDirectory("graft-sq8-full").toString
    Sq8Store.buildAt(dest, base)
    Sq8Store.appendBatch(spark, dest, batch)
    Sq8Store.buildAt(full, all)
    // per-row encode: the appended store equals a rebuild value-for-value
    def codes(d: String) = rows(ServingStores.read(spark, d)
      .select(col("vid"), hex(col("code")), col("scale"))).sorted
    assert(codes(dest) == codes(full),
      "appended SQ8 codes must equal a full rebuild (no trained state)")
    // the byte contract the store exists for: d int8 codes + one fp64
    // scale per vector (vs 4d raw float bytes on the scan)
    val lens = ServingStores.read(spark, dest)
      .select(length(col("code"))).distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(lens == Seq(16), s"code byte-lengths (d=16 fixture): $lens")
    // served ranking ≡ the in-plan dequantization audit, bit-for-bit
    // (the decode (u−128)·s reproduces round(x/s)·s exactly)
    val served = rows(Sq8Store.topKAt(spark, dest, all, queryId = 2L, k = 5))
    assert(served == rows(Similarity.sq8TopK(all, "vec_id", "embedding",
      queryId = 2L, k = 5)),
      "served SQ8 ranking must equal the in-plan audit")
    assert(served.exists(_.startsWith("[35,")),
      s"planted near-dup 35 missing from $served")
    graft.util.Stamp.write(dest, "stamp-sq")
    val before = ServingStores.dataFileCount(dest)
    Sq8Store.compact(spark, dest)
    assert(ServingStores.dataFileCount(dest) < before)
    assert(graft.util.Stamp.isFresh(dest, "stamp-sq"))
    assert(rows(Sq8Store.topKAt(spark, dest, all, 2L, 5)) == served)
    // id-keyed overwrite: 35 re-encodes far from 2 and leaves the
    // neighborhood; deleteIds + compact purges physically
    val moved = Seq((35L, vec(7).map(x => x + 0.002f))).toDF("vec_id", "embedding")
    Sq8Store.upsertBatch(spark, dest, moved)
    val allEdited = all.filter(col("vec_id") =!= 35L).unionAll(moved)
    assert(!rows(Sq8Store.topKAt(spark, dest, allEdited, 2L, 5))
      .exists(_.startsWith("[35,")))
    Sq8Store.deleteIds(spark, dest, Seq(34L))
    Sq8Store.compact(spark, dest)
    // no tombstone left, so the read applies none: what it serves is
    // what the listed files physically hold
    assert(!ServingStores.hasTombstones(dest))
    assert(ServingStores.read(spark, dest)
      .filter(col("vid") === 34L).count() == 0,
      "deleted id's codes must be physically purged at compact")
  }

  test("IvfSq8Store: composed IVF×SQ8 — append ≡ full rebuild exactly " +
      "(both artifacts deterministic), probe prunes cluster partitions " +
      "AND reads d+8-byte rows, upsert/delete/compact") {
    val dest = Files.createTempDirectory("graft-ivfsq8-life").toString
    val full = Files.createTempDirectory("graft-ivfsq8-full").toString
    IvfSq8Store.buildAt(dest, base)
    IvfSq8Store.appendBatch(spark, dest, batch)
    IvfSq8Store.buildAt(full, all)
    // seed centroids + per-row encode: the appended store equals a full
    // rebuild value-for-value — the family's strongest append contract
    def codes(d: String) = rows(spark.read.parquet(s"$d/codes.parquet")
      .select(col("vid"), hex(col("code")), col("scale"), col("cluster"))).sorted
    assert(codes(dest) == codes(full),
      "appended IVF×SQ8 store must equal a full rebuild")
    // d+8-byte rows: d int8 codes packed + one fp64 scale
    val lens = spark.read.parquet(s"$dest/codes.parquet")
      .select(length(col("code"))).distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(lens == Seq(16), s"code byte-lengths (d=16 fixture): $lens")
    // the serve plan prunes the codes scan to the probe clusters'
    // partition directories (the IN-set shape, no per-probe unions)
    val probe = IvfSq8Store.topKAt(spark, dest, all, queryId = 2L, k = 5,
      rerank = 40, nprobe = 2)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"IVF×SQ8 probe must prune to the probe clusters' directories:\n$plan")
    assert(!plan.contains("Union"),
      s"multi-probe serve must be one pruned scan, not unions:\n$plan")
    val served = rows(probe)
    assert(served.exists(_.startsWith("[35,")),
      s"planted near-dup 35 missing from $served")
    graft.util.Stamp.write(dest, "stamp-isq")
    IvfSq8Store.compact(spark, dest)
    assert(graft.util.Stamp.isFresh(dest, "stamp-isq"))
    assert(rows(IvfSq8Store.topKAt(spark, dest, all, 2L, 5, 40, 2)) == served)
    // id-keyed overwrite: 35 re-assigns + re-encodes far from 2
    val moved = Seq((35L, vec(7).map(x => x + 0.002f))).toDF("vec_id", "embedding")
    IvfSq8Store.upsertBatch(spark, dest, moved)
    val allEdited = all.filter(col("vec_id") =!= 35L).unionAll(moved)
    assert(!rows(IvfSq8Store.topKAt(spark, dest, allEdited, 2L, 5, 40, 2))
      .exists(_.startsWith("[35,")))
    IvfSq8Store.deleteIds(spark, dest, Seq(34L))
    IvfSq8Store.compact(spark, dest)
    assert(!Files.exists(Paths.get(dest, "_tombstones")))
    assert(spark.read.parquet(s"$dest/codes.parquet")
      .filter(col("vid") === 34L).count() == 0,
      "deleted id's codes must be physically purged at compact")
    assert(spark.read.parquet(s"$dest/byid.parquet")
      .filter(col("vid") === 34L).count() == 0,
      "deleted id must leave the forward table at compact")
  }

  test("PqStore: frozen-codebook append — new vectors searchable, " +
      "codebook and old codes byte-untouched; compact preserves results") {
    val dest = Files.createTempDirectory("graft-pq-life").toString
    PqStore.buildAt(dest, base)
    // codes are PACKED: one row per vector, m bytes of subspace ordinals
    // (hex for value comparison — Row.toString of a byte array is
    // reference identity)
    def codeRows(pred: org.apache.spark.sql.Column) =
      rows(spark.read.parquet(s"$dest/codes.parquet").filter(pred)
        .select(col("vid"), hex(col("code")))).sorted
    val cbBefore = rows(spark.read.parquet(s"$dest/codebook.parquet")).sorted
    val oldCodes = codeRows(col("vid") < 32)
    PqStore.appendBatch(spark, dest, batch)
    assert(rows(spark.read.parquet(s"$dest/codebook.parquet")).sorted
      == cbBefore, "append must not retrain the codebook")
    assert(codeRows(col("vid") < 32) == oldCodes,
      "append must not rewrite existing codes")
    // appended vectors have ONE m-byte code row each, immediately
    // searchable
    val appended = spark.read.parquet(s"$dest/codes.parquet")
      .filter(col("vid") >= 32)
    assert(appended.count() == 8L)
    val pqLens = appended.select(length(col("code"))).distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(pqLens == Seq(PqStore.DefaultM), s"appended code byte-lengths: $pqLens")
    val served = rows(PqStore.topKAt(spark, dest, all, queryId = 2L, k = 5))
    assert(served.exists(_.startsWith("[35,")),
      s"planted near-dup 35 missing from $served")
    graft.util.Stamp.write(dest, "stamp-p")
    val before = parquetFiles(s"$dest/codes.parquet")
    PqStore.compact(spark, dest)
    assert(parquetFiles(s"$dest/codes.parquet") < before)
    assert(graft.util.Stamp.isFresh(dest, "stamp-p"))
    assert(rows(PqStore.topKAt(spark, dest, all, 2L, 5)) == served)
    // id-keyed overwrite in the frozen-codebook space: 35 re-encodes far
    // from 2 and leaves the neighborhood; deleteIds + compact purges
    val moved = Seq((35L, vec(7).map(x => x + 0.002f))).toDF("vec_id", "embedding")
    PqStore.upsertBatch(spark, dest, moved)
    val allEdited = all.filter(col("vec_id") =!= 35L).unionAll(moved)
    assert(!rows(PqStore.topKAt(spark, dest, allEdited, 2L, 5))
      .exists(_.startsWith("[35,")))
    PqStore.deleteIds(spark, dest, Seq(34L))
    PqStore.compact(spark, dest)
    assert(!Files.exists(Paths.get(dest, "_tombstones")))
    assert(spark.read.parquet(s"$dest/codes.parquet")
      .filter(col("vid") === 34L).count() == 0,
      "deleted id's codes must be physically purged at compact")
  }
}
