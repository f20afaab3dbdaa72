package graft.search

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.util.{ManifestLog, StoreFs}

/** Serving-store lifecycle admin — the engine's analogue of the
  * reference's collection cleanup (`Ranking Model/src/main/java/Main/
  * SolrCleanup.java:92-105`: `deleteByQuery("*:*")` + collection
  * deletion). The reference empties and drops Solr collections so a
  * pipeline can rebuild from scratch; here every persisted serving
  * artifact (BM25 inverted index + its segmented variant, SimHash
  * signature store, SRP / IVF / PQ / IVF-PQ ANN stores, and the
  * posting/timeline serving layouts) lives under a
  * [[graft.util.Stamp]]-guarded directory, so the lifecycle op is:
  * delete the directory INCLUDING its stamp. The next `ensureBuilt`
  * then rebuilds from the source corpus and serves — and because every
  * build is deterministic, a truncate + rebuild round trip is
  * byte-identical (spec-pinned in StoreAdminSpec for every store
  * family, and the `q_*_served` driver queries re-run green).
  *
  * Deleting the stamp WITH the data matters: a truncate that left a
  * fresh stamp behind would make the store look built while empty (the
  * failure mode [[graft.multimodal.MediaStore]] guards against by
  * writing the stamp last). `truncate` is idempotent — truncating an
  * absent store is a no-op, like deleteByQuery on an empty collection.
  */
object StoreAdmin {

  /** Every persisted store root for a source corpus dir. */
  def storeDirs(sfDir: String): Seq[String] = Seq(
    BM25Index.defaultDir(sfDir),
    BM25Index.defaultDir(sfDir) + "__incr",
    graft.dedup.SimHashStore.defaultDir(sfDir),
    graft.similarity.SrpStore.defaultDir(sfDir),
    graft.similarity.SrpStore.defaultDir(sfDir) + "__incr",
    graft.similarity.SrpStore.defaultDir(sfDir) + "__stream",
    graft.similarity.SrpLabelStore.defaultDir(sfDir),
    graft.similarity.IvfStore.defaultDir(sfDir),
    graft.similarity.IvfStore.defaultDir(sfDir) + "__incr",
    graft.similarity.IvfStore.defaultDir(sfDir) + "__auto",
    graft.similarity.IvfStore.defaultDir(sfDir) + "__policy",
    graft.similarity.PqStore.defaultDir(sfDir),
    graft.similarity.PqStore.defaultDir(sfDir) + "__incr",
    graft.similarity.PqStore.defaultDir(sfDir) + "__drift",
    graft.similarity.PqStore.defaultDir(sfDir) + "__driftfull",
    graft.similarity.PqStore.defaultDir(sfDir) + "__big",
    graft.similarity.IvfPqStore.defaultDir(sfDir),
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__incr",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__drift",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__driftfull",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__big",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__lloyd",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__lloydfull",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__lloydbig",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__lloydbigfull",
    graft.similarity.IvfPqStore.defaultDir(sfDir) + "__auto",
    graft.similarity.Sq8Store.defaultDir(sfDir),
    graft.similarity.IvfSq8Store.defaultDir(sfDir),
    graft.similarity.IvfSq8Store.defaultDir(sfDir) + "__auto",
    ServingStores.defaultDir(sfDir))

  /** Empty one store (data + stamp). Idempotent; the parent root and
    * other corpora's stores are untouched.
    */
  def truncate(dest: String): Unit = StoreFs.deleteRecursively(Paths.get(dest))

  /** Empty every store for a corpus — the "drop all collections" admin
    * sweep before a from-scratch rebuild.
    */
  def truncateAll(sfDir: String): Unit = storeDirs(sfDir).foreach(truncate)

  /** True iff no store for this corpus holds any artifact. */
  def isEmpty(sfDir: String): Boolean =
    storeDirs(sfDir).forall(d => !StoreFs.exists(Paths.get(d)))

  /** ONE-CALL maintenance sweep across every store family of a corpus —
    * the merge policy a real serving tier runs on a timer (Lucene's
    * TieredMergePolicy; the reference gets it from Solr's background
    * merges), where round 12 left only per-store verbs and nothing
    * deciding WHEN. Policy per family:
    *
    *  - FLAT artifact tables (PQ codes, IVF / IVF-PQ / IVF-SQ8 vectors,
    *    codes and byid): fold when the table holds ≥ `foldAtGenerations`
    *    WRITE GENERATIONS (distinct parquet job UUIDs — an absolute file
    *    count would misread a parallel base write as fragmentation).
    *  - BM25 indexes: fold whenever an appended segment exists (the
    *    per-query merge-read cost is per segment; compact ≡ merged-serve
    *    is spec-pinned, so folding never changes results).
    *  - Keyed stores ([[ServingStores]]): selective hot-bucket
    *    compaction, upgraded to a FULL fold whenever tombstones exist (a
    *    full pass is what clears them). Serving layouts
    *    (postings/timelines, incl. the incr/upsert twins) fold buckets
    *    holding ≥ `minFiles` files; the signature and ANN stores
    *    (SimHash, SRP and its twins, SRP-label, SQ8) at
    *    `foldAtGenerations`, since every write adds one file per bucket —
    *    a bucket's file count is its write generations.
    *
    * The thresholds are PARAMETERS because a real merge policy is tuned
    * per deployment (Lucene's tiered-merge factors): a write-heavy tier
    * raises `foldAtGenerations` to amortize rewrites, a
    * read-latency tier lowers them toward eager folding. The defaults are
    * the values every driver-gated chain has run under; results never
    * depend on them (compact ≡ rebuild is spec-pinned per family — the
    * knobs move COST, not answers).
    *
    * Idempotent: a second sweep finds one generation everywhere and no
    * hot buckets, and does nothing. Runs between jobs like [[gcOrphans]]
    * (which it ends with). A forgotten concurrent maintainer fails
    * loudly, not silently: the lock-guarded stores reject it at entry,
    * the manifest stores at its commit.
    * Wired into the driver-gated incr/upsert chains
    * ([[ServingStores.ensureOrdersTimelineIncr]] /
    * [[ServingStores.ensureOrdersTimelineUpsert]]), so the hash gate
    * exercises the sweep itself every round. Returns the actions taken.
    */
  def maintain(spark: org.apache.spark.sql.SparkSession, sfDir: String,
               minFiles: Int = 4, foldAtGenerations: Int = 2,
               retrainAt: Option[Double] = None): Seq[String] = {
    require(foldAtGenerations >= 2,
      "maintain: foldAtGenerations < 2 would re-fold a store every sweep" +
        " (one generation is the compacted steady state) — idempotence gone")
    val log = scala.collection.mutable.Buffer[String]()
    def sweepFlat(root: String, sub: String, fold: String => Unit): Unit = {
      val d = Paths.get(root, sub)
      if (StoreFs.isDirectory(d) && writeGenerations(d) >= foldAtGenerations) {
        fold(root)
        log += s"fold $root/$sub"
      }
    }
    for (suffix <- Seq("", "__incr", "__auto")) {
      val ivf = graft.similarity.IvfStore.defaultDir(sfDir) + suffix
      sweepFlat(ivf, "byid.parquet",
        d => graft.similarity.IvfStore.compact(spark, d))
    }
    for (suffix <- Seq("", "__incr", "__drift", "__driftfull", "__big",
        "__lloyd", "__lloydfull", "__lloydbig", "__lloydbigfull", "__auto")) {
      val ivfpq = graft.similarity.IvfPqStore.defaultDir(sfDir) + suffix
      sweepFlat(ivfpq, "byid.parquet",
        d => graft.similarity.IvfPqStore.compact(spark, d))
    }
    for (suffix <- Seq("", "__incr", "__drift", "__driftfull", "__big")) {
      val pq = graft.similarity.PqStore.defaultDir(sfDir) + suffix
      sweepFlat(pq, "codes.parquet",
        d => graft.similarity.PqStore.compact(spark, d))
    }
    for (suffix <- Seq("", "__auto")) {
      val ivfsq8 = graft.similarity.IvfSq8Store.defaultDir(sfDir) + suffix
      sweepFlat(ivfsq8, "codes.parquet",
        d => graft.similarity.IvfSq8Store.compact(spark, d))
    }
    // the BASE index only: the __incr twin's identity IS "base + open
    // segment" (its ensure re-checks the segments dir and would rebuild
    // from scratch every time a sweep folded it — q_keyword_bm25_incr
    // tests merged serving, which compaction is spec-equal to but must
    // not replace under the gate)
    val bm = BM25Index.defaultDir(sfDir)
    if (BM25Index.isBuilt(bm) && BM25Index.segments(bm).nonEmpty) {
      BM25Index.compact(spark, bm)
      log += s"fold $bm (segments)"
    }
    // a dir with no committed version (a build that crashed before its
    // first commit) has nothing to fold: its next build starts over
    def sweepKeyed(d: String, foldAt: Int): Unit =
      if (ManifestLog.versions(d).nonEmpty) {
        if (ServingStores.hasTombstones(d)) {
          ServingStores.compact(spark, d)
          log += s"purge $d"
        } else {
          val h = ServingStores.compactHotBuckets(spark, d, foldAt)
          if (h.nonEmpty) log += s"fold $d buckets=${h.mkString(",")}"
        }
      }
    for (name <- Seq("doc_postings", "doc_postings_incr", "doc_postings_upsert",
        "orders_by_cust", "orders_by_cust_incr", "orders_by_cust_upsert"))
      sweepKeyed(s"${ServingStores.defaultDir(sfDir)}/$name", minFiles)
    val srp = graft.similarity.SrpStore.defaultDir(sfDir)
    for (d <- Seq(graft.dedup.SimHashStore.defaultDir(sfDir), srp, srp + "__incr",
        srp + "__stream", graft.similarity.SrpLabelStore.defaultDir(sfDir),
        graft.similarity.Sq8Store.defaultDir(sfDir)))
      sweepKeyed(d, foldAtGenerations)
    // ROUTER RETRAIN (opt-in): the drift audits measured WHAT retraining
    // buys (`q_ann_drift_lloyd_big`: +0.095 recall@10 at production cell
    // counts — loss a rerank cannot recover); this is the hook that
    // DECIDES. [[RetrainPolicy.assess]]'s appended-mass proxy costs a
    // footer count per store, and past the threshold the rebuild runs
    // under the store lock. Opt-in (None default) because maintain is
    // wired into hash-gated serving chains where an implicit full
    // rebuild would be a surprising cost, and covering only the flat
    // IVF family here because it alone is SELF-CONTAINED (raw vectors
    // are the artifact — [[graft.similarity.IvfStore.rebuildFromSelf]]);
    // the compressed families (PQ/SQ8 codes cannot reconstruct their
    // corpus) retrain through RetrainPolicy.maybeRetrain with a
    // caller-supplied corpus. Stores built before the train-mass
    // contract are skipped (their next rebuild records one).
    retrainAt.foreach { t =>
      for (suffix <- Seq("", "__incr", "__auto")) {
        val d = graft.similarity.IvfStore.defaultDir(sfDir) + suffix
        if (StoreFs.isDirectory(Paths.get(d)) && RetrainPolicy.hasTrainMass(d)) {
          val dec = RetrainPolicy.maybeRetrain(spark, d, t)(
            graft.similarity.IvfStore.rebuildFromSelf(spark, d))
          if (dec.retrain)
            log += f"retrain $d stale=${dec.staleFraction}%.3f"
        }
      }
    }
    gcOrphans(sfDir).foreach(o => log += s"gc $o")
    log.toSeq
  }

  /** Distinct parquet write jobs that contributed files to `dir` — the
    * fragmentation signal [[maintain]] folds on: Spark names every data
    * file `part-NNNNN-<job uuid>-…`, so distinct UUIDs count appends
    * since the last fold, independent of write parallelism. Walks
    * RECURSIVELY so partitioned tables (the bucketed byid forward
    * tables, cluster-partitioned vectors/codes) count the same way flat
    * ones do — a flat listing would read a partitioned store as
    * permanently unfragmented and silently kill its sweep.
    */
  private def writeGenerations(dir: Path): Int = {
    val re = "part-\\d+-([0-9a-f-]{36})".r
    val s = Files.walk(dir)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .flatMap(p => re.findFirstMatchIn(p.getFileName.toString)
        .map(_.group(1)))
      .toSet.size
    finally s.close()
  }

  /** Reclaim one store root's rewrite leftovers — the disk-reclaim half
    * of crash recovery; correctness never depends on it. Every staged
    * write ([[graft.util.AtomicRewrite]], and the
    * [[graft.util.ManifestLog]] stage of [[ServingStores]] and
    * [[BM25Index]]) materializes its files in a `…-rewrite-tmp` dir
    * before touching what readers open, so a crash during the write
    * leaves an orphan tmp holding a dead generation's bytes; this deletes
    * every such dir under `root`. Under every store dir that has a
    * `_manifest/` it also deletes each file and manifest version the
    * latest manifest does not name — files a fold unlisted (dead rows and
    * applied tombstones among them), superseded versions, and files a
    * failed or crashed write moved in without committing — and then,
    * bottom-up, every directory those deletions left empty (a folded
    * segment's tree, a rebucket's dropped buckets, an emptied
    * `_tombstones/`), never the store dir or its `_manifest/`. The only
    * code that deletes a manifest store's files (Delta's VACUUM). Not
    * safe to run CONCURRENTLY with an in-flight write or fold (it would
    * delete files staged but not yet committed, which the commit would
    * then name) — run it like [[truncate]], between jobs. Returns the
    * deleted paths so callers can log them.
    */
  def reclaim(root: String): Seq[String] = {
    def under(d: Path): Seq[Path] =
      if (StoreFs.isDirectory(d)) d +: StoreFs.list(d).flatMap(under) else Nil
    val dirs = under(Paths.get(root))
    val tmps = dirs.filter(_.getFileName.toString.endsWith("-rewrite-tmp"))
    tmps.foreach(StoreFs.deleteRecursively)
    val deleted = dirs.flatMap { store =>
      val files = ManifestLog.unlisted(store.toString)
      files.foreach(StoreFs.deleteIfExists)
      // deepest first, so a parent is checked after its children went
      val emptied = files.flatMap(f => Iterator.iterate(f.getParent)(_.getParent)
          .takeWhile(d => d != store && d != store.resolve(ManifestLog.Dir)))
        .distinct.sortBy(-_.getNameCount).filter { d =>
          val empty = StoreFs.list(d).isEmpty
          if (empty) StoreFs.deleteIfExists(d)
          empty
        }
      files ++ emptied
    }
    (tmps ++ deleted).map(_.toString)
  }

  /** [[reclaim]] over every store root of a corpus, plus the legacy
    * roots a layout version bump orphaned (below).
    */
  def gcOrphans(sfDir: String): Seq[String] = {
    // legacy reclaim: whole store ROOTS orphaned by a defaultDir version
    // bump (v1's degenerate residual codebook; the pre-params.txt layouts
    // superseded when the ANN hyperparameters became persisted build
    // metadata; the serving layouts, BM25 indexes and signature/SQ8
    // stores before the manifest). Default-path layout only:
    // GRAFT_INDEX_DIR is a user-chosen root (the family tag rides the
    // path there too now — StoreDirs — but the old flat env layout mixed
    // store artifacts with whatever else the user kept there, so a GC
    // may not assume ownership of anything under it).
    // Each root is swept ONLY if it actually looks like an orphaned store
    // of ours ([[isLegacyRoot]]) — never on path name alone: a name-only
    // delete in a general-purpose GC routine could reap a directory that
    // was never ours.
    val legacyRoots = Seq("ivfpq-store-v1", "ivfpq-store-v2",
      "ivfpq-store-v3", "pq-store-v2", "ivf-store-v1", "ivf-store-v2",
      "sq8-store-v1", "sq8-store-v2", "srp-label-v1", "srp-label-v2",
      "srp-sig-v1", "simhash-sig-v2", "bm25-index-v3", "bm25-index-v4",
      "bm25-index-v5", "bm25-index-v6", "serving-store-v2", "serving-store-v3")
      .map(v => Paths.get(s"${sys.props("user.dir")}/target/$v"))
    val legacySwept =
      if (sys.env.contains("GRAFT_INDEX_DIR")) Nil
      else legacyRoots.filter(p => StoreFs.isDirectory(p) && isLegacyRoot(p))
        .map { p => StoreFs.deleteRecursively(p); p.toString }
    storeDirs(sfDir).flatMap(reclaim) ++ legacySwept
  }

  /** True iff every child of `root` is a directory that is either an
    * ANN store or BM25 index (carrying a marker: source_stamp.txt,
    * params.txt or a known sub-table) or a corpus dir of v2/v3 serving
    * stores (every child holding `_buckets.txt`, their serve sentinel) —
    * the gate that keeps the legacy-version GC from deleting a directory
    * it cannot verify it owns. An empty root passes (nothing but debris).
    */
  private def isLegacyRoot(root: Path): Boolean = {
    val markers = Set("source_stamp.txt", "codes.parquet", "codebook.parquet",
      "centroids.parquet", "byid.parquet", "vectors.parquet", "sig.parquet",
      "params.txt")
    StoreFs.list(root).forall { c =>
      val kids = StoreFs.list(c)
      StoreFs.isDirectory(c) &&
        (kids.exists(e => markers.contains(e.getFileName.toString)) ||
          kids.forall(s => StoreFs.exists(s.resolve("_buckets.txt"))))
    }
  }
}
