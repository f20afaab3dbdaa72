package graft.search

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, SparkSpec}
import graft.util.StoreFs
import org.apache.spark.sql.functions.{col, split}

/** The serving-store lifecycle contract (SolrCleanup analogue): every
  * persisted store can be emptied and rebuilt cleanly, and the rebuilt
  * store serves results identical to the first build — every store
  * family the engine persists (BM25 index + segmented variant,
  * SimHash signatures, SRP / IVF / PQ / IVF-PQ ANN stores), each
  * exercised through its real `q_*_served`-style driver query.
  */
class StoreAdminSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // one driver query per store family — each one's plan READS the store
  private val servedByStore = Seq(
    "q_keyword_bm25_served", // BM25Index
    "q_keyword_bm25_incr",   // BM25Index segmented (base + appended segment)
    "q_simhash_pairs",       // SimHashStore
    "q_ann_lsh_served",      // SrpStore
    "q_ann_lsh_incr",        // SrpStore append+compact lifecycle store
    "q_ann_filtered_served", // SrpLabelStore (label-partitioned sketch)
    "q_ann_ivf_served",      // IvfStore
    "q_ann_ivf_incr",        // IvfStore append+compact lifecycle store
    "q_ann_ivf_auto",        // IvfStore k-proportional-to-N config
    "q_ann_pq_served",       // PqStore
    "q_ann_pq_incr",         // PqStore frozen-codebook append lifecycle
    "q_ann_pq_big",          // PqStore ksub=256 config
    "q_ann_drift",           // PqStore drift-audit stores (incr + rebuild)
    "q_ann_ivfpq_served",    // IvfPqStore (residual IVFADC)
    "q_ann_ivfpq_incr",      // IvfPqStore frozen-space append lifecycle
    "q_ann_ivfpq_big",       // IvfPqStore non-toy config (nc=64, ksub=256)
    "q_ann_drift_lloyd",     // IvfPqStore Lloyd-coarse drift twins
    "q_ann_drift_lloyd_big", // Lloyd drift twins at the big config
    "q_ann_ivfpq_auto",      // IvfPqStore k-proportional-to-N config
    "q_ann_sq8_served",      // Sq8Store (packed int8 + scale)
    "q_ann_ivfsq8_served",   // IvfSq8Store (cluster-partitioned int8)
    "q_ann_ivfsq8_auto",     // IvfSq8Store k-proportional-to-N config
    "q_ann_retrain_policy",  // RetrainPolicy persisted decision audit
    "q_ann_lsh_stream",      // SrpStore streamed-ingest twin
    "q_hashtag_served",      // ServingStores posting layout
    "q_hashtag_incr",        // posting layout append+compact lifecycle
    "q_user_timeline_served", // ServingStores timeline layout
    "q_user_timeline_incr")  // timeline layout append+compact lifecycle

  private def snapshot(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, dir)
      .collect().map(_.toString).sorted.toSeq

  test("truncateAll empties every store; rebuild serves byte-identical " +
      "results (deleteByQuery('*:*') + re-index round trip)") {
    // first build + serve
    val before = servedByStore.map(n => n -> snapshot(n)).toMap
    before.foreach { case (n, rows) =>
      assert(rows.nonEmpty, s"$n served nothing before truncate")
    }
    StoreAdmin.storeDirs(dir).foreach(d =>
      assert(Files.exists(Paths.get(d)), s"store $d missing after serve"))

    StoreAdmin.truncateAll(dir)
    assert(StoreAdmin.isEmpty(dir))
    assert(!BM25Index.isBuilt(BM25Index.defaultDir(dir)),
      "BM25 index claims built after truncate")

    // rebuild happens inside each query's ensureBuilt; results identical
    servedByStore.foreach { n =>
      assert(snapshot(n) == before(n), s"$n changed across truncate+rebuild")
    }
    StoreAdmin.storeDirs(dir).foreach(d =>
      assert(Files.exists(Paths.get(d)), s"store $d not rebuilt"))
  }

  test("crash mid-swap is recoverable: stamp-first delete means every " +
      "window either serves the old generation or rebuilds") {
    val store = ServingStores.ensureDocPostings(spark, dir)
    def probe() = ServingStores.postingProbe(spark, store, "the")
      .collect().map(_.toString).sorted.toSeq
    val before = probe()
    assert(before.nonEmpty)

    // window 1: crash after the stamp delete, before the sentinel delete
    // — the store still serves (old generation, consistent), and the
    // missing stamp forces the next ensure* to rebuild
    Files.delete(Paths.get(store, "source_stamp.txt"))
    assert(probe() == before, "stampless store must still serve old gen")
    assert(ServingStores.ensureDocPostings(spark, dir) == store)
    assert(Files.exists(Paths.get(store, "source_stamp.txt")),
      "ensure did not rebuild the stamp")
    assert(probe() == before, "rebuild changed the probe result")

    // window 2: crash between staging and commit — the rewrite's files
    // are staged into the store but the manifest create fails: the last
    // commit keeps serving the old generation with its stamp fresh, and
    // gcOrphans reclaims the staged files
    val stamp = graft.util.Stamp.sourceStamp(dir)
    val crashOnCommit = new graft.util.DelegatingFs {
      override def createExclusive(p: Path, c: String): Unit =
        if (p.getParent == Paths.get(store, "_manifest"))
          throw new java.io.IOException(s"crash creating $p")
        else super.createExclusive(p, c)
    }
    // a same-count rebucket folds every bucket: a full staged rewrite
    intercept[java.io.IOException](StoreFs.withFs(crashOnCommit)(
      ServingStores.rebucket(spark, store, ServingStores.DefaultBuckets)))
    assert(probe() == before, "a crash before the commit changed what serves")
    assert(graft.util.Stamp.isFresh(store, stamp),
      "a crash before the commit invalidated the stamp")
    val staged = ServingStores.unlisted(store)
    assert(staged.nonEmpty, "the crashed rewrite staged no file into the store")
    val reclaimed = StoreAdmin.gcOrphans(dir)
    staged.foreach { p =>
      assert(reclaimed.contains(p.toString), s"gc missed $p: $reclaimed")
      assert(!Files.exists(p))
    }
    assert(probe() == before, "gc changed a live store's probe result")
    assert(ServingStores.ensureDocPostings(spark, dir) == store)
    assert(probe() == before, "recovered store differs from pre-crash")
  }

  test("gcOrphans after compact and rebucket leaves exactly the files the " +
      "latest manifest lists; probes unchanged; a second gc deletes " +
      "nothing") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val fakeSf = Files.createTempDirectory("graft-gc-manifest").toString
    val store = ServingStores.defaultDir(fakeSf) + "/tags"
    def onDisk(): Set[Path] = {
      val s = Files.walk(Paths.get(store))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(p => Seq("_manifest", "_tombstones").contains(
          p.getParent.getFileName.toString) ||
          p.getParent.getFileName.toString.startsWith("__bucket="))
        .toSet
      finally s.close()
    }
    def probe(tag: String) = ServingStores.postingProbe(spark, store, tag)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    ServingStores.buildPostings(
      Seq((1L, List("jobs")), (2L, List("jobs", "perf"))).toDF("id", "tags"),
      col("tags"), store, buckets = 3)
    ServingStores.appendPostings(
      Seq((3L, List("jobs"))).toDF("id", "tags"), col("tags"), store)
    ServingStores.upsertPostings(
      Seq((2L, List("perf"))).toDF("id", "tags"), "id", col("tags"), store)
    ServingStores.compact(spark, store)
    ServingStores.appendPostings(
      Seq((4L, List("jobs"))).toDF("id", "tags"), col("tags"), store)
    ServingStores.rebucket(spark, store, 5)
    val served = Seq("jobs", "perf").map(t => t -> probe(t)).toMap
    assert(served("jobs") == Seq(1L, 3L, 4L) && served("perf") == Seq(2L))
    val files = ServingStores.dataFileCount(store)
    val superseded = ServingStores.unlisted(store).toSet
    assert(superseded.nonEmpty, "compact and rebucket left nothing to reclaim")
    val removed = StoreAdmin.gcOrphans(fakeSf)
    assert(superseded.forall(p => removed.contains(p.toString)),
      s"gc missed ${superseded.map(_.toString) -- removed}")
    // exactly the latest manifest's files remain: its data files, no
    // tombstone (the purging folds unlisted them), one manifest version
    val left = onDisk()
    assert(left.count(_.getParent.getFileName.toString == "_manifest") == 1)
    assert(left.count(_.getParent.getFileName.toString.startsWith("__bucket=")) ==
      files)
    assert(!ServingStores.hasTombstones(store) &&
      !left.exists(_.getParent.getFileName.toString == "_tombstones"))
    assert(ServingStores.dataFileCount(store) == files)
    Seq("jobs", "perf").foreach(t => assert(probe(t) == served(t),
      s"gc changed the '$t' probe"))
    assert(StoreAdmin.gcOrphans(fakeSf).isEmpty, "a second gc deleted files")
    StoreAdmin.truncate(ServingStores.defaultDir(fakeSf))
  }

  test("gcOrphans reclaims a superseded v2/v3 serving root only when " +
      "every store in it carries the old serve sentinel") {
    val target = Paths.get(sys.props("user.dir"), "target")
    def store(root: String, sf: String, name: String, sentinel: Boolean): Path = {
      val d = target.resolve(root).resolve(sf).resolve(name)
      Files.createDirectories(d.resolve("__bucket=0"))
      if (sentinel) Files.writeString(d.resolve("_buckets.txt"), "64")
      d
    }
    store("serving-store-v2", "sf_a", "doc_postings", sentinel = true)
    store("serving-store-v2", "sf_b", "orders_by_cust", sentinel = true)
    store("serving-store-v3", "sf_a", "doc_postings", sentinel = true)
    val stranger = store("serving-store-v3", "sf_a", "not_a_store",
      sentinel = false)
    // a v6 BM25 root: each index's parts carry params.txt, a gate marker
    def bm25(sf: String, marker: Boolean): Path = {
      val d = target.resolve("bm25-index-v6").resolve(sf)
      Files.createDirectories(d.resolve("postings/tb=0"))
      if (marker) Files.writeString(d.resolve("params.txt"), "termBuckets=16")
      d
    }
    bm25("sf_a", marker = true)
    bm25("sf_a__incr", marker = true)
    val bm25Stranger = bm25("not_an_index", marker = false)
    try {
      val removed = StoreAdmin.gcOrphans(dir)
      assert(removed.contains(target.resolve("serving-store-v2").toString),
        s"the recognised v2 root was not reclaimed: $removed")
      assert(!Files.exists(target.resolve("serving-store-v2")))
      assert(Files.isDirectory(stranger) &&
        Files.exists(target.resolve("serving-store-v3/sf_a/doc_postings/_buckets.txt")),
        "a root with an unrecognised child was touched")
      assert(!removed.exists(_.contains("serving-store-v3")))
      assert(Files.isDirectory(bm25Stranger) &&
        !removed.exists(_.contains("bm25-index-v6")),
        "a v6 root with an unrecognised child was touched")
      StoreFs.deleteRecursively(bm25Stranger)
      assert(StoreAdmin.gcOrphans(dir).contains(target.resolve("bm25-index-v6").toString))
      assert(!Files.exists(target.resolve("bm25-index-v6")),
        "the recognised v6 root was not reclaimed")
    } finally Seq("serving-store-v3", "bm25-index-v6")
      .foreach(r => StoreFs.deleteRecursively(target.resolve(r)))
  }

  test("gcOrphans reclaims rewrite-tmp leftovers without touching live " +
      "stores") {
    val store = ServingStores.ensureDocPostings(spark, dir)
    val orphan = Paths.get(store + "-rewrite-tmp")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-dead.parquet"), "junk")
    val before = ServingStores.postingProbe(spark, store, "the")
      .collect().map(_.toString).sorted.toSeq

    val removed = StoreAdmin.gcOrphans(dir)
    assert(removed.contains(orphan.toString), s"gc missed $orphan: $removed")
    assert(!Files.exists(orphan))
    assert(ServingStores.postingProbe(spark, store, "the")
      .collect().map(_.toString).sorted.toSeq == before,
      "gc changed a live store's probe result")
    assert(StoreAdmin.gcOrphans(dir).isEmpty, "gc is not idempotent")

    // a BM25 compaction that crashes at its manifest create has moved its
    // staged files into the index unlisted: the probe still serves the
    // old generation, and gc reclaims every moved-in file (isolated
    // corpus key, so the broken index is no other suite's)
    import spark.implicits._
    val fakeSf = Files.createTempDirectory("graft-gc-bm25").toString
    val bm = BM25Index.defaultDir(fakeSf)
    BM25Index.build(Seq((1L, "spark jobs")).toDF("id", "text"), "id", "text", bm)
    BM25Index.appendSegment(Seq((2L, "more jobs")).toDF("id", "text"),
      "id", "text", bm, "s1")
    def served() = BM25Index.topKMerged(spark, bm, Seq("jobs"), 5)
      .collect().map(_.toString).toSeq
    val old = served()
    val crashOnCommit = new graft.util.DelegatingFs {
      override def createExclusive(p: Path, c: String): Unit =
        if (p.getParent == Paths.get(bm, "_manifest"))
          throw new java.io.IOException(s"crash creating $p")
        else super.createExclusive(p, c)
    }
    intercept[java.io.IOException](
      StoreFs.withFs(crashOnCommit)(BM25Index.compact(spark, bm)))
    assert(served() == old, "a crash before the commit changed what serves")
    val staged = graft.util.ManifestLog.unlisted(bm)
    assert(staged.nonEmpty, "the crashed compaction moved no file into the index")
    val reclaimed = StoreAdmin.gcOrphans(fakeSf)
    staged.foreach { p =>
      assert(reclaimed.contains(p.toString), s"gc missed $p: $reclaimed")
      assert(!Files.exists(p))
    }
    assert(served() == old, "gc changed the index's probe result")
    assert(StoreAdmin.gcOrphans(fakeSf).isEmpty, "gc is not idempotent")
    StoreAdmin.truncate(bm)
  }

  test("ensureDocPostingsIncr reclaims what its folds unlisted: its store " +
      "holds one manifest version and no unlisted file") {
    // an isolated corpus key over the same documents table
    val fakeSf = Files.createTempDirectory("graft-incr-reclaim")
    Files.createSymbolicLink(fakeSf.resolve("documents.parquet"),
      Paths.get(dir, "documents.parquet"))
    def probe(d: String) = ServingStores.postingProbe(spark, d, "the")
      .collect().map(_.toString).sorted.toSeq
    // the upsert twin compacts directly too, and must reclaim the same way
    val upsertFresh = Files.createTempDirectory("graft-upsert-fresh").toString
    ServingStores.buildPostings(
      ServingStores.editedDocs(graft.util.Tables.documents(spark, dir))
        .select(col("doc_id"), col("source"), col("n_chars"),
          split(col("text"), " ").as("__words")),
      col("__words"), upsertFresh, dropCols = Seq("__words"))
    for ((ensure, expected) <- Seq[(String => String, String)](
        (ServingStores.ensureDocPostingsIncr(spark, _),
          ServingStores.ensureDocPostings(spark, dir)),
        (ServingStores.ensureDocPostingsUpsert(spark, _), upsertFresh))) {
      val store = ensure(fakeSf.toString)
      assert(graft.util.ManifestLog.versions(store).size == 1, store)
      assert(graft.util.ManifestLog.unlisted(store).isEmpty,
        graft.util.ManifestLog.unlisted(store))
      assert(probe(store) == probe(expected), store)
    }
    StoreAdmin.truncate(ServingStores.defaultDir(fakeSf.toString))
    StoreAdmin.truncate(upsertFresh)
  }

  test("reclaim deletes the directories its deletions left empty: after a " +
      "5 -> 2 rebucket and a BM25 compaction none is left, and a second " +
      "reclaim deletes nothing") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-reclaim-dirs")
    val store = root.resolve("tags").toString
    ServingStores.buildPostings(
      (1L to 20L).map(i => (i, List(s"t$i", "jobs"))).toDF("id", "tags"),
      col("tags"), store, buckets = 5)
    ServingStores.rebucket(spark, store, 2)
    val bm = root.resolve("bm25").toString
    BM25Index.build(Seq((1L, "spark jobs"), (2L, "scala jobs")).toDF("id", "text"),
      "id", "text", bm)
    BM25Index.appendSegment(Seq((3L, "more jobs")).toDF("id", "text"),
      "id", "text", bm, "s1")
    BM25Index.deleteDocs(spark, bm, Seq(2L))
    BM25Index.compact(spark, bm)
    val removed = StoreAdmin.reclaim(root.toString)
    def emptyDirs(d: String): Seq[Path] = {
      val s = Files.walk(Paths.get(d))
      try s.iterator().asScala.filter(p => Files.isDirectory(p) &&
        StoreFs.list(p).isEmpty).toSeq
      finally s.close()
    }
    Seq(store, bm).foreach(d => assert(emptyDirs(d).isEmpty, emptyDirs(d)))
    assert(!Files.exists(Paths.get(bm, "segments")))
    assert(Seq("segments", "_tombstones").forall(t =>
      removed.contains(Paths.get(bm, t).toString)), removed)
    assert(StoreAdmin.reclaim(root.toString).isEmpty, "a second reclaim deleted paths")
    assert(ServingStores.postingProbe(spark, store, "jobs").count() == 20)
    assert(BM25Index.topKMerged(spark, bm, Seq("jobs"), 5)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    StoreAdmin.truncate(root.toString)
  }

  test("maintain: the one-call sweep folds fragmented stores, purges " +
      "tombstoned layouts, spares the segmented-gate fixture, and is " +
      "idempotent") {
    // the gated chains run the sweep INTERNALLY — after them the upsert
    // layouts hold zero tombstones (the sweep's full purge ran) and the
    // appended-into timeline buckets are folded
    val upsertRows = snapshot("q_user_timeline_upsert")
    val incrRows = snapshot("q_user_timeline_incr")
    val bmIncrRows = snapshot("q_keyword_bm25_incr")
    assert(upsertRows.nonEmpty && incrRows.nonEmpty)
    val serving = ServingStores.defaultDir(dir)
    assert(!ServingStores.hasTombstones(s"$serving/orders_by_cust_upsert"),
      "the chain-wired sweep did not purge the upsert tombstones")

    // legitimately fragment a FLAT store (2 write generations), sweep,
    // assert the fold ran and a re-sweep is a no-op
    val simhash = graft.dedup.SimHashStore.defaultDir(dir)
    graft.dedup.SimHashStore.ensureBuilt(spark, dir)
    import spark.implicits._
    graft.dedup.SimHashStore.appendBatch(simhash,
      Seq((900001L, "maintain sweep fragmentation probe")).toDF("id", "text"),
      "id", "text")
    val actions = StoreAdmin.maintain(spark, dir)
    assert(actions.exists(a => a.startsWith("fold") && a.contains(simhash)),
      s"sweep did not fold the fragmented signature store: $actions")
    // the bm25 __incr fixture keeps its open segment across a sweep (its
    // identity IS base+segment; folding would force a rebuild loop)
    assert(Files.isDirectory(
      Paths.get(BM25Index.defaultDir(dir) + "__incr", "segments")),
      "maintain folded the segmented gate fixture")
    assert(snapshot("q_keyword_bm25_incr") == bmIncrRows)
    assert(snapshot("q_user_timeline_upsert") == upsertRows,
      "maintain changed served results")
    assert(snapshot("q_user_timeline_incr") == incrRows)
    val again = StoreAdmin.maintain(spark, dir)
    assert(again.isEmpty, s"maintain is not idempotent: $again")
    // the fragmented-then-folded signature store now diverges from its
    // source (the probe batch was synthetic) — drop it so later suites
    // rebuild from the corpus
    StoreAdmin.truncate(simhash)
  }

  test("maintain thresholds are a real merge policy: raising " +
      "foldAtGenerations defers the fold, the default takes it") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // an isolated fake corpus dir keys its own store roots, so the sweep
    // cannot touch the real sf0.001 stores other suites serve from
    val fakeSf = Files.createTempDirectory("graft-maintain-thresh").toString
    val srp = graft.similarity.SrpStore.defaultDir(fakeSf)
    val emb = (0 until 20).map(i =>
        (i.toLong, Array.tabulate(16)(j => (i * 7 + j).toFloat / 100f)))
      .toDF("vec_id", "embedding")
    graft.similarity.SrpStore.buildAt(srp, emb.filter(col("vec_id") < 16))
    graft.similarity.SrpStore.appendBatch(srp,
      emb.filter(col("vec_id") >= 16)) // 2 write generations now
    val files = ServingStores.dataFileCount(srp)
    val deferred = StoreAdmin.maintain(spark, fakeSf, foldAtGenerations = 3)
    assert(!deferred.exists(a => a.startsWith("fold") && a.contains(srp)) &&
      ServingStores.dataFileCount(srp) == files,
      s"foldAtGenerations=3 must defer a 2-generation fold: $deferred")
    val taken = StoreAdmin.maintain(spark, fakeSf)
    assert(taken.exists(a => a.startsWith("fold") && a.contains(srp)),
      s"default policy must fold the 2-generation store: $taken")
    assert(StoreAdmin.maintain(spark, fakeSf).isEmpty, "sweep not idempotent")
    intercept[IllegalArgumentException](
      StoreAdmin.maintain(spark, fakeSf, foldAtGenerations = 1))
    StoreAdmin.truncate(srp)
  }

  test("a rebuild whose manifest create fails leaves the previous build " +
      "serving, and reclaim removes the files it staged") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-rebuild-crash")
    val store = root.resolve("store").toString
    val bm = root.resolve("bm25").toString
    val first = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    val second = Seq(("a", 10), ("c", 30)).toDF("k", "v")
    ServingStores.buildTimeline(first, "k", store, buckets = 2)
    BM25Index.build(Seq((1L, "spark jobs"), (2L, "query engines")).toDF("doc", "text"),
      "doc", "text", bm)
    def probe() = ServingStores.timelineProbe(spark, store, "k", "a")
      .collect().map(_.getInt(1)).sorted.toSeq
    def served() = BM25Index.topKMerged(spark, bm, Seq("spark", "query"), 10)
      .collect().map(_.toString).toSeq
    val (before, old) = (probe(), served())
    assert(before == Seq(1, 2) && old.size == 2)
    val crashOnCommit = new graft.util.DelegatingFs {
      override def createExclusive(p: Path, c: String): Unit =
        if (p.getFileName.toString.endsWith(".json") &&
            p.getParent.getFileName.toString == graft.util.ManifestLog.Dir)
          throw new java.io.IOException(s"crash creating $p")
        else super.createExclusive(p, c)
    }
    intercept[java.io.IOException](StoreFs.withFs(crashOnCommit)(
      ServingStores.buildTimeline(second, "k", store, buckets = 3)))
    intercept[java.io.IOException](StoreFs.withFs(crashOnCommit)(
      BM25Index.build(Seq((3L, "spark spark spark")).toDF("doc", "text"), "doc", "text", bm)))
    assert(probe() == before, "a failed rebuild changed what the store serves")
    assert(served() == old, "a failed rebuild changed what the index serves")
    val staged = ServingStores.unlisted(store) ++ graft.util.ManifestLog.unlisted(bm)
    assert(staged.exists(_.toString.endsWith(".parquet")),
      s"the failed rebuilds staged no file: $staged")
    val reclaimed = StoreAdmin.reclaim(root.toString)
    staged.foreach { p =>
      assert(reclaimed.contains(p.toString), s"reclaim missed $p: $reclaimed")
      assert(!Files.exists(p))
    }
    assert(probe() == before && served() == old, "reclaim changed what serves")
    // a rebuild that commits replaces the whole state; its old files go at reclaim
    ServingStores.buildTimeline(second, "k", store, buckets = 3)
    assert(probe() == Seq(10))
    assert(ServingStores.unlisted(store).exists(_.toString.endsWith(".parquet")))
    StoreAdmin.reclaim(store)
    assert(ServingStores.unlisted(store).isEmpty && probe() == Seq(10))
    StoreAdmin.truncate(root.toString)
  }

  test("maintain skips a store dir a crashed build left without a manifest " +
      "and still sweeps the other stores") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val fakeSf = Files.createTempDirectory("graft-maintain-nomanifest").toString
    val simhash = graft.dedup.SimHashStore.defaultDir(fakeSf)
    val crashOnCommit = new graft.util.DelegatingFs {
      override def createExclusive(p: Path, c: String): Unit =
        if (p.getParent == Paths.get(simhash, "_manifest"))
          throw new java.io.IOException(s"crash creating $p")
        else super.createExclusive(p, c)
    }
    // a first build moves its files in, then fails to publish: a dir of
    // data files and no manifest
    intercept[java.io.IOException](StoreFs.withFs(crashOnCommit)(
      graft.dedup.SimHashStore.buildAt(simhash,
        Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
        "doc_id", "text")))
    assert(StoreFs.isDirectory(Paths.get(simhash)) &&
      graft.util.ManifestLog.versions(simhash).isEmpty)
    val srp = graft.similarity.SrpStore.defaultDir(fakeSf)
    val emb = (0 until 20).map(i =>
        (i.toLong, Array.tabulate(16)(j => (i * 7 + j).toFloat / 100f)))
      .toDF("vec_id", "embedding")
    graft.similarity.SrpStore.buildAt(srp, emb.filter(col("vec_id") < 16))
    graft.similarity.SrpStore.appendBatch(srp, emb.filter(col("vec_id") >= 16))
    val actions = StoreAdmin.maintain(spark, fakeSf)
    assert(!actions.exists(a => !a.startsWith("gc") && a.contains(simhash)),
      s"the sweep acted on a store with no committed version: $actions")
    assert(actions.exists(a => a.startsWith("fold") && a.contains(srp)),
      s"the sweep stopped before the fragmented SRP store: $actions")
    // the next build starts the store over and serves
    graft.dedup.SimHashStore.buildAt(simhash,
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(graft.dedup.SimHashStore.read(spark, simhash).count() == 1)
    StoreAdmin.truncateAll(fakeSf)
  }

  test("truncate is idempotent and scoped: absent store is a no-op, other " +
      "corpora untouched") {
    StoreAdmin.truncate("/tmp/graft-no-such-store") // must not throw
    StoreAdmin.truncate("/tmp/graft-no-such-store")
    // a sibling corpus store survives a truncateAll for THIS corpus
    val otherDir = "/root/testdata/sf0.01"
    val other = BM25Index.ensureBuilt(spark, otherDir)
    StoreAdmin.truncateAll(dir)
    assert(Files.exists(Paths.get(other)),
      "truncateAll(dir) deleted a different corpus's store")
    assert(BM25Index.isBuilt(other))
  }
}
