package graft.search

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, SparkWork}
import graft.util.{LocalScan, StoreFs}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property contract for the serving layouts: a posting-store probe must
  * equal `array_contains` over the source rows, and a timeline probe
  * must equal an FK equality filter — for ANY generated data, any key
  * (present, absent, special characters), and any bucket count. Fixed
  * seeds ([[graft.operators.PropertySpec]] convention).
  */
class ServingStoresPropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(1337L + i)))

  private val tagGen: Gen[String] = Gen.oneOf(
    "jobs", "perf", "häshtag", "a b", "", "0", "x" * 40, "ünïcode☂")

  private val rowsGen: Gen[List[(Long, List[String])]] =
    Gen.listOfN(40, for {
      id <- Gen.chooseNum(0L, 500L)
      nTags <- Gen.chooseNum(0, 4)
      tags <- Gen.listOfN(nTags, tagGen)
    } yield (id, tags))

  test("postingProbe(tag) ≡ array_contains(source, tag) for any data/key/buckets") {
    samples(Gen.zip(rowsGen, Gen.oneOf(1, 3, 64)), 6).foreach {
      case (rows, buckets) =>
        val df = rows.toDF("id", "tags")
        val dest = java.nio.file.Files
          .createTempDirectory("graft-post-prop").toString
        ServingStores.buildPostings(df, col("tags"), dest, buckets = buckets)
        (samples(tagGen, 6) :+ "never-present").distinct.foreach { tag =>
          val probed = ServingStores.postingProbe(spark, dest, tag)
            .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
          val expected = df.filter(array_contains(col("tags"), tag))
            .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
          assert(probed == expected,
            s"tag '$tag' buckets=$buckets: $probed != $expected")
        }
        StoreAdmin.truncate(dest)
    }
  }

  test("appendPostings: probe over base+appended ≡ array_contains over " +
      "the union; truncate+rebuild unaffected") {
    val base = Seq((1L, List("jobs", "perf")), (2L, List("jobs")))
      .toDF("id", "tags")
    val batch = Seq((3L, List("jobs", "new")), (4L, List("new")))
      .toDF("id", "tags")
    val dest = java.nio.file.Files
      .createTempDirectory("graft-post-append").toString
    ServingStores.buildPostings(base, col("tags"), dest, buckets = 3)
    ServingStores.appendPostings(batch, col("tags"), dest)
    val union = base.unionAll(batch)
    for (tag <- Seq("jobs", "perf", "new", "absent")) {
      val probed = ServingStores.postingProbe(spark, dest, tag)
        .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
      val expected = union.filter(array_contains(col("tags"), tag))
        .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
      assert(probed == expected, s"tag '$tag': $probed != $expected")
    }
    // append uses the STORE's bucket count, not a caller guess: a probe
    // for an appended-only key opens only the one bucket directory the
    // append wrote it to
    val written = spark.read.parquet(dest).filter(col("__key") === "new")
      .select(col("__bucket")).distinct().collect().map(_.getInt(0)).toSeq
    val opened = LocalScan.opened(ServingStores.postingProbe(spark, dest, "new"))._2
    assert(written.size == 1 && opened.nonEmpty &&
      opened.forall(_.startsWith(s"$dest/__bucket=${written.head}/")),
      s"'new' written to $written, probe opened $opened")
    // lifecycle: truncate forgets base AND appended
    StoreAdmin.truncate(dest)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dest)))
  }

  test("compactPostings: append×3 → compact ≡ fresh rebuild (probe rows " +
      "identical), file count bounded back to O(buckets)") {
    val batches = (0 until 4).map(b =>
      Seq((b * 10L + 1, List("jobs", s"b$b")), (b * 10L + 2, List("jobs")))
        .toDF("id", "tags"))
    val dest = java.nio.file.Files
      .createTempDirectory("graft-post-compact").toString
    val fresh = java.nio.file.Files
      .createTempDirectory("graft-post-fresh").toString
    ServingStores.buildPostings(batches.head, col("tags"), dest, buckets = 3)
    batches.tail.foreach(b =>
      ServingStores.appendPostings(b, col("tags"), dest))
    val appendedFiles = ServingStores.dataFileCount(dest)
    ServingStores.compact(spark, dest)
    val compactFiles = ServingStores.dataFileCount(dest)
    assert(compactFiles < appendedFiles,
      s"compaction must shrink the file count ($appendedFiles -> $compactFiles)")
    assert(compactFiles <= 3, s"post-compact files $compactFiles > buckets")
    // compacted store ≡ a store freshly built from the unioned source
    ServingStores.buildPostings(batches.reduce(_ unionAll _), col("tags"),
      fresh, buckets = 3)
    for (tag <- Seq("jobs", "b0", "b3", "absent")) {
      val a = ServingStores.postingProbe(spark, dest, tag)
        .collect().map(_.toString).sorted.toSeq
      val b = ServingStores.postingProbe(spark, fresh, tag)
        .collect().map(_.toString).sorted.toSeq
      assert(a == b, s"tag '$tag': compacted $a != fresh $b")
    }
    // the staleness stamp survives compaction (compaction does not change
    // the source generation the store was built from)
    graft.util.Stamp.write(dest, "stamp-x")
    ServingStores.compact(spark, dest)
    assert(graft.util.Stamp.isFresh(dest, "stamp-x"))
    StoreAdmin.truncate(dest); StoreAdmin.truncate(fresh)
  }

  test("compactHotBuckets: only fragmented buckets are rewritten — cold " +
      "bucket files byte-untouched, hot buckets folded to one file, " +
      "probe ≡ fresh rebuild, stamp survives") {
    // one-bucket-per-key layout so appends fragment ONLY the keys they
    // carry: "hot" appears in every batch, "cold" only in the base
    val batches = (0 until 4).map(b =>
      Seq((b * 10L + 1, List("hot")) ) ++
        (if (b == 0) Seq((100L, List("cold"))) else Nil))
      .map(_.toDF("id", "tags"))
    val dest = java.nio.file.Files
      .createTempDirectory("graft-post-hot").toString
    ServingStores.buildPostings(batches.head, col("tags"), dest,
      buckets = 64)
    batches.tail.foreach(b =>
      ServingStores.appendPostings(b, col("tags"), dest))
    def filesOf(b: Int): Seq[String] = {
      val dir = java.nio.file.Paths.get(dest, s"__bucket=$b")
      if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
      else {
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .map(p => s"${p.getFileName}:${java.nio.file.Files.size(p)}")
          .toSeq.sorted
        finally s.close()
      }
    }
    val hotBucket = (0 until 64)
      .filter(b => ServingStores.bucketFileCount(dest, b) >= 2)
    assert(hotBucket.nonEmpty, "fixture built no fragmented bucket")
    val coldBuckets = (0 until 64)
      .filter(b => ServingStores.bucketFileCount(dest, b) == 1)
    val coldBefore = coldBuckets.map(b => b -> filesOf(b)).toMap

    graft.util.Stamp.write(dest, "stamp-hot")
    val compacted = ServingStores.compactHotBuckets(spark, dest,
      minFiles = 2)
    assert(compacted.sorted == hotBucket.sorted,
      s"compacted $compacted, expected $hotBucket")
    hotBucket.foreach(b => assert(
      ServingStores.bucketFileCount(dest, b) == 1,
      s"hot bucket $b not folded to one file"))
    coldBuckets.foreach(b => assert(filesOf(b) == coldBefore(b),
      s"cold bucket $b files changed"))
    assert(graft.util.Stamp.isFresh(dest, "stamp-hot"),
      "stamp did not survive the selective compact")

    // probe ≡ a store freshly built from the unioned source
    val fresh = java.nio.file.Files
      .createTempDirectory("graft-post-hot-fresh").toString
    ServingStores.buildPostings(batches.reduce(_ unionAll _), col("tags"),
      fresh, buckets = 64)
    for (tag <- Seq("hot", "cold", "absent")) {
      val a = ServingStores.postingProbe(spark, dest, tag)
        .collect().map(_.toString).sorted.toSeq
      val b = ServingStores.postingProbe(spark, fresh, tag)
        .collect().map(_.toString).sorted.toSeq
      assert(a == b, s"tag '$tag': selective-compacted $a != fresh $b")
    }
    // nothing hot anymore: second pass is a no-op
    assert(ServingStores.compactHotBuckets(spark, dest, minFiles = 2).isEmpty)

    // timeline flavor: same fold + equivalence through the fk probe
    val base = Seq((1L, 10, "a"), (2L, 20, "b")).toDF("fk", "seq", "v")
    val batch = Seq((1L, 20, "c")).toDF("fk", "seq", "v")
    val tl = java.nio.file.Files
      .createTempDirectory("graft-tl-hot").toString
    ServingStores.buildTimeline(base, "fk", tl,
      sortDesc = Seq("seq"), buckets = 8)
    ServingStores.appendTimeline(batch, tl)
    val tlHot = ServingStores.compactHotBuckets(spark, tl, minFiles = 2)
    assert(tlHot.nonEmpty)
    val union = base.unionAll(batch)
    (1L to 2L).foreach { k =>
      val probed = ServingStores.timelineProbe(spark, tl, "fk", k)
        .collect().map(_.toString).sorted.toSeq
      val expected = union.filter(col("fk") === k)
        .collect().map(_.toString).sorted.toSeq
      assert(probed == expected, s"fk $k: $probed != $expected")
    }
    StoreAdmin.truncate(dest); StoreAdmin.truncate(fresh)
    StoreAdmin.truncate(tl)
  }

  test("rebucketPostings 3→7→1: probe ≡ array_contains across every " +
      "rebucket; appenders pick up the new count") {
    val base = Seq((1L, List("jobs", "perf")), (2L, List("jobs", "x")),
      (3L, List("perf"))).toDF("id", "tags")
    val dest = java.nio.file.Files
      .createTempDirectory("graft-post-rebucket").toString
    ServingStores.buildPostings(base, col("tags"), dest, buckets = 3)
    def check(src: org.apache.spark.sql.DataFrame): Unit =
      for (tag <- Seq("jobs", "perf", "x", "late", "absent")) {
        val probed = ServingStores.postingProbe(spark, dest, tag)
          .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
        val expected = src.filter(array_contains(col("tags"), tag))
          .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
        assert(probed == expected, s"tag '$tag': $probed != $expected")
      }
    ServingStores.rebucket(spark, dest, 7)
    check(base)
    // an append AFTER the rebucket must split keys with the new count
    val batch = Seq((9L, List("late", "jobs"))).toDF("id", "tags")
    ServingStores.appendPostings(batch, col("tags"), dest)
    check(base.unionAll(batch))
    ServingStores.rebucket(spark, dest, 1)
    check(base.unionAll(batch))
    StoreAdmin.truncate(dest)
  }

  test("timeline lifecycle: append + compact + rebucket ≡ fk filter over " +
      "the union, within-bucket (fk, sort) order restored by compact") {
    // every bucket file, read back in FILE order, must follow the
    // (key asc, sort desc) order the store persisted at build — no
    // maintenance call below restates it
    def assertOrdered(dest: String, cols: Seq[String], order: Seq[Column],
                      step: String): Unit =
      StoreFs.list(Paths.get(dest))
        .filter(_.getFileName.toString.startsWith("__bucket="))
        .flatMap(StoreFs.parquetFiles)
        .foreach { f =>
          val file = spark.read.parquet(f.toString)
          val inFile = file.select(cols.map(col): _*).collect().toSeq
          val sorted = file.orderBy(order: _*)
            .select(cols.map(col): _*).collect().toSeq
          assert(inFile == sorted, s"$step: $f out of order: $inFile")
        }
    // one lifecycle per layout: append, full compact, append, hot-bucket
    // compact, rebucket — checked against the source after every step
    def lifecycle(dest: String, append: DataFrame => Unit,
                  batches: Seq[DataFrame], check: () => Unit,
                  cols: Seq[String], order: Seq[Column]): Unit = {
      append(batches(0))
      check()
      ServingStores.compact(spark, dest)
      check()
      assertOrdered(dest, cols, order, "compact")
      assert(ServingStores.dataFileCount(dest) <= 4)
      append(batches(1))
      assert(ServingStores.compactHotBuckets(spark, dest, minFiles = 2)
        .nonEmpty)
      check()
      assertOrdered(dest, cols, order, "compactHotBuckets")
      ServingStores.rebucket(spark, dest, 2)
      check()
      assertOrdered(dest, cols, order, "rebucket")
      StoreAdmin.truncate(dest)
    }

    val base = Seq((1L, 10, "a"), (1L, 30, "b"), (2L, 20, "c"))
      .toDF("fk", "seq", "v")
    val batches = Seq(Seq((1L, 20, "d"), (3L, 5, "e")),
      Seq((1L, 25, "f"), (2L, 40, "g"))).map(_.toDF("fk", "seq", "v"))
    val dest = java.nio.file.Files
      .createTempDirectory("graft-tl-life").toString
    ServingStores.buildTimeline(base, "fk", dest,
      sortDesc = Seq("seq"), buckets = 4)
    var union = base
    lifecycle(dest, { b =>
        ServingStores.appendTimeline(b, dest); union = union.unionAll(b)
      }, batches, () => (1L to 4L).foreach { k =>
        val probed = ServingStores.timelineProbe(spark, dest, "fk", k)
          .collect().map(_.toString).sorted.toSeq
        val expected = union.filter(col("fk") === k)
          .collect().map(_.toString).sorted.toSeq
        assert(probed == expected, s"fk $k: $probed != $expected")
      }, Seq("fk", "seq"), Seq(col("fk").asc, col("seq").desc))

    // the posting store is the same layout keyed on the exploded `__key`
    val tagBase = Seq((1L, List("jobs", "perf")), (2L, List("jobs")),
      (3L, List("x", "perf"))).toDF("id", "tags")
    val tagBatches = Seq(Seq((4L, List("jobs", "new")), (5L, List("perf"))),
      Seq((6L, List("jobs", "x")), (7L, List("new", "perf"))))
      .map(_.toDF("id", "tags"))
    val posting = java.nio.file.Files
      .createTempDirectory("graft-post-life").toString
    ServingStores.buildPostings(tagBase, col("tags"), posting, buckets = 4)
    var tagUnion = tagBase
    lifecycle(posting, { b =>
        ServingStores.appendPostings(b, col("tags"), posting)
        tagUnion = tagUnion.unionAll(b)
      }, tagBatches, () =>
        Seq("jobs", "perf", "x", "new", "absent").foreach { tag =>
          val probed = ServingStores.postingProbe(spark, posting, tag)
            .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
          val expected = tagUnion.filter(array_contains(col("tags"), tag))
            .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
          assert(probed == expected, s"tag '$tag': $probed != $expected")
        }, Seq("__key"), Seq(col("__key").asc))
  }

  test("q_hashtag_served / q_user_timeline_served stay value-identical " +
      "when their stores are built by an append+compact cycle instead of " +
      "one shot (round-11 verdict item 1's driver-query criterion)") {
    val sfDir = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-cycle").toString

    // doc postings: 80% base build, 20% appended, then compacted —
    // probed with the EXACT q_hashtag_served query shape
    val docs = graft.util.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        split(col("text"), " ").as("__words"))
    ServingStores.buildPostings(docs.filter(col("doc_id") % 5 =!= 0),
      col("__words"), s"$tmp/postings", dropCols = Seq("__words"))
    ServingStores.appendPostings(docs.filter(col("doc_id") % 5 === 0),
      col("__words"), s"$tmp/postings", dropCols = Seq("__words"))
    ServingStores.compact(spark, s"$tmp/postings")
    def hashtagServed(store: String): Seq[String] =
      ServingStores.postingProbe(spark, store, "spark")
        .orderBy(col("doc_id").asc).limit(1000)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .collect().map(_.toString).toSeq
    assert(hashtagServed(s"$tmp/postings") ==
      hashtagServed(ServingStores.ensureDocPostings(spark, sfDir)))

    // orders timeline: same cycle, probed with the q_user_timeline_served
    // key-set shape
    val orders = graft.util.Tables.orders(spark, sfDir)
    ServingStores.buildTimeline(orders.filter(col("o_orderkey") % 5 =!= 0),
      "o_custkey", s"$tmp/timeline", sortDesc = Seq("o_orderdate"))
    ServingStores.appendTimeline(orders.filter(col("o_orderkey") % 5 === 0),
      s"$tmp/timeline")
    ServingStores.compact(spark, s"$tmp/timeline")
    val keys = graft.util.Tables.customer(spark, sfDir)
      .select(col("c_custkey")).limit(3).collect().map(_.getLong(0)).toSeq
    def timelineServed(store: String): Seq[String] =
      ServingStores.timelineProbeMany(spark, store, "o_custkey", keys)
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc).limit(1000)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .collect().map(_.toString).toSeq
    assert(timelineServed(s"$tmp/timeline") ==
      timelineServed(ServingStores.ensureOrdersTimeline(spark, sfDir)))
    StoreAdmin.truncate(s"$tmp/postings")
    StoreAdmin.truncate(s"$tmp/timeline")
  }

  test("degenerate stores: all-empty key arrays build a probeable empty " +
      "store; an empty timeline key set returns a typed empty frame") {
    val noTags = Seq((1L, List.empty[String]), (2L, List.empty[String]))
      .toDF("id", "tags")
    val dest = java.nio.file.Files
      .createTempDirectory("graft-post-empty").toString
    ServingStores.buildPostings(noTags, col("tags"), dest, buckets = 3)
    val probed = ServingStores.postingProbe(spark, dest, "anything")
    assert(probed.columns.toSeq == Seq("id", "tags"))
    assert(probed.count() == 0L)
    StoreAdmin.truncate(dest)

    val facts = Seq((1L, 10)).toDF("fk", "v")
    val tl = java.nio.file.Files
      .createTempDirectory("graft-tl-empty").toString
    ServingStores.buildTimeline(facts, "fk", tl, buckets = 2)
    val none = ServingStores.timelineProbeMany(spark, tl, "fk", Seq.empty)
    assert(none.columns.toSeq == Seq("fk", "v"))
    assert(none.count() == 0L)
    StoreAdmin.truncate(tl)
  }

  test("timelineProbe/Many(fk) ≡ fk filter, multiplicity preserved") {
    val facts = samples(Gen.listOfN(60, for {
      fk <- Gen.chooseNum(0L, 12L)
      v  <- Gen.chooseNum(0, 999)
    } yield (fk, v)), 1).head
    // long and int keys: the driver computes each probe's bucket from the
    // literal, so a literal/column type mismatch in the bucket function
    // would open the wrong directory and miss rows
    for ((keyType, key) <- Seq[(String, Long => Any)](
        "bigint" -> (k => k), "int" -> (k => k.toInt));
        buckets <- Seq(5, 64)) {
      val df = facts.toDF("fk", "v").withColumn("fk", col("fk").cast(keyType))
      val dest = java.nio.file.Files
        .createTempDirectory("graft-tl-prop").toString
      ServingStores.buildTimeline(df, "fk", dest, buckets = buckets)
      def rows(d: DataFrame) = d.select(col("fk").cast("long"), col("v"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      (0L to 13L).foreach { k =>
        val probed = rows(ServingStores.timelineProbe(spark, dest, "fk", key(k)))
        val expected = rows(df.filter(col("fk") === k))
        assert(probed == expected,
          s"$keyType fk $k, $buckets buckets: $probed != $expected")
      }
      // multi-key probe = union of single probes (incl. duplicates kept)
      val many = rows(ServingStores.timelineProbeMany(spark, dest, "fk",
        Seq(1L, 5L, 13L).map(key)))
      val expMany = rows(df.filter(col("fk").isin(1L, 5L, 13L)))
      assert(many == expMany, s"$keyType, $buckets buckets")
      // the driver's routing is pinned against the written `__bucket`:
      // every key's rows live in exactly the directory a probe opens
      val written = spark.read.parquet(dest)
        .select(col("fk").cast("long"), col("__bucket")).distinct()
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      written.foreach { case (k, b) =>
        val opened = LocalScan.opened(
            ServingStores.timelineProbe(spark, dest, "fk", key(k)))._2
          .map(f => Paths.get(f).getParent.getFileName.toString).distinct
        assert(opened == Seq(s"__bucket=$b"),
          s"$keyType fk $k written to bucket $b, probe opened $opened")
      }
      StoreAdmin.truncate(dest)
    }
  }

  /** `body` with the session writing parquet row groups of about `bytes`
    * (parquet checks the size every 100 rows), so one bucket file holds
    * several row groups.
    */
  private def smallRowGroups[A](bytes: Int)(body: => A): A = {
    spark.conf.set("parquet.block.size", bytes.toString)
    try body finally spark.conf.unset("parquet.block.size")
  }

  test("a probe decodes only the row groups whose key statistics admit " +
      "it: one bucket written as several row groups, string and long keys") {
    val facts = (0 until 2000).map(i => (i % 40L, i))
    for (keyType <- Seq("string", "bigint")) {
      val df = facts.toDF("fk", "v").withColumn("fk", col("fk").cast(keyType))
      val dest = java.nio.file.Files.createTempDirectory("graft-tl-rg").toString
      smallRowGroups(1024)(ServingStores.buildTimeline(df, "fk", dest, buckets = 1))
      def key(k: Long): Any = if (keyType == "string") k.toString else k
      def rows(d: DataFrame) = d.select(col("fk").cast("long"), col("v"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      for (k <- Seq(0L, 17L, 39L)) {
        val (probed, reads) = LocalScan.reads(
          rows(ServingStores.timelineProbe(spark, dest, "fk", key(k))))
        assert(probed == rows(df.filter(col("fk") === key(k))), s"$keyType fk $k")
        assert(reads.rows >= probed.size && reads.rows < facts.size / 4,
          s"$keyType fk $k: decoded ${reads.rows} of ${facts.size} rows for ${probed.size}")
      }
      // with parquet filter push-down off the session reads the bucket whole
      spark.conf.set("spark.sql.parquet.filterPushdown", "false")
      val whole = try LocalScan.reads(
          ServingStores.timelineProbe(spark, dest, "fk", key(17L)).collect())._2
        finally spark.conf.unset("spark.sql.parquet.filterPushdown")
      assert(whole.rows == facts.size, s"$keyType: push-down off decoded ${whole.rows}")
      StoreAdmin.truncate(dest)
    }
  }

  test("a repeated probe reads no footer of its own: each listed file's " +
      "row-group statistics are read once") {
    val df = (0 until 2000).map(i => (i % 40L, i)).toDF("fk", "v")
    val dest = java.nio.file.Files.createTempDirectory("graft-tl-footer").toString
    smallRowGroups(1024)(ServingStores.buildTimeline(df, "fk", dest, buckets = 2))
    def probe() = LocalScan.reads(ServingStores.timelineProbe(spark, dest, "fk", 17L)
      .collect().map(_.getInt(1)).sorted.toSeq)
    val (first, r1) = probe()
    val (second, r2) = probe()
    assert(first == (0 until 2000).filter(_ % 40 == 17))
    assert(r1.footers == r1.files.size && r1.footers > 0, s"first probe: $r1")
    assert(second == first && r2.files == r1.files && r2.rows == r1.rows)
    assert(r2.footers == 0, s"the repeated probe read ${r2.footers} footers")
    StoreAdmin.truncate(dest)
  }

  test("a probe bounded by Top serves orderBy.limit of its key while holding " +
      "the bound: one key with more rows than the cap, ties in read order") {
    val df = (0 until 300).map(i => (i.toLong, if (i % 3 == 0) List("hot", "x") else List("hot"),
      i % 7)).toDF("id", "tags", "score")
    val dest = java.nio.file.Files.createTempDirectory("graft-post-top").toString
    smallRowGroups(1024)(ServingStores.buildPostings(df, col("tags"), dest, buckets = 2))
    ServingStores.appendPostings((300 until 340).map(i => (i.toLong, List("hot"), i % 7))
      .toDF("id", "tags", "score"), col("tags"), dest)
    def ids(d: DataFrame) = d.select(col("id")).collect().map(_.getLong(0)).toSeq
    for (n <- Seq(0, 1, 25, 339, 340, 1000)) {
      val total = Seq(col("score").desc, col("id").asc)
      val bounded = ServingStores.postingProbe(spark, dest, "hot",
        Some(LocalScan.Top(n, total: _*)))
      val source = df.unionAll((300 until 340).map(i => (i.toLong, List("hot"), i % 7))
        .toDF("id", "tags", "score"))
      assert(ids(bounded) == ids(source.orderBy(total: _*).limit(n)), s"cap $n")
      // ties only: the bound keeps the read order a full read then a stable sort keeps
      val ties = ServingStores.postingProbe(spark, dest, "hot",
        Some(LocalScan.Top(n, col("score").asc)))
      assert(ids(ties) == ids(LocalScan.top(ServingStores.postingProbe(spark, dest, "hot"),
        n, col("score").asc)), s"cap $n, ties")
    }
    StoreAdmin.truncate(dest)
  }

  test("a probe whose key routes to an absent bucket directory is a typed " +
      "empty frame that starts no Spark job; the append that creates the " +
      "directory is served by the next probe") {
    val dest = java.nio.file.Files
      .createTempDirectory("graft-tl-absent").toString
    ServingStores.buildTimeline(Seq(("a", 1)).toDF("k", "v"), "k", dest)
    def bucketDirs = StoreFs.list(Paths.get(dest))
      .map(_.getFileName.toString).filter(_.startsWith("__bucket=")).toSet
    val before = bucketDirs
    assert(before.size == 1)
    val absent = SparkWork(spark.sparkContext)(
      ServingStores.timelineProbe(spark, dest, "k", "b").collect())
    assert(absent.result.isEmpty && absent.jobs == 0,
      s"absent-bucket probe: ${absent.result.toSeq}, ${absent.jobs} jobs")
    assert(ServingStores.timelineProbe(spark, dest, "k", "b").columns.toSeq ==
      Seq("k", "v"))
    ServingStores.appendTimeline(Seq(("b", 2)).toDF("k", "v"), dest)
    assert((bucketDirs -- before).size == 1,
      "the probed key's bucket directory must have been absent")
    assert(ServingStores.timelineProbe(spark, dest, "k", "b").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("b", 2)))
    StoreAdmin.truncate(dest)
  }

  test("a tombstoned row in an opened bucket stays dropped") {
    val dest = java.nio.file.Files
      .createTempDirectory("graft-tl-tomb").toString
    val facts = Seq((1L, "u1", 10), (2L, "u1", 20), (3L, "u2", 30))
      .toDF("id", "fk", "v")
    ServingStores.buildTimeline(facts, "fk", dest, buckets = 64)
    ServingStores.deleteIds(spark, dest, "id", Seq(2L))
    def probe(k: String) = ServingStores.timelineProbe(spark, dest, "fk", k)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(probe("u1") == Seq(1L), "the deleted row leaked past the kill")
    assert(probe("u2") == Seq(3L))
    // an upsert's new version survives its own tombstone; the old dies
    ServingStores.upsertTimeline(Seq((1L, "u1", 11)).toDF("id", "fk", "v"),
      "id", dest)
    assert(ServingStores.timelineProbe(spark, dest, "fk", "u1")
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq == Seq((1L, 11)))
    StoreAdmin.truncate(dest)
  }

  test("a compact folds every hot bucket in one write: the same Spark " +
      "jobs with 2 hot buckets as with 8") {
    val base = (0 until 200).map(k => (k, k * 10)).toDF("k", "v")
    def build(): String = {
      val dest = java.nio.file.Files.createTempDirectory("graft-fold-jobs").toString
      ServingStores.buildTimeline(base, "k", dest, buckets = 8)
      dest
    }
    val probe = build()
    val bucketOfKey = spark.read.parquet(probe)
      .select(col("k"), col("__bucket")).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    // one key per bucket, for the first n buckets
    def batch(n: Int) = bucketOfKey.toSeq.sortBy(_._1).groupBy(_._2).toSeq
      .sortBy(_._1).take(n).map(_._2.head._1).map(k => (k, -k)).toDF("k", "v")
    def foldJobs(n: Int): Int = {
      val dest = build()
      ServingStores.appendTimeline(batch(n), dest)
      val work = SparkWork(spark.sparkContext)(
        ServingStores.compactHotBuckets(spark, dest, minFiles = 2))
      assert(work.result.size == n, s"expected $n hot buckets: ${work.result}")
      assert((0 until 8).forall(ServingStores.bucketFileCount(dest, _) == 1))
      assert(ServingStores.timelineProbe(spark, dest, "k", batch(n).head().getInt(0))
        .count() == 2)
      StoreAdmin.truncate(dest)
      work.jobs
    }
    assert(bucketOfKey.values.toSet.size == 8, "a bucket received no key")
    assert(foldJobs(2) == foldJobs(8))
    StoreAdmin.truncate(probe)
  }

  test("probes ≡ the source filter after every write and fold: append, " +
      "upsert, delete, compact, rebucket") {
    // the store's source, kept as plain rows: (id, fk, v)
    var source = (1L to 30L).map(i => (i, s"u${i % 4}", i.toInt)).toVector
    val dest = java.nio.file.Files.createTempDirectory("graft-tl-ops").toString
    ServingStores.buildTimeline(source.toDF("id", "fk", "v"), "fk", dest,
      sortDesc = Seq("v"), buckets = 3)
    def check(step: String): Unit = {
      val keys = (0 to 5).map(k => s"u$k")
      keys.foreach { k =>
        val probed = ServingStores.timelineProbe(spark, dest, "fk", k).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
        assert(probed == source.filter(_._2 == k).sorted, s"$step: fk $k")
      }
      val many = ServingStores.timelineProbeMany(spark, dest, "fk", keys).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
      assert(many == source.sorted, s"$step: every key at once")
    }
    check("build")
    val fresh = (31L to 36L).map(i => (i, s"u${i % 6}", i.toInt))
    ServingStores.appendTimeline(fresh.toDF("id", "fk", "v"), dest)
    source ++= fresh
    check("append")
    // edits move rows between keys and change values
    val edits = Seq((2L, "u5", 200), (7L, "u3", 700), (33L, "u0", 330))
    ServingStores.upsertTimeline(edits.toDF("id", "fk", "v"), "id", dest)
    source = source.filterNot(r => edits.exists(_._1 == r._1)) ++ edits
    check("upsert")
    ServingStores.deleteIds(spark, dest, "id", Seq(3L, 31L, 7L))
    source = source.filterNot(r => Set(3L, 31L, 7L)(r._1))
    check("delete")
    ServingStores.compact(spark, dest)
    assert(!ServingStores.hasTombstones(dest))
    check("compact")
    ServingStores.rebucket(spark, dest, 5)
    check("rebucket")
    ServingStores.upsertTimeline(Seq((4L, "u1", 40)).toDF("id", "fk", "v"), "id", dest)
    source = source.filterNot(_._1 == 4L) :+ ((4L, "u1", 40))
    check("upsert after rebucket")
    StoreAdmin.truncate(dest)
  }
}
