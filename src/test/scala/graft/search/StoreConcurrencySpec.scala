package graft.search

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach

/** The serving-store concurrency contract (round-12 verdict item 1 —
  * the lost-append window): the manifest commit decides every race, with
  * no lock and no entry check. A write landing DURING a compact survives
  * with zero lost rows; against a rebucket, and between two maintainers,
  * the side that commits second throws, never a silent loss; a commit
  * deletes no file, so a probe serves the whole generation it opened.
  * The interleavings are driven deterministically through
  * [[ServingStores.testHookBeforeCommit]], which fires after the fold's
  * files are staged and before its commit — the exact window the
  * round-12 code destroyed appends in — and through a [[graft.util
  * .StoreFs]] double that runs a rebucket inside an append's commit.
  * The signature and ANN stores built on the timeline store inherit the
  * contract; [[graft.dedup.SimHashStore]], the live near-dup gate's
  * store, is driven through the same hook and a failing manifest create.
  */
class StoreConcurrencySpec extends SparkSpec with BeforeAndAfterEach {
  import spark.implicits._

  private def probeIds(dest: String, tag: String): Seq[Long] =
    ServingStores.postingProbe(spark, dest, tag)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq

  // enough docs per write that every bucket of a SimHashStore sized to
  // the task slots gets a file from each write, so a compact has a fold
  private def docs(ids: Range) =
    ids.map(i => (i.toLong, s"doc $i alpha beta ${i * 7} gamma")).toDF("doc_id", "text")

  /** True iff every bucket of the store lists exactly one file — what a
    * full fold leaves.
    */
  private def oneFilePerBucket(dest: String): Boolean = {
    val files = ServingStores.read(spark, dest).inputFiles.toSeq
    files.nonEmpty &&
      files.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.size == files.size
  }

  override def afterEach(): Unit = {
    ServingStores.testHookBeforeCommit = _ => ()
    super.afterEach()
  }

  test("an append landing DURING a compact survives it — zero lost rows " +
      "(segment model: fold+delete exactly the snapshot's files)") {
    val dest = Files.createTempDirectory("graft-conc-compact").toString
    val base = Seq((1L, List("jobs")), (2L, List("jobs", "perf")))
      .toDF("id", "tags")
    ServingStores.buildPostings(base, col("tags"), dest, buckets = 2)
    ServingStores.appendPostings(
      Seq((3L, List("jobs"))).toDF("id", "tags"), col("tags"), dest)
    // the racing write: fires inside the compact, after its snapshot —
    // with round-12's whole-directory swap these rows were silently
    // destroyed; the segment model must leave them untouched
    var fired = false
    ServingStores.testHookBeforeCommit = d => if (!fired) {
      fired = true
      ServingStores.appendPostings(
        Seq((4L, List("jobs", "late"))).toDF("id", "tags"), col("tags"), d)
    }
    ServingStores.compact(spark, dest)
    assert(fired, "the interleaved append never ran")
    assert(probeIds(dest, "jobs") == Seq(1L, 2L, 3L, 4L),
      "a row appended during the compact was lost")
    assert(probeIds(dest, "late") == Seq(4L))
    // and the next compact folds the straggler in, file count bounded
    ServingStores.testHookBeforeCommit = _ => ()
    ServingStores.compact(spark, dest)
    assert(ServingStores.dataFileCount(dest) <= 2)
    assert(probeIds(dest, "jobs") == Seq(1L, 2L, 3L, 4L))
    StoreAdmin.truncate(dest)
  }

  test("an upsert landing DURING a compact survives it — its tombstone " +
      "outlives the pass (only SNAPSHOTTED tombstone files are cleared)") {
    val dest = Files.createTempDirectory("graft-conc-upsert").toString
    val base = Seq((1L, List("jobs")), (2L, List("jobs"))).toDF("id", "tags")
    ServingStores.buildPostings(base, col("tags"), dest, buckets = 2)
    // a pre-existing tombstone makes this a PURGING compact (minFiles=1)
    ServingStores.upsertPostings(
      Seq((2L, List("jobs", "v2"))).toDF("id", "tags"), "id", col("tags"), dest)
    var fired = false
    ServingStores.testHookBeforeCommit = d => if (!fired) {
      fired = true
      // re-edit id 1 mid-compact: its tombstone must keep applying after
      // the pass clears the tombstones the fold DID apply
      ServingStores.upsertPostings(
        Seq((1L, List("jobs", "v2"))).toDF("id", "tags"), "id", col("tags"), d)
    }
    ServingStores.compact(spark, dest)
    assert(fired)
    assert(ServingStores.hasTombstones(dest),
      "the mid-compact upsert's tombstone was wrongly cleared")
    assert(probeIds(dest, "jobs") == Seq(1L, 2L))
    assert(probeIds(dest, "v2") == Seq(1L, 2L),
      "a version written during the compact was lost or shadowed")
    StoreAdmin.truncate(dest)
  }

  test("a write racing a REBUCKET: the side that commits second throws " +
      "— never silent loss") {
    val dest = Files.createTempDirectory("graft-conc-rebucket").toString
    val base = Seq((1L, List("jobs"))).toDF("id", "tags")
    ServingStores.buildPostings(base, col("tags"), dest, buckets = 2)
    // the append runs inside the rebucket's pre-commit window and commits
    // first: it is served, and the rebucket's commit is the one that throws
    var appended = false
    ServingStores.testHookBeforeCommit = d => if (!appended) {
      appended = true
      ServingStores.appendPostings(
        Seq((9L, List("jobs"))).toDF("id", "tags"), col("tags"), d)
    }
    val ex = intercept[IllegalStateException] {
      ServingStores.rebucket(spark, dest, 5)
    }
    assert(appended, "the racing append never ran")
    assert(ex.getMessage.contains("rebucket"), ex.getMessage)
    assert(probeIds(dest, "jobs") == Seq(1L, 9L),
      "the append that committed first is not served")
    // the rebucket was not applied; re-run, it folds the append in
    ServingStores.testHookBeforeCommit = _ => ()
    ServingStores.rebucket(spark, dest, 5)
    assert(probeIds(dest, "jobs") == Seq(1L, 9L))
    StoreAdmin.truncate(dest)
  }

  test("a rebucket committed between an append's staging and its commit " +
      "makes the append throw, naming the rebucket; none of its rows is " +
      "served") {
    val dest = Files.createTempDirectory("graft-conc-commit").toString
    val base = Seq((1L, List("jobs")), (2L, List("perf"))).toDF("id", "tags")
    ServingStores.buildPostings(base, col("tags"), dest, buckets = 2)
    // the append's manifest create is intercepted: the rebucket runs and
    // commits first, with the append's files already staged
    var rebucketed = false
    val rebucketFirst = new graft.util.DelegatingFs {
      override def createExclusive(p: java.nio.file.Path, c: String): Unit = {
        if (!rebucketed && p.getParent.getFileName.toString == "_manifest") {
          rebucketed = true
          ServingStores.rebucket(spark, dest, 5)
        }
        super.createExclusive(p, c)
      }
    }
    val ex = intercept[IllegalStateException] {
      graft.util.StoreFs.withFs(rebucketFirst)(ServingStores.appendPostings(
        Seq((3L, List("jobs", "late"))).toDF("id", "tags"), col("tags"), dest))
    }
    assert(rebucketed, "the rebucket never ran inside the append's commit")
    assert(ex.getMessage.contains("rebucket"), ex.getMessage)
    assert(probeIds(dest, "jobs") == Seq(1L))
    assert(probeIds(dest, "late").isEmpty, "a row of the failed append is served")
    assert(probeIds(dest, "perf") == Seq(2L))
    // re-applied after the rebucket, the batch lands under the new count
    ServingStores.appendPostings(
      Seq((3L, List("jobs", "late"))).toDF("id", "tags"), col("tags"), dest)
    assert(probeIds(dest, "jobs") == Seq(1L, 3L))
    StoreAdmin.truncate(dest)
  }

  test("a second maintainer throws at its commit; the first's result " +
      "serves") {
    val dest = Files.createTempDirectory("graft-conc-lock").toString
    val base = Seq((1L, List("jobs")), (2L, List("jobs"))).toDF("id", "tags")
    ServingStores.buildPostings(base, col("tags"), dest, buckets = 2)
    ServingStores.appendPostings(
      Seq((3L, List("jobs"))).toDF("id", "tags"), col("tags"), dest)
    // the inner compact folds the same files and commits first
    var inner = false
    var innerCommitted = false
    ServingStores.testHookBeforeCommit = d => if (!inner) {
      inner = true
      ServingStores.compact(spark, d)
      innerCommitted = true
    }
    val ex = intercept[IllegalStateException] {
      ServingStores.compact(spark, dest)
    }
    assert(innerCommitted, "the inner compact did not commit")
    assert(ex.getMessage.contains("compact"), ex.getMessage)
    assert(ServingStores.dataFileCount(dest) == 1, "the inner compact's fold is not served")
    assert(probeIds(dest, "jobs") == Seq(1L, 2L, 3L))
    StoreAdmin.truncate(dest)
  }

  test("a probe frame opened before a purging compact's commit still " +
      "serves the complete old generation after it: the commit deletes no " +
      "file") {
    val dest = Files.createTempDirectory("graft-conc-purge").toString
    val base = Seq((1L, List("jobs")), (2L, List("jobs"))).toDF("id", "tags")
    ServingStores.buildPostings(base, col("tags"), dest, buckets = 2)
    // the tombstone makes the compact a purging fold of every bucket
    ServingStores.upsertPostings(
      Seq((2L, List("jobs", "v2"))).toDF("id", "tags"), "id", col("tags"), dest)
    var preCommit: org.apache.spark.sql.DataFrame = null
    ServingStores.testHookBeforeCommit = d =>
      preCommit = ServingStores.postingProbe(spark, d, "jobs")
    ServingStores.compact(spark, dest)
    assert(!ServingStores.hasTombstones(dest), "the compact did not purge")
    assert(preCommit.select(col("id")).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L),
      "a probe opened on the pre-commit manifest lost its files")
    assert(probeIds(dest, "jobs") == Seq(1L, 2L))
    StoreAdmin.truncate(dest)
  }

  test("probes racing a compact either serve a full generation or fail " +
      "loudly; the first probe after the swap succeeds") {
    // round-12 verdict item 6: the commit window's behavior as a spec.
    // The hook fires with the fold staged and its commit not yet
    // published — a probe HERE serves the old generation, and a probe
    // frame built here (on the pre-commit manifest) still serves the
    // complete old generation when collected after the commit, because
    // a commit deletes no file; after the pass a fresh probe serves the
    // new generation. All three states observed.
    val dest = Files.createTempDirectory("graft-conc-serve").toString
    val base = Seq((1L, List("jobs")), (2L, List("jobs"))).toDF("id", "tags")
    ServingStores.buildPostings(base, col("tags"), dest, buckets = 2)
    ServingStores.appendPostings(
      Seq((3L, List("jobs"))).toDF("id", "tags"), col("tags"), dest)
    var duringSwap: Seq[Long] = Nil
    var preCommit: org.apache.spark.sql.DataFrame = null
    ServingStores.testHookBeforeCommit = d => {
      duringSwap = probeIds(d, "jobs")
      preCommit = ServingStores.postingProbe(spark, d, "jobs")
    }
    ServingStores.compact(spark, dest)
    assert(duringSwap == Seq(1L, 2L, 3L),
      "a probe before the swap must serve the complete old generation")
    assert(preCommit.select(col("id")).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 3L),
      "a probe opened on the pre-commit manifest must still serve the " +
        "complete old generation after the commit")
    assert(probeIds(dest, "jobs") == Seq(1L, 2L, 3L),
      "the first probe after the swap must serve the new generation")
    StoreAdmin.truncate(dest)
  }

  test("four threads probing stores of four row layouts at once each " +
      "serve exactly their own rows") {
    // column names no other spec uses, so the driver's reader for each
    // layout is built while the four threads race
    val root = Files.createTempDirectory("graft-conc-layouts")
    val a = Seq(("k1", 1, "x"), ("k2", 2, "y"), ("k1", 3, "z"))
      .toDF("ca_key", "ca_n", "ca_s")
    val b = Seq((1L, 0.5, Seq("p", "q")), (2L, 1.5, Seq.empty[String]), (1L, 2.5, Seq("r")))
      .toDF("cb_key", "cb_d", "cb_arr")
    val c = Seq((10L, Seq("jobs", "perf"), true), (11L, Seq("jobs"), false))
      .toDF("cc_id", "cc_tags", "cc_flag")
    val d = Seq(("m1", "v1", java.sql.Timestamp.valueOf("2021-03-01 10:00:00")),
        ("m2", "v2", java.sql.Timestamp.valueOf("2021-03-02 10:00:00")))
      .toDF("cd_id", "cd_key", "cd_ts")
    def dir(n: String) = root.resolve(n).toString
    ServingStores.buildTimeline(a, "ca_key", dir("a"), buckets = 3)
    ServingStores.buildTimeline(b, "cb_key", dir("b"), buckets = 2)
    ServingStores.buildPostings(c, col("cc_tags"), dir("c"), buckets = 2)
    ServingStores.buildTimeline(d, "cd_key", dir("d"), buckets = 2)
    ServingStores.upsertTimeline(
      Seq(("m1", "v1", java.sql.Timestamp.valueOf("2021-03-05 10:00:00")))
        .toDF("cd_id", "cd_key", "cd_ts"), "cd_id", dir("d"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val probes = Seq[(() => org.apache.spark.sql.DataFrame, Seq[String])](
      (() => ServingStores.timelineProbe(spark, dir("a"), "ca_key", "k1"),
        rows(a.filter(col("ca_key") === "k1"))),
      (() => ServingStores.timelineProbeMany(spark, dir("b"), "cb_key", Seq(1L, 2L)),
        rows(b)),
      (() => ServingStores.postingProbe(spark, dir("c"), "jobs"), rows(c)),
      (() => ServingStores.timelineProbe(spark, dir("d"), "cd_key", "v1"),
        Seq("[m1,v1,2021-03-05 10:00:00.0]")))
    val start = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = probes.map { case (probe, expected) =>
      val t = new Thread(() => {
        start.await()
        (1 to 25).foreach { i =>
          try {
            val got = rows(probe())
            if (got != expected) failures.add(s"read $i: $got != $expected")
          } catch { case e: Exception => failures.add(s"read $i: $e") }
        }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join())
    assert(failures.isEmpty, failures.toArray.take(5).mkString("\n"))
    StoreAdmin.truncate(root.toString)
  }

  test("a SimHashStore upsert landing DURING its compact survives it — no " +
      "row lost, the edit's signature wins") {
    import graft.dedup.{Dedup, SimHashStore}
    val dest = Files.createTempDirectory("graft-conc-simhash").toString
    val base = docs(1 to 40)
    val late = docs(41 to 80)
    val edit = Seq((2L, "completely different replacement text"))
      .toDF("doc_id", "text")
    SimHashStore.buildAt(dest, base, "doc_id", "text")
    SimHashStore.appendBatch(dest, late, "doc_id", "text")
    var fired = false
    ServingStores.testHookBeforeCommit = d => if (!fired) {
      fired = true
      SimHashStore.upsertBatch(spark, d, edit, "doc_id", "text")
    }
    SimHashStore.compact(spark, dest)
    assert(fired, "the interleaved upsert never ran")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val expected = rows(Dedup.simHash(
      base.filter(col("doc_id") =!= 2L).unionAll(edit).unionAll(late),
      "doc_id", "text"))
    assert(rows(SimHashStore.read(spark, dest)) == expected,
      "a row was lost or the stale signature of doc 2 still serves")
    // the next compact folds the upsert in and applies its tombstone
    ServingStores.testHookBeforeCommit = _ => ()
    SimHashStore.compact(spark, dest)
    assert(!ServingStores.hasTombstones(dest))
    assert(oneFilePerBucket(dest))
    assert(rows(SimHashStore.read(spark, dest)) == expected)
    StoreAdmin.truncate(dest)
  }

  test("a SimHashStore write or compact whose manifest create fails leaves " +
      "the previous commit serving and no maintenance lock behind") {
    import java.nio.file.{Path, Paths}
    import graft.dedup.SimHashStore
    import graft.util.StoreFs
    val dest = Files.createTempDirectory("graft-conc-simhash-crash").toString
    SimHashStore.buildAt(dest, docs(1 to 40), "doc_id", "text")
    SimHashStore.appendBatch(dest, docs(41 to 80), "doc_id", "text")
    def rows() = SimHashStore.read(spark, dest).collect().map(_.toString).sorted.toSeq
    val before = rows()
    val crashOnCommit = new graft.util.DelegatingFs {
      override def createExclusive(p: Path, c: String): Unit =
        if (p.getParent == Paths.get(dest, "_manifest"))
          throw new java.io.IOException(s"crash creating $p")
        else super.createExclusive(p, c)
    }
    intercept[java.io.IOException](StoreFs.withFs(crashOnCommit)(
      SimHashStore.compact(spark, dest)))
    intercept[java.io.IOException](StoreFs.withFs(crashOnCommit)(
      SimHashStore.upsertBatch(spark, dest,
        Seq((1L, "an edit that never commits")).toDF("doc_id", "text"),
        "doc_id", "text")))
    assert(rows() == before, "a failed commit changed what serves")
    assert(!Files.exists(Paths.get(dest, "_maintenance.lock")),
      "a failed commit left a maintenance lock behind")
    assert(ServingStores.unlisted(dest).nonEmpty,
      "the failed writes staged no file into the store")
    // the store stays writable: the next compact commits and serves the same rows
    SimHashStore.compact(spark, dest)
    assert(oneFilePerBucket(dest))
    assert(rows() == before)
    StoreAdmin.truncate(dest)
  }
}
