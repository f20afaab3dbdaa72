package graft.search

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.util.StoreLock
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach

/** The serving-store concurrency contract (round-12 verdict item 1 —
  * the lost-append window): compaction is segment-model, so a write
  * landing DURING a compact survives with zero lost rows; rebucketing
  * excludes writers via the store lock, so that collision fails LOUDLY;
  * maintenance serializes against maintenance; a crashed holder's stale
  * lock is stolen. The interleavings are driven deterministically
  * through [[ServingStores.testHookBeforeSwap]], which fires after the
  * fold's files are staged and before its commit — the exact window the
  * round-12 code destroyed appends in — and through a [[graft.util
  * .StoreFs]] double that runs a rebucket inside an append's commit.
  */
class StoreConcurrencySpec extends SparkSpec with BeforeAndAfterEach {
  import spark.implicits._

  private def probeIds(dest: String, tag: String): Seq[Long] =
    ServingStores.postingProbe(spark, dest, tag)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq

  override def afterEach(): Unit = {
    ServingStores.testHookBeforeSwap = _ => ()
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
    ServingStores.testHookBeforeSwap = d => if (!fired) {
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
    ServingStores.testHookBeforeSwap = _ => ()
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
    ServingStores.testHookBeforeSwap = d => if (!fired) {
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

  test("a write racing a REBUCKET fails loudly at entry — never silent loss") {
    val dest = Files.createTempDirectory("graft-conc-rebucket").toString
    val base = Seq((1L, List("jobs"))).toDF("id", "tags")
    ServingStores.buildPostings(base, col("tags"), dest, buckets = 2)
    var sawReject = false
    ServingStores.testHookBeforeSwap = d => if (!sawReject) {
      sawReject = true
      val ex = intercept[IllegalStateException] {
        ServingStores.appendPostings(
          Seq((9L, List("jobs"))).toDF("id", "tags"), col("tags"), d)
      }
      assert(ex.getMessage.contains("rebucket"))
    }
    ServingStores.rebucket(spark, dest, 5)
    assert(sawReject, "the racing append was not rejected")
    // the rebucket completed and the rejected batch is absent (the caller
    // re-applies it), not half-applied
    assert(probeIds(dest, "jobs") == Seq(1L))
    ServingStores.appendPostings(
      Seq((9L, List("jobs"))).toDF("id", "tags"), col("tags"), dest)
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

  test("maintenance serializes against maintenance; a stale lock is stolen") {
    val dest = Files.createTempDirectory("graft-conc-lock").toString
    val base = Seq((1L, List("jobs")), (2L, List("jobs"))).toDF("id", "tags")
    ServingStores.buildPostings(base, col("tags"), dest, buckets = 2)
    ServingStores.appendPostings(
      Seq((3L, List("jobs"))).toDF("id", "tags"), col("tags"), dest)
    // a live holder rejects a second maintainer
    StoreLock.acquire(dest, "compact")
    val ex = intercept[IllegalStateException] {
      ServingStores.compact(spark, dest)
    }
    assert(ex.getMessage.contains("compact"))
    StoreLock.release(dest)
    // a CRASHED holder (stale timestamp) is stolen, maintenance proceeds
    Files.writeString(Paths.get(dest, StoreLock.LockFile),
      s"compact ${System.currentTimeMillis() - StoreLock.DefaultStaleMs - 1}")
    ServingStores.compact(spark, dest)
    assert(!Files.exists(Paths.get(dest, StoreLock.LockFile)),
      "lock must be released after a completed pass")
    assert(probeIds(dest, "jobs") == Seq(1L, 2L, 3L))
    // and writers reject a live non-compact holder at entry
    StoreLock.acquire(dest, "rebucket")
    intercept[IllegalStateException] {
      ServingStores.appendPostings(
        Seq((4L, List("jobs"))).toDF("id", "tags"), col("tags"), dest)
    }
    StoreLock.release(dest)
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
    ServingStores.testHookBeforeSwap = d => {
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
}
