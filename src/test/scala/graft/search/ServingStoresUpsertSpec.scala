package graft.search

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Id-keyed update/delete through the persisted store lifecycle
  * (round-12 verdict item 2 — the reference indexer's addBean-overwrite
  * semantics, `SolrIndexer.java:47-59`): an upsert's tombstone kills the
  * id's older generations at probe time, compaction folds the delete
  * physically and clears the tombstones it applied, and the invariant
  * under every interleaving is probe ≡ rebuild-from-the-updated-source.
  */
class ServingStoresUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def probe(dest: String, tag: String): Seq[String] =
    ServingStores.postingProbe(spark, dest, tag)
      .collect().map(_.toString).sorted.toSeq

  test("upsertPostings replaces a re-posted id at probe time: old version " +
      "gone (even under keys the new version dropped), new version served") {
    val dest = Files.createTempDirectory("graft-ups-post").toString
    val base = Seq((1L, "v1", List("jobs", "perf")), (2L, "v1", List("jobs")))
      .toDF("id", "ver", "tags")
    ServingStores.buildPostings(base, col("tags"), dest, buckets = 2,
      dropCols = Seq("tags"))
    // edit id 1: drops 'perf', keeps 'jobs', gains 'scala', new payload
    ServingStores.upsertPostings(
      Seq((1L, "v2", List("jobs", "scala"))).toDF("id", "ver", "tags"),
      "id", col("tags"), dest, dropCols = Seq("tags"))
    assert(probe(dest, "perf").isEmpty,
      "a key the edit dropped must stop matching the doc")
    assert(probe(dest, "scala") == Seq("[1,v2]"))
    assert(probe(dest, "jobs") == Seq("[1,v2]", "[2,v1]"),
      "the edited doc must serve ONLY its new version")
    // a second edit of the same id: latest wins
    ServingStores.upsertPostings(
      Seq((1L, "v3", List("jobs"))).toDF("id", "ver", "tags"),
      "id", col("tags"), dest, dropCols = Seq("tags"))
    assert(probe(dest, "jobs") == Seq("[1,v3]", "[2,v1]"))
    assert(probe(dest, "scala").isEmpty)
    StoreAdmin.truncate(dest)
  }

  test("compaction purges tombstoned rows physically and clears the " +
      "tombstones; probe ≡ rebuild from the updated source") {
    val dest = Files.createTempDirectory("graft-ups-compact").toString
    val fresh = Files.createTempDirectory("graft-ups-fresh").toString
    val base = Seq((1L, "v1", List("jobs")), (2L, "v1", List("jobs", "go")))
      .toDF("id", "ver", "tags")
    ServingStores.buildPostings(base, col("tags"), dest, buckets = 2)
    ServingStores.upsertPostings(
      Seq((2L, "v2", List("jobs", "rust"))).toDF("id", "ver", "tags"),
      "id", col("tags"), dest)
    ServingStores.deleteIds(spark, dest, "id", Seq(1L))
    assert(ServingStores.hasTombstones(dest))
    ServingStores.compact(spark, dest)
    assert(!ServingStores.hasTombstones(dest),
      "a full compact must clear the tombstones it folded")
    // physically purged once reclaimed: the raw store (no probe filter)
    // holds no ghost
    StoreAdmin.reclaim(dest)
    val raw = spark.read.parquet(dest)
    assert(raw.filter(col("ver") === "v1").count() == 0,
      "dead row versions must be gone from disk after compact")
    // ≡ a store freshly built from the post-edit source
    ServingStores.buildPostings(
      Seq((2L, "v2", List("jobs", "rust"))).toDF("id", "ver", "tags"),
      col("tags"), fresh, buckets = 2)
    for (tag <- Seq("jobs", "go", "rust", "absent"))
      assert(probe(dest, tag) == probe(fresh, tag), s"tag '$tag'")
    StoreAdmin.truncate(dest); StoreAdmin.truncate(fresh)
  }

  test("partial hot-bucket compaction keeps the tombstones (cold buckets " +
      "still hold dead rows); a rebucket purges and clears them") {
    val dest = Files.createTempDirectory("graft-ups-hot").toString
    // buckets=1 so every row shares one bucket; minFiles high enough that
    // the hot pass folds nothing — tombstones must survive the no-op pass
    val base = Seq((1L, "v1", List("jobs"))).toDF("id", "ver", "tags")
    ServingStores.buildPostings(base, col("tags"), dest, buckets = 1,
      dropCols = Seq("tags"))
    ServingStores.upsertPostings(
      Seq((1L, "v2", List("jobs"))).toDF("id", "ver", "tags"),
      "id", col("tags"), dest, dropCols = Seq("tags"))
    ServingStores.compactHotBuckets(spark, dest, minFiles = 99)
    assert(ServingStores.hasTombstones(dest),
      "a pass that folded nothing must not clear tombstones")
    assert(probe(dest, "jobs") == Seq("[1,v2]"))
    ServingStores.rebucket(spark, dest, 3)
    assert(!ServingStores.hasTombstones(dest),
      "a rebucket is a full rewrite — tombstones folded and cleared")
    assert(probe(dest, "jobs") == Seq("[1,v2]"))
    StoreAdmin.reclaim(dest)
    assert(spark.read.parquet(dest).filter(col("ver") === "v1").count() == 0)
    // the generation counter SURVIVES the rebucket in place (it is never
    // deleted with the store content): a fresh upsert's tombstone must
    // outrank the surviving v2 rows, or the stale version serves forever
    ServingStores.upsertPostings(
      Seq((1L, "v3", List("jobs"))).toDF("id", "ver", "tags"),
      "id", col("tags"), dest, dropCols = Seq("tags"))
    assert(probe(dest, "jobs") == Seq("[1,v3]"),
      "post-rebucket upsert lost to a pre-rebucket generation")
    StoreAdmin.truncate(dest)
  }

  test("upsertTimeline replaces an edited FACT row inside its FK bucket; " +
      "compact ≡ rebuild from the updated facts") {
    val dest = Files.createTempDirectory("graft-ups-tl").toString
    val facts = Seq((10L, 1L, "a"), (11L, 1L, "b"), (12L, 2L, "c"))
      .toDF("fact_id", "fk", "payload")
    ServingStores.buildTimeline(facts, "fk", dest,
      sortDesc = Seq("fact_id"), buckets = 2)
    ServingStores.upsertTimeline(
      Seq((11L, 1L, "b-edited")).toDF("fact_id", "fk", "payload"),
      "fact_id", dest)
    def tl(fk: Long) = ServingStores.timelineProbe(spark, dest, "fk", fk)
      .collect().map(_.toString).sorted.toSeq
    assert(tl(1L) == Seq("[10,1,a]", "[11,1,b-edited]"))
    assert(tl(2L) == Seq("[12,2,c]"))
    ServingStores.compact(spark, dest)
    assert(!ServingStores.hasTombstones(dest))
    assert(tl(1L) == Seq("[10,1,a]", "[11,1,b-edited]"))
    StoreAdmin.truncate(dest)
  }

  test("deleteIds alone removes the rows (deleteById); the store's " +
      "identity column is pinned — a different idCol is rejected") {
    val dest = Files.createTempDirectory("graft-ups-del").toString
    val base = Seq((1L, List("jobs")), (2L, List("jobs"))).toDF("id", "tags")
    ServingStores.buildPostings(base, col("tags"), dest, buckets = 2,
      dropCols = Seq("tags"))
    ServingStores.deleteIds(spark, dest, "id", Seq(1L))
    assert(probe(dest, "jobs") == Seq("[2]"))
    val ex = intercept[IllegalArgumentException] {
      ServingStores.upsertPostings(
        Seq((3L, List("jobs"))).toDF("id", "tags"), "tags", col("tags"),
        dest, dropCols = Seq("tags"))
    }
    assert(ex.getMessage.contains("id"))
    // a DELETED id can come back via upsert (higher generation wins)
    ServingStores.upsertPostings(
      Seq((1L, List("jobs"))).toDF("id", "tags"), "id", col("tags"),
      dest, dropCols = Seq("tags"))
    assert(probe(dest, "jobs") == Seq("[1]", "[2]"))
    StoreAdmin.truncate(dest)
  }

  test("the driver-gated upsert twins replay their oracles' edit exactly " +
      "(store ≡ query over the edited corpus)") {
    val sfDir = "/root/testdata/sf0.001"
    val store = ServingStores.ensureDocPostingsUpsert(spark, sfDir)
    val probed = ServingStores.postingProbe(spark, store, "spark")
      .orderBy(col("doc_id").asc).limit(1000)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .collect().map(_.toString).toSeq
    val docs = graft.util.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
    val expected = ServingStores.editedDocs(docs)
      .filter(array_contains(split(col("text"), " "), "spark"))
      .orderBy(col("doc_id").asc).limit(1000)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .collect().map(_.toString).toSeq
    assert(probed.nonEmpty, "the edit must leave some matching docs")
    assert(probed == expected)
    // the edit genuinely exercises both halves: some doc vanished from
    // the original match set, some doc is newly present
    val original = docs
      .filter(array_contains(split(col("text"), " "), "spark"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val now = ServingStores.postingProbe(spark, store, "spark")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert((original -- now).nonEmpty, "no doc lost the probed token")
    assert((now -- original).nonEmpty, "no doc gained the probed token")
  }
}
