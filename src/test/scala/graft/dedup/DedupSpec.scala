package graft.dedup

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words entirely here now today"),
    (4L, "the quick brown fox jumps over the lazy dog")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps the min id") {
    val groups = Dedup.exact(docs, "doc_id", "text").collect()
    assert(groups.length == 3)
    val dupGroup = groups.find(_.getAs[Long]("n_docs") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
  }

  test("jaccard pairs finds near- and exact duplicates above threshold") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    val exact = pairs.find(p => (p._1, p._2) == (1L, 4L)).get
    assert(exact._3 == 1.0)
  }

  test("minhash LSH finds the same high-similarity pairs as exact jaccard") {
    val lsh = Dedup.minHashLsh(docs, "doc_id", "text", n = 3,
      numHashes = 12, rowsPerBand = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact duplicates must always share all bands
    assert(lsh.contains((1L, 4L)))
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
  }

  test("frequent-shingle cutoff bounds candidates without losing real pairs") {
    // every doc shares one boilerplate opener (a hot shingle in all docs);
    // the real near-dup pair 1/2 also shares plenty of rare shingles.
    val skewed = (
      Seq(
        (1L, "legal header text here alpha beta gamma delta epsilon zeta"),
        (2L, "legal header text here alpha beta gamma delta epsilon eta"))
        ++ (3L to 40L).map(i => (i, s"legal header text here unique$i only$i words$i more$i"))
      ).toDF("doc_id", "text")
    val sh = Dedup.shingles(skewed, "doc_id", "text", n = 3)
    // the guardrail drops the boilerplate shingles (df=40) but keeps rare ones
    val capped = Dedup.capShingleDf(sh, cut = 5)
    assert(capped.filter($"shingle" === "legal header text").count() == 0)
    assert(capped.filter($"shingle".contains("unique3")).count() > 0)
    // results with the cutoff equal the exact all-pairs results: the real
    // pair survives (rare shingles generate it), boilerplate-only pairs
    // never reached the threshold anyway
    val exact = Dedup.jaccardPairs(skewed, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val guarded = Dedup.jaccardPairs(skewed, "doc_id", "text", n = 3, threshold = 0.5,
      maxShingleDf = Some(5L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.map(p => (p._1, p._2)).contains((1L, 2L)))
    assert(guarded == exact)
    val lshGuarded = Dedup.minHashLsh(skewed, "doc_id", "text", n = 3,
      numHashes = 12, rowsPerBand = 2, threshold = 0.5, maxShingleDf = Some(5L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshGuarded.contains((1L, 2L)))
    assert(lshGuarded.subsetOf(exact.map(p => (p._1, p._2))))
  }

  test("contamination flags docs overlapping the eval set, counts shared n-grams") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),   // contains eval 5-gram
      (11L, "totally unrelated content with nothing shared at all"),
      (12L, "alpha beta gamma delta epsilon eta theta") // also overlaps
    ).toDF("doc_id", "text")
    val eval_ = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, eval_, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(10L -> 1L, 12L -> 1L))
  }

  test("clusters: min-label propagation resolves chains beyond one hop") {
    // chain 1-2, 2-3, 3-4 (diameter 3 — forces multiple propagation
    // rounds), separate pair 10-11, singleton 20
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val ids = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val out = Dedup.clusters(ids, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val rep = out.map(t => t._1 -> t._2).toMap
    assert(rep == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    assert(out.filter(_._3).map(_._1).sorted.toSeq == Seq(1L, 10L, 20L))
  }

  test("clustersAlternating: same fixpoint as label propagation") {
    // chain + separate pair + singleton (the clusters fixture), plus a
    // 9-node chain whose diameter forces several star rounds
    val pairs = (Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)) ++
      (30L until 38L).map(i => (i + 1L, i))).toDF("doc_a", "doc_b")
    val ids = (Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L) ++ (30L to 38L)).toDF("doc_id")
    val viaStars = Dedup.clustersAlternating(ids, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    val viaLabels = Dedup.clusters(ids, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    assert(viaStars.toSeq == viaLabels.toSeq)
    assert(viaStars.filter(_._3).map(_._1).toSeq == Seq(1L, 10L, 20L, 30L))
  }

  test("clustersAlternating: empty pairs and cap both behave like clusters") {
    val ids = Seq(3L, 7L).toDF("doc_id")
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val out = Dedup.clustersAlternating(ids, "doc_id", none)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    assert(out.toSeq == Seq((3L, 3L, true), (7L, 7L, true)))
    val chain = (1L until 30L).map(i => (i, i + 1L)).toDF("doc_a", "doc_b")
    assertThrows[IllegalStateException] {
      Dedup.clustersAlternating((1L to 30L).toDF("doc_id"), "doc_id", chain,
        maxIter = 1).collect()
    }
  }

  test("spanDedup: shared-span fractions with short docs reporting zero") {
    val d = Seq(
      (1L, "a b c d e f g h tail1"),      // shares the 8-gram a..h with doc 2
      (2L, "a b c d e f g h tail2"),
      (3L, "q r s t u v w x y"),          // no shared span
      (4L, "too short")                    // < 8 tokens: no spans at all
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(d, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((2L, 0L, 0.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
  }

  test("exactIncrementalBloom: identical answer to the plain incremental path") {
    val store = Dedup.exact(docs.filter($"doc_id" <= 2), "doc_id", "text")
      .select($"signature")
    val batch = docs.filter($"doc_id" >= 3)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val plain = key(Dedup.exactIncremental(store, batch, "doc_id", "text"))
    val bloom = key(Dedup.exactIncrementalBloom(store, batch, "doc_id", "text"))
    assert(bloom == plain)
    // doc 4 duplicates stored doc 1 → dropped; doc 3 is new → kept
    assert(plain.map(_._2) == Set(3L))
    // empty store: everything survives, no bloom built
    val empty = Seq.empty[String].toDF("signature")
    assert(key(Dedup.exactIncrementalBloom(empty, batch, "doc_id", "text"))
      .map(_._2) == Set(3L, 4L))
  }

  test("dupRateByGroup: per-group docs, uniques, rate; null text uncounted in rate") {
    val corpus = Seq(
      (1L, "aaa", "s1"), (2L, "aaa", "s1"), (3L, "bbb", "s1"),
      (4L, "ccc", "s2"), (5L, null.asInstanceOf[String], "s2")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.dupRateByGroup(corpus, "source", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("s1") == ((3L, 2L, 0.333333)))
    assert(out("s2") == ((2L, 1L, 0.0)))
  }

  test("boilerplateRemove: hot blocks removed wholesale, tails always kept") {
    // n=4 blocks; "a b c d" appears in docs 10 and 11 → boilerplate at
    // minDf=2. Doc 12's single block is unique. Doc 13 is sub-block (kept
    // whole). Doc 14 repeats the hot block twice → loses both copies.
    val corpus = Seq(
      (10L, "a b c d e f g h tail"),   // block1 hot, block2 unique, 1 tail tok
      (11L, "a b c d x y z w"),        // block1 hot, block2 unique
      (12L, "p q r s t"),              // unique block + tail
      (13L, "u v"),                    // shorter than n: no blocks
      (14L, "a b c d a b c d")         // hot block twice
    ).toDF("doc_id", "text")
    val out = Dedup.boilerplateRemove(corpus, "doc_id", "text", n = 4, minDf = 2L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(10L) == ((9L, 2L, 1L, 5L)))
    assert(out(11L) == ((8L, 2L, 1L, 4L)))
    assert(out(12L) == ((5L, 1L, 0L, 5L)))
    assert(out(13L) == ((2L, 0L, 0L, 2L)))
    assert(out(14L) == ((8L, 2L, 2L, 0L)))
  }

  test("clusters: hitting the iteration cap before convergence fails loud") {
    // a 16-node chain cannot reach its label fixpoint AND verify it in a
    // single round — with maxIter=1 the loop must exit via the cap and
    // throw rather than silently return non-converged representatives
    val chain = (1L until 16L).map(i => (i, i + 1L)).toDF("doc_a", "doc_b")
    val ids = (1L to 16L).toDF("doc_id")
    val e = intercept[IllegalStateException] {
      Dedup.clusters(ids, "doc_id", chain, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    assertThrows[IllegalArgumentException] {
      Dedup.clusters(ids, "doc_id", chain, maxIter = 0)
    }
  }

  test("clusters: empty pair list yields every doc as its own kept singleton") {
    val ids = Seq(3L, 7L, 9L).toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val out = Dedup.clusters(ids, "doc_id", noPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    assert(out.toSeq == Seq((3L, 3L, true), (7L, 7L, true), (9L, 9L, true)))
  }

  test("simhash is identical for identical docs, differs for unrelated ones") {
    val hashes = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(4L))
    assert(hashes(1L) != hashes(3L))
    // near-dups should be close in hamming distance (not asserted exactly,
    // but must share most bits)
    // bound scales with signature width (was 10 of 32 bits; now 64)
    val ham = java.lang.Long.bitCount(hashes(1L) ^ hashes(2L))
    assert(ham <= 20, s"hamming distance $ham too large for near-dups")
  }

  test("sharedSpans recovers maximal shared runs with exact offsets") {
    val spanDocs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "x y a b c d e f g h i j z"), // shares a..j (10 toks) at 0 vs 2
      (3L, "p q r s a b c d e f t u")    // shares a..f (6 toks) at 0 vs 4
    ).toDF("doc_id", "text")
    // strict threshold: only the 10-token run qualifies, and it is
    // reported ONCE as a maximal span, not as its 6 constituent grams
    val strict = Dedup.sharedSpans(spanDocs, "doc_id", "text", n = 5, minSpan = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(strict == Set((1L, 2L, 0L, 2L, 10L)))
    // relaxed threshold: the 6-token runs of both other pairs surface too
    val relaxed = Dedup.sharedSpans(spanDocs, "doc_id", "text", n = 5, minSpan = 6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(relaxed == Set(
      (1L, 2L, 0L, 2L, 10L),
      (1L, 3L, 0L, 4L, 6L),
      (2L, 3L, 2L, 4L, 6L)))
  }

  test("SimHashStore batch lifecycle: append ≡ rebuild (per-row " +
      "signatures), compact bounds files with identical rows and a " +
      "surviving stamp") {
    import spark.implicits._
    val base = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text")
    val batch = Seq((3L, "five six seven eight")).toDF("doc_id", "text")
    val dest = java.nio.file.Files
      .createTempDirectory("graft-simhash-life").toString
    SimHashStore.buildAt(dest, base, "doc_id", "text")
    SimHashStore.appendBatch(dest, batch, "doc_id", "text")
    val appended = SimHashStore.read(spark, dest)
      .collect().map(_.toString).sorted.toSeq
    val rebuilt = Dedup.simHash(base.unionAll(batch), "doc_id", "text")
      .collect().map(_.toString).sorted.toSeq
    assert(appended == rebuilt)
    graft.util.Stamp.write(dest, "stamp-h")
    SimHashStore.compact(spark, dest)
    assert(SimHashStore.read(spark, dest)
      .collect().map(_.toString).sorted.toSeq == rebuilt)
    assert(graft.util.Stamp.isFresh(dest, "stamp-h"))
    // id-keyed overwrite: an EDITED doc's signature replaces its
    // predecessor (read-side tombstone, folded physically at compact) —
    // read ≡ a rebuild over the edited corpus throughout
    val edited = Seq((2L, "completely different replacement text"))
      .toDF("doc_id", "text")
    SimHashStore.upsertBatch(spark, dest, edited, "doc_id", "text")
    val editedRebuild = Dedup.simHash(
        base.filter($"doc_id" =!= 2L).unionAll(edited).unionAll(batch),
        "doc_id", "text")
      .collect().map(_.toString).sorted.toSeq
    assert(SimHashStore.read(spark, dest)
      .collect().map(_.toString).sorted.toSeq == editedRebuild)
    SimHashStore.compact(spark, dest)
    assert(!graft.search.ServingStores.hasTombstones(dest))
    assert(SimHashStore.read(spark, dest)
      .collect().map(_.toString).sorted.toSeq == editedRebuild)
  }

  test("sourceOverlap(maxShingleDf): boilerplate shingles above the df cut " +
      "are dropped; rare shared shingles survive") {
    import spark.implicits._
    // "x x x" is boilerplate: present in 4 docs across all 3 sources;
    // "a b c" is a genuine shared shingle between s1 and s2 (df 2)
    val docs = Seq(
      (1L, "x x x a b c", "s1"),
      (2L, "x x x a b c", "s2"),
      (3L, "x x x q r t", "s2"),
      (4L, "x x x u v w", "s3")
    ).toDF("doc_id", "text", "source")
    val capped = Dedup.sourceOverlap(docs, "doc_id", "text", "source",
        maxShingleDf = Some(3L))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // only the rare shingles remain: s1-s2 share "a b c"/"b c x x"… no —
    // shingles of doc1: "x x x","x x a","x a b","a b c"; doc2 identical;
    // df("x x x")=4 > 3 dropped, the other three shared shingles (df 2) kept
    assert(capped == Map(("s1", "s2") -> 3L), s"got $capped")
    // uncapped: the boilerplate shingle links every source pair
    val full = Dedup.sourceOverlap(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(full.keySet == Set(("s1", "s2"), ("s1", "s3"), ("s2", "s3")))
  }

  test("sourceOverlap counts distinct shared shingles per source pair") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d", "s1"),     // shingles: "a b c", "b c d"
      (2L, "a b c x", "s2"),     // shares "a b c" with s1
      (3L, "b c d y", "s2"),     // shares "b c d" with s1
      (4L, "a b c d", "s3"),     // shares both with s1, "a b c"+"b c d" w/ s2
      (5L, "z z z z", "s3")      // unique
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("s1", "s2") -> 2L,  // "a b c" and "b c d"
      ("s1", "s3") -> 2L,
      ("s2", "s3") -> 2L))
    // duplicate shingles within one source count once (DISTINCT contract)
    val dup = Seq((1L, "a b c", "s1"), (2L, "a b c", "s1"), (3L, "a b c", "s2"))
      .toDF("doc_id", "text", "source")
    val once = Dedup.sourceOverlap(dup, "doc_id", "text", "source")
      .collect().map(r => r.getLong(2)).toList
    assert(once == List(1L))
  }

  test("minHashIncremental drops band-colliding batch docs, keeps the rest") {
    import spark.implicits._
    val store = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different content about distributed systems and spark")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),    // exact dup of 1
      (11L, "nothing in common with anything stored here at all ok"),
      (12L, "completely different content about distributed systems and spark") // dup of 2
    ).toDF("doc_id", "text")
    val storeBands = Dedup.minHashBands(store, "doc_id", "text")
    val out = Dedup.minHashIncremental(storeBands, batch, "doc_id", "text")
      .select("doc").distinct().collect().map(_.getLong(0)).toSet
    assert(out == Set(11L))
    // surviving rows carry full banded signatures (6 bands at r=2/H=12)
    val bands = Dedup.minHashIncremental(storeBands, batch, "doc_id", "text")
      .groupBy("doc").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bands == Map(11L -> 6L))
  }

  test("minHashIncremental with an empty store keeps every signed batch doc") {
    import spark.implicits._
    val batch = Seq((1L, "alpha beta gamma delta"), (2L, "echo foxtrot golf hotel"))
      .toDF("doc_id", "text")
    val empty = Dedup.minHashBands(batch.limit(0), "doc_id", "text")
    val out = Dedup.minHashIncremental(empty, batch, "doc_id", "text")
      .select("doc").distinct().count()
    assert(out == 2L)
  }
}
