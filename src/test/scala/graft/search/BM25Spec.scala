package graft.search

import graft.SparkSpec
import org.apache.spark.sql.functions.{lit, log}

class BM25Spec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "spark query engine"),                        // both terms, short
    (2L, "spark spark spark filler filler filler filler filler"), // one term, repeated, long
    (3L, "query languages and query planners for query workloads"),
    (4L, "nothing relevant at all in this document"),
    (5L, "spark query spark query")                    // both terms, repeated, short
  ).toDF("doc_id", "text")

  test("docs containing both terms outrank single-term docs; misses are absent") {
    val top = BM25.scoreTopK(docs, "doc_id", "text", Seq("spark", "query"), 5).collect()
    val ids = top.map(_.getLong(0)).toSeq
    assert(!ids.contains(4L))
    assert(ids.take(2).toSet == Set(1L, 5L))
    val scores = top.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("query terms pass through the same analyzer as documents") {
    val normalized = BM25.scoreTopK(docs, "doc_id", "text", Seq("Spark!", "QUERY", "spark"), 5)
      .collect().map(_.getLong(0)).toSet
    val plain = BM25.scoreTopK(docs, "doc_id", "text", Seq("spark", "query"), 5)
      .collect().map(_.getLong(0)).toSet
    // capitalization/punctuation/duplicates must not change the result set
    assert(normalized == plain)
  }

  test("uax tokenizer: URLs/emails/@mentions stay whole, possessives fold") {
    val d = Seq(
      (1L, "read https://spark.apache.org/docs and mail dev@spark.apache.org"),
      (2L, "ping @alice about #scaling and spark's optimizer"),
      (3L, "o'neill wrote spark docs")
    ).toDF("doc_id", "text")
    val toks = BM25.tokensUax(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byDoc = toks.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    assert(byDoc(1L).contains("https://spark.apache.org/docs"))
    assert(byDoc(1L).contains("dev@spark.apache.org"))
    assert(byDoc(2L) == Seq("ping", "@alice", "about", "#scaling", "and", "spark", "optimizer"))
    assert(byDoc(3L).contains("o'neill")) // interior apostrophe kept
  }

  test("uax analyzer: a URL query matches only docs carrying the whole URL token") {
    val d = Seq(
      (1L, "see https://spark.apache.org/docs today"),
      (2L, "spark apache org docs words split apart"), // shattered pieces only
      (3L, "nothing at all")
    ).toDF("doc_id", "text")
    val hits = BM25.scoreTopKUax(d, "doc_id", "text",
        Seq("https://spark.apache.org/docs"), 3)
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L))
    // query analysis folds the possessive like the doc side
    assert(BM25.analyzeUax(Seq("Spark's")) == Seq("spark"))
  }

  test("classic tokenizer: the documented Lucene classic-grammar behaviors") {
    val d = Seq(
      (1L, "the u.s.a. report on wi-fi and x-100 units"),
      (2L, "visit spark.apache.org or mail dev@spark.apache.org"),
      (3L, "at&t sold 1,000 units; john's mother-in-law agreed")
    ).toDF("doc_id", "text")
    val toks = BM25.tokensClassic(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byDoc = toks.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    // acronym: dots removed; digit-free compound split; digit compound whole
    assert(byDoc(1L) == Seq("the", "usa", "report", "on", "wi", "fi", "and", "x-100", "units"))
    // host and email survive as single tokens
    assert(byDoc(2L).contains("spark.apache.org"))
    assert(byDoc(2L).contains("dev@spark.apache.org"))
    // company token whole, NUM with comma whole, possessive folds, 3-way split
    assert(byDoc(3L) == Seq("at&t", "sold", "1,000", "units", "john",
      "mother", "in", "law", "agreed"))
    // query side mirrors the doc side
    assert(BM25.analyzeClassic(Seq("U.S.A.")) == Seq("usa"))
    assert(BM25.analyzeClassic(Seq("wi-fi")) == Seq("wi", "fi"))
    assert(BM25.analyzeClassic(Seq("x-100")) == Seq("x-100"))
    assert(BM25.analyzeClassic(Seq("spark.apache.org")) == Seq("spark.apache.org"))
    // a host query matches only the doc carrying the whole host token
    val hits = BM25.scoreTopKClassic(d, "doc_id", "text",
        Seq("spark.apache.org"), 3).collect().map(_.getLong(0)).toSet
    assert(hits == Set(2L))
  }

  test("scores are deterministic across runs") {
    val a = BM25.scoreTopK(docs, "doc_id", "text", Seq("spark", "query"), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val b = BM25.scoreTopK(docs, "doc_id", "text", Seq("spark", "query"), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(a == b)
  }

  test("serving index returns the exact ad-hoc ranking (scores bit-equal)") {
    val dest = java.nio.file.Files.createTempDirectory("bm25idx").toString
    BM25Index.build(docs, "doc_id", "text", dest)
    val adhoc = BM25.scoreTopK(docs, "doc_id", "text", Seq("spark", "query"), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val served = BM25Index.topKMerged(spark, dest, Seq("spark", "query"), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(served == adhoc)
  }

  test("segment append + merged serve == full rebuild, scores bit-equal") {
    val dest = java.nio.file.Files.createTempDirectory("bm25seg").toString
    val full = java.nio.file.Files.createTempDirectory("bm25full").toString
    val (base, late) = (docs.filter("doc_id <= 3"), docs.filter("doc_id > 3"))
    BM25Index.build(base, "doc_id", "text", dest)
    BM25Index.appendSegment(late, "doc_id", "text", dest, "seg-00001")
    BM25Index.build(docs, "doc_id", "text", full)
    val merged = BM25Index.topKMerged(spark, dest, Seq("spark", "query"), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val rebuilt = BM25Index.topKMerged(spark, full, Seq("spark", "query"), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(merged == rebuilt)
    // the late doc 5 (both terms, short) must rank — proof the segment
    // actually participates rather than the base alone matching
    assert(merged.map(_._1).contains(5L))
  }

  test("upsertSegment: a SAME-id edited doc replaces its predecessor in " +
      "merged serving; compact folds the delete and equals a rebuild " +
      "over the edited corpus, scores bit-equal") {
    val dest = java.nio.file.Files.createTempDirectory("bm25ups").toString
    val full = java.nio.file.Files.createTempDirectory("bm25upsfull").toString
    BM25Index.build(docs, "doc_id", "text", dest)
    // edit doc 2: loses every 'spark', becomes a 'query' doc
    val edited = Seq((2L, "query rewrite query planner")).toDF("doc_id", "text")
    BM25Index.upsertSegment(edited, "doc_id", "text", dest, "seg-edit01")
    // pre-compact: membership is already latest-version-only (Lucene's
    // deleted-docs state — stats stale, postings filtered)
    val sparkTop = BM25Index.topKMerged(spark, dest, Seq("spark"), 5)
      .collect().map(_.getLong(0)).toSeq
    assert(!sparkTop.contains(2L),
      "the edited-away version must stop matching its old terms")
    assert(BM25Index.topKMerged(spark, dest, Seq("rewrite"), 5)
      .collect().map(_.getLong(0)).toSeq == Seq(2L),
      "the new version must be searchable immediately")
    // post-compact: the index IS a rebuild over the edited corpus —
    // stats refreshed, scores bit-equal
    BM25Index.compact(spark, dest)
    StoreAdmin.reclaim(dest)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dest, "_tombstones")))
    BM25Index.build(docs.filter("doc_id <> 2").unionAll(edited),
      "doc_id", "text", full)
    for (terms <- Seq(Seq("spark", "query"), Seq("rewrite"), Seq("filler")))
      assert(BM25Index.topKMerged(spark, dest, terms, 5)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq ==
        BM25Index.topKMerged(spark, full, terms, 5)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq,
        s"terms $terms diverge from the edited-corpus rebuild")
    // deleteDocs: the id vanishes from serving; compact purges physically
    BM25Index.deleteDocs(spark, dest, Seq(3L))
    assert(!BM25Index.topKMerged(spark, dest, Seq("query"), 5)
      .collect().map(_.getLong(0)).contains(3L))
    BM25Index.compact(spark, dest)
    assert(!BM25Index.topKMerged(spark, dest, Seq("query"), 5)
      .collect().map(_.getLong(0)).contains(3L))
  }

  test("compaction folds segments into the base with identical serving") {
    val dest = java.nio.file.Files.createTempDirectory("bm25cpt").toString
    BM25Index.build(docs.filter("doc_id <= 3"), "doc_id", "text", dest)
    BM25Index.appendSegment(docs.filter("doc_id > 3"), "doc_id", "text",
      dest, "seg-00001")
    val before = BM25Index.topKMerged(spark, dest, Seq("spark", "query"), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    BM25Index.compact(spark, dest)
    // the latest manifest lists one part: the base now holds every doc,
    // and once the index is reclaimed no segment is left on disk
    assert(BM25Index.segments(dest).isEmpty)
    StoreAdmin.reclaim(dest)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dest, "segments")),
      "a folded segment's directory survived the reclaim")
    val after = BM25Index.topKMerged(spark, dest, Seq("spark", "query"), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(after == before)
  }

  test("a segment is published by one commit: a read while it is staged " +
      "serves the base without error, and an upserted doc serves its old " +
      "version until the commit") {
    val dest = java.nio.file.Files.createTempDirectory("bm25pub").toString
    BM25Index.build(docs.filter("doc_id <= 3"), "doc_id", "text", dest)
    def served(terms: Seq[String]) = BM25Index.topKMerged(spark, dest, terms, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    // `read` runs inside the write's manifest create: the write is fully
    // staged and not yet committed
    def beforeCommit[A](read: => A)(write: => Unit): A = {
      var seen: Option[A] = None
      val reading = new graft.util.DelegatingFs {
        override def createExclusive(p: java.nio.file.Path, c: String): Unit = {
          if (seen.isEmpty &&
              p.getParent == java.nio.file.Paths.get(dest, graft.util.ManifestLog.Dir))
            seen = Some(read)
          super.createExclusive(p, c)
        }
      }
      graft.util.StoreFs.withFs(reading)(write)
      seen.get
    }
    val base = served(Seq("spark", "query"))
    val staged = beforeCommit(served(Seq("spark", "query")))(
      BM25Index.appendSegment(docs.filter("doc_id > 3"), "doc_id", "text",
        dest, "seg-00001"))
    assert(staged == base, "a staged segment leaked into serving")
    assert(served(Seq("spark", "query")).map(_._1).contains(5L),
      "the published segment must serve")
    val edited = Seq((2L, "query rewrite query planner")).toDF("doc_id", "text")
    val oldVersion = served(Seq("spark", "rewrite")).filter(_._1 == 2L)
    assert(oldVersion.size == 1)
    val stagedUpsert = beforeCommit(served(Seq("spark", "rewrite")))(
      BM25Index.upsertSegment(edited, "doc_id", "text", dest, "seg-edit01"))
    assert(stagedUpsert.filter(_._1 == 2L) == oldVersion,
      "while the upsert is staged the doc is served exactly once, at its old version")
    assert(served(Seq("rewrite")).map(_._1) == Seq(2L))
    assert(!served(Seq("spark")).map(_._1).contains(2L))
    assert(!java.nio.file.Files.list(java.nio.file.Paths.get(dest))
      .anyMatch(_.getFileName.toString.endsWith("-rewrite-tmp")),
      "the staging dir must be consumed by the commit")
  }

  test("property: any append/upsert/delete/compact sequence serves exactly " +
      "the latest live version of each id; compact ≡ a fresh build") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    sealed trait Op
    case class Append(docs: Seq[(Long, String)]) extends Op
    case class Upsert(docs: Seq[(Long, String)]) extends Op
    case class Delete(ids: Seq[Long]) extends Op
    case object Compact extends Op
    val vocab = Seq("spark", "query", "jobs", "scala")
    val textGen = Gen.chooseNum(1, 3)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))
    val docsGen = Gen.chooseNum(1, 2)
      .flatMap(n => Gen.listOfN(n, Gen.zip(Gen.chooseNum(1L, 6L), textGen)))
      .map(_.toMap.toSeq.sorted)
    // ids 1 and 2 are never deleted, so the corpus is never empty
    val deleteGen = Gen.chooseNum(1, 2)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(3L, 6L))).map(_.distinct)
    val opGen: Gen[Op] = Gen.frequency(3 -> docsGen.map(Append(_)),
      3 -> docsGen.map(Upsert(_)), 2 -> deleteGen.map(Delete(_)),
      1 -> Gen.const(Compact))
    val generated = (1 to 3).flatMap(i =>
      Gen.listOfN(4, opGen).apply(Gen.Parameters.default, Seed(4242L + i)))
    // the orderings a single example misses, pinned explicitly
    val pinned = Seq(
      Seq(Delete(Seq(3L)), Upsert(Seq(3L -> "jobs scala"))),
      Seq(Upsert(Seq(2L -> "scala")), Upsert(Seq(2L -> "spark jobs")),
        Delete(Seq(2L, 3L))),
      Seq(Append(Seq(5L -> "spark")), Compact, Append(Seq(6L -> "spark query"))))
    val base = Seq(1L -> "spark query", 2L -> "jobs spark", 3L -> "query scala",
      4L -> "scala spark jobs")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).sorted.toSeq
    def scored(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    (pinned ++ generated).zipWithIndex.foreach { case (ops, n) =>
      val dest = java.nio.file.Files.createTempDirectory("bm25prop").toString
      BM25Index.build(base.toDF("doc_id", "text"), "doc_id", "text", dest)
      var live = base.toMap
      ops.zipWithIndex.foreach { case (op, i) =>
        op match {
          case Append(ds) =>
            // the append contract: ids not currently live
            val fresh = ds.filterNot(d => live.contains(d._1))
            if (fresh.nonEmpty) {
              BM25Index.appendSegment(fresh.toDF("doc_id", "text"), "doc_id",
                "text", dest, s"seg-$i")
              live ++= fresh
            }
          case Upsert(ds) =>
            BM25Index.upsertSegment(ds.toDF("doc_id", "text"), "doc_id",
              "text", dest, s"seg-$i")
            live ++= ds
          case Delete(ds) =>
            BM25Index.deleteDocs(spark, dest, ds)
            live --= ds
          case Compact => BM25Index.compact(spark, dest)
        }
        val corpus = live.toSeq.toDF("doc_id", "text")
        for (t <- Seq("spark", "jobs"))
          assert(ids(BM25Index.topKMerged(spark, dest, Seq(t), 100)) ==
            ids(BM25.scoreTopK(corpus, "doc_id", "text", Seq(t), 100)),
            s"sequence $n ${ops.take(i + 1)}: '$t' membership diverged")
      }
      BM25Index.compact(spark, dest)
      val fresh = java.nio.file.Files.createTempDirectory("bm25propfresh").toString
      BM25Index.build(live.toSeq.toDF("doc_id", "text"), "doc_id", "text", fresh)
      for (terms <- Seq(vocab, Seq("spark"), Seq("query", "scala")))
        assert(scored(BM25Index.topKMerged(spark, dest, terms, 100)) ==
          scored(BM25Index.topKMerged(spark, fresh, terms, 100)),
          s"sequence $n $ops: compact diverged from a fresh build on $terms")
    }
  }

  test("serving scan is pruned to the query terms' buckets") {
    val dest = java.nio.file.Files.createTempDirectory("bm25idx").toString
    BM25Index.build(docs, "doc_id", "text", dest)
    val tb = BM25Index.termBucket("spark", BM25Index.termBuckets(dest))
    val opened = graft.util.LocalScan.opened(
      BM25Index.topKMerged(spark, dest, Seq("spark"), 5))._2
    // the postings and termstats reads open only the term's bucket, and
    // every file of it; the corpus row is the only other read
    def files(t: String) = graft.util.StoreFs.parquetFiles(
      java.nio.file.Paths.get(dest, t, s"tb=$tb")).map(_.toString)
    assert(opened.sorted == (files("postings") ++ files("termstats") ++
      graft.util.StoreFs.parquetFiles(java.nio.file.Paths.get(dest, "corpus"))
        .map(_.toString)).sorted, s"opened $opened")
  }

  test("a term slice decodes only the row groups that hold its terms") {
    val many = (0 until 3000).map(i =>
      (i.toLong, s"w${i % 60} w${(i * 7 + 3) % 60} w${(i * 13 + 5) % 60}")).toDF("doc_id", "text")
    val dest = java.nio.file.Files.createTempDirectory("bm25rg").toString
    spark.conf.set("parquet.block.size", "1024")
    try BM25Index.build(many, "doc_id", "text", dest)
    finally spark.conf.unset("parquet.block.size")
    def scored(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val terms = Seq("w7", "w41")
    val (top, reads) = graft.util.LocalScan.reads(
      scored(BM25Index.topKMerged(spark, dest, terms, 20)))
    assert(top == scored(BM25.scoreTopK(many, "doc_id", "text", terms, 20)))
    // the opened files hold every row of the terms' buckets; only the row
    // groups whose term statistics admit a query term were decoded
    val held = spark.read.parquet(reads.files: _*).count()
    assert(reads.rows < held / 2, s"decoded ${reads.rows} of the opened files' $held rows")
  }

  test("JVM and Column term buckets agree, at more than one modulus") {
    val terms = Seq("spark", "query", "hiring", "a", "0", "zz9")
    for (buckets <- Seq(BM25Index.DefaultTermBuckets, 37)) {
      val fromCol = terms.toDF("t")
        .select(BM25Index.termBucketCol($"t", buckets))
        .collect().map(_.getInt(0)).toSeq
      assert(fromCol == terms.map(BM25Index.termBucket(_, buckets)),
        s"driver/executor bucket mismatch at modulus $buckets")
    }
  }

  test("termBuckets is persisted index identity: the build records it, " +
      "probes read it back, the derivation scales with vocabulary, and " +
      "a custom-modulus index serves identically") {
    // derivation: floored at the default, grows at ceil(vocab / slice)
    assert(BM25Index.autoTermBuckets(1L) == BM25Index.DefaultTermBuckets)
    assert(BM25Index.autoTermBuckets(100L * 1000 * 1000) ==
      math.ceil(1e8 / BM25Index.TermsPerBucket).toInt)
    val dest = java.nio.file.Files.createTempDirectory("bm25idx-tb").toString
    BM25Index.build(docs, "doc_id", "text", dest)
    assert(BM25Index.termBuckets(dest) == BM25Index.DefaultTermBuckets,
      "a toy vocabulary must derive the floor count")
    val expected = BM25Index.topKMerged(spark, dest, Seq("spark", "query"), 5)
      .collect().map(_.toString).toSeq
    // same corpus laid out under a DIFFERENT modulus: identical scores
    // (the count moves bytes, never answers) — and the probe must route
    // by the persisted value, not any constant
    val alt = java.nio.file.Files.createTempDirectory("bm25idx-tb37").toString
    BM25Index.build(docs, "doc_id", "text", alt)
    // a manifest version that fakes the base's modulus to 37 over the
    // 16-bucket layout: a probe MUST miss (wrong buckets), proving probes
    // route by the persisted value
    val v0 = java.nio.file.Files.readString(graft.util.ManifestLog.file(alt, 0L))
    val faked = v0.replace("\"termBuckets\":16", "\"termBuckets\":37")
    assert(faked != v0, "the base's persisted modulus was not found in the manifest")
    graft.util.StoreFs.createExclusive(graft.util.ManifestLog.file(alt, 1L), faked)
    assert(BM25Index.termBuckets(alt) == 37)
    val misrouted = BM25Index.topKMerged(spark, alt, Seq("spark", "query"), 5)
      .collect()
    assert(misrouted.isEmpty || misrouted.map(_.toString).toSeq != expected,
      "probe ignored the persisted bucket count")
  }

  test("multi-field scoring surfaces a media-text-only match") {
    val mm = Seq(
      (1L, "spark query engine", ""),
      (2L, "nothing relevant here", "stub ocr says spark query"), // media-only match
      (3L, "also irrelevant text", ""),
      (4L, "spark things", "more spark ocr")                      // match in both
    ).toDF("doc_id", "text", "media_text")
    val top = BM25.scoreTopKFields(mm, "doc_id", Seq("text", "media_text"),
      Seq("spark", "query"), 4).collect()
    val ids = top.map(_.getLong(0)).toSet
    assert(ids.contains(2L)) // invisible to single-field scoring
    assert(!ids.contains(3L))
    val single = BM25.scoreTopK(mm, "doc_id", "text", Seq("spark", "query"), 4)
      .collect().map(_.getLong(0)).toSet
    assert(!single.contains(2L))
  }

  test("phrase match is consecutive analyzed tokens, punctuation-robust") {
    val docs = Seq(
      (1L, "we use Hash, JOIN! daily"),     // punctuation strips -> matches
      (2L, "hash x join"),                  // interrupted -> no match
      (3L, "join hash"),                    // wrong order -> no match
      (4L, "rehash joint"),                 // substring of tokens -> no match
      (5L, "a hash  join b")                // double space collapses -> matches
    ).toDF("doc_id", "text")
    val ids = BM25.phraseMatches(docs, "text", Seq("hash", "join"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 5L))
    val ranked = BM25.scoreTopKPhrase(docs, "doc_id", "text",
      Seq("hash", "join"), 10).collect().map(_.getLong(0)).toSet
    assert(ranked == Set(1L, 5L))
  }

  test("more-like-this ranks the seed's near-twin first, excludes the seed") {
    val docs = Seq(
      (0L, "solar panels power the grid with clean energy output"),
      (1L, "solar panels and clean energy power output rising"), // near-twin
      (2L, "clean kitchens and solar cookers"),                  // partial overlap
      (3L, "completely unrelated words about databases")
    ).toDF("doc_id", "text")
    // minDf=2 (Solr's mlt.mindf): df=1 noise terms ("the", "grid", "with")
    // would otherwise crowd the interesting-term budget
    val out = BM25.moreLikeThis(docs, "doc_id", "text", seedId = 0L,
      nTerms = 6, k = 10, minDf = 2.0).collect().map(_.getLong(0))
    assert(!out.contains(0L), "seed must be excluded")
    assert(out.head == 1L, "near-twin must rank first")
    assert(out.contains(2L) && !out.contains(3L))
  }

  test("highlight snippets the first hit, case-insensitive, empty when absent") {
    val rows = Seq(
      (1L, "x" * 50 + " Spark rules " + "y" * 50),
      (2L, "no match here"),
      (3L, "spark at the start")
    ).toDF("doc_id", "text")
    val snip = Collections.highlight(rows, "text", "spark", window = 10)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(snip(1L).contains("Spark") && snip(1L).length <= 25)
    assert(snip(2L) == "")
    assert(snip(3L).startsWith("spark")) // window clamps at string start
  }

  test("suggest ranks prefix completions by document frequency") {
    val rows = Seq(
      (1L, "spark sort spark"), (2L, "sort scan"), (3L, "sort table")
    ).toDF("doc_id", "text")
    val out = Collections.suggest(rows, "doc_id", "text", "s", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.head == (("sort", 3L)))
    // df counts docs, not occurrences: "spark" appears twice in ONE doc
    assert(out.contains(("spark", 1L)) && out.contains(("scan", 1L)))
  }

  test("facets count field values over the result set only") {
    val hits = Seq(
      (1L, "en", "srcA"), (2L, "en", "srcB"), (3L, "de", "srcA")
    ).toDF("doc_id", "lang", "source")
    val f = Collections.facets(hits, Seq("lang", "source"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(f(("lang", "en")) == 2L && f(("lang", "de")) == 1L)
    assert(f(("source", "srcA")) == 2L && f(("source", "srcB")) == 1L)
    assert(f.size == 4)
  }

  test("served phrase query equals the ad-hoc phrase ranking, scores bit-equal") {
    val dest = java.nio.file.Files.createTempDirectory("bm25pos").toString
    BM25Index.build(docs, "doc_id", "text", dest)
    val adhoc = BM25.scoreTopKPhrase(docs, "doc_id", "text",
        Seq("spark", "query"), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val served = BM25Index.topKPhrase(spark, dest, Seq("spark", "query"), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(served == adhoc && served.nonEmpty)
  }

  test("positions index: adjacency respects order and repeated terms") {
    val d = Seq(
      (1L, "spark spark spark filler"), // "spark spark" matches
      (2L, "spark query spark query"),  // "spark spark" does NOT
      (3L, "query spark only once"),
      (4L, "we run Spark, Query! daily") // punctuation strips -> "spark query"
    ).toDF("doc_id", "text")
    val dest = java.nio.file.Files.createTempDirectory("bm25pos2").toString
    BM25Index.build(d, "doc_id", "text", dest)
    def ids(phrase: Seq[String]): Set[Long] =
      BM25Index.topKPhrase(spark, dest, phrase, 10)
        .collect().map(_.getLong(0)).toSet
    assert(ids(Seq("spark", "spark")) == Set(1L))
    assert(ids(Seq("spark", "query")) == Set(2L, 4L))
    assert(ids(Seq("query", "spark")) == Set(2L, 3L)) // order matters
  }

  test("served suggester equals the ad-hoc suggester, and across segments") {
    val dest = java.nio.file.Files.createTempDirectory("bm25sug").toString
    BM25Index.build(docs.filter("doc_id <= 3"), "doc_id", "text", dest)
    BM25Index.appendSegment(docs.filter("doc_id > 3"), "doc_id", "text",
      dest, "seg-00001")
    val adhoc = Collections.suggest(docs, "doc_id", "text", "s", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val served = BM25Index.suggest(spark, dest, "s", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(served == adhoc && served.nonEmpty)
    // df additivity must survive compaction: the vocabulary folded into
    // the single base segment serves the identical completion list
    BM25Index.compact(spark, dest)
    val compacted = BM25Index.suggest(spark, dest, "s", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(compacted == adhoc)
  }

  test("served More-Like-This equals the ad-hoc MLT, scores bit-equal") {
    val dest = java.nio.file.Files.createTempDirectory("bm25mlt").toString
    BM25Index.build(docs, "doc_id", "text", dest)
    val adhoc = BM25.moreLikeThis(docs, "doc_id", "text",
        seedId = 1L, nTerms = 4, k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val served = BM25Index.moreLikeThis(spark, dest,
        seedId = 1L, nTerms = 4, k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(served == adhoc && served.nonEmpty)
  }

  test("served More-Like-This reads every part: ≡ ad-hoc MLT over base ∪ " +
      "segment; a dead version never scores; compact ≡ a fresh build") {
    def mlt(dest: String, seed: Long) =
      BM25Index.moreLikeThis(spark, dest, seedId = seed, nTerms = 4, k = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    def adhoc(corpus: org.apache.spark.sql.DataFrame, seed: Long) =
      BM25.moreLikeThis(corpus, "doc_id", "text", seedId = seed, nTerms = 4, k = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val dest = java.nio.file.Files.createTempDirectory("bm25mltseg").toString
    BM25Index.build(docs.filter("doc_id <= 3"), "doc_id", "text", dest)
    BM25Index.appendSegment(docs.filter("doc_id > 3"), "doc_id", "text",
      dest, "seg-00001")
    // a base seed and a segment seed, each ranking docs of both parts
    for (seed <- Seq(1L, 5L))
      assert(mlt(dest, seed) == adhoc(docs, seed), s"seed $seed")
    assert(mlt(dest, 1L).map(_._1).contains(5L))
    assert(mlt(dest, 5L).map(_._1).toSet == Set(1L, 2L, 3L))
    // doc 2 is edited away from every seed term, doc 3 deleted: neither
    // dead version may score for seed 5 (spark, query)
    val edited = Seq((2L, "filler only now")).toDF("doc_id", "text")
    BM25Index.upsertSegment(edited, "doc_id", "text", dest, "seg-edit01")
    BM25Index.deleteDocs(spark, dest, Seq(3L))
    assert(mlt(dest, 5L).map(_._1) == Seq(1L),
      "a tombstoned version scored in More-Like-This")
    BM25Index.compact(spark, dest)
    val live = docs.filter("doc_id NOT IN (2, 3)").unionAll(edited)
    val fresh = java.nio.file.Files.createTempDirectory("bm25mltfresh").toString
    BM25Index.build(live, "doc_id", "text", fresh)
    for (seed <- Seq(1L, 2L, 5L)) {
      assert(mlt(dest, seed) == mlt(fresh, seed), s"seed $seed after compact")
      assert(mlt(dest, seed) == adhoc(live, seed), s"seed $seed vs ad hoc")
    }
  }

  test("didYouMean ranks distance first, then df; never echoes the input") {
    val vocab = Seq(
      ("sort", 50L), ("slow", 90L), ("row", 80L), ("sot", 10L), ("spark", 70L)
    ).toDF("term", "df")
    val out = Collections.didYouMean(vocab, "sot", maxDist = 2, k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // "sot" itself (dist 0) excluded; "sort" dist 1 beats higher-df dist-2
    assert(out.head == (("sort", 50L, 1L)))
    assert(out.map(_._1).toSet == Set("sort", "slow", "row"))
    assert(!out.map(_._1).contains("sot"))
    // dist-2 ties break by df desc
    assert(out.drop(1).map(_._1) == Seq("slow", "row"))
  }

  test("groupCollapse keeps top-n per group with per-group numFound") {
    val hits = Seq(
      ("a", 1L, 9.0), ("a", 2L, 8.0), ("a", 3L, 7.0),
      ("b", 4L, 5.0)
    ).toDF("source", "doc", "score")
    val out = Collections.groupCollapse(hits, "source",
        Seq($"score".desc, $"doc".asc), perGroup = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    val byGroup = out.groupBy(_._1)
    assert(byGroup("a").map(_._2).toSet == Set(1L, 2L)) // doc 3 collapsed
    assert(byGroup("a").forall(_._4 == 3L))             // numFound keeps the full count
    assert(byGroup("b").toSeq == Seq(("b", 4L, 1L, 1L)))
  }

  test("facetRange buckets by fixed gap; facetPivot nests two fields") {
    val hits = Seq(
      (1L, 49L, "en", "srcA"), (2L, 50L, "en", "srcA"),
      (3L, 149L, "en", "srcB"), (4L, 260L, "de", "srcA")
    ).toDF("doc_id", "n_chars", "lang", "source")
    val rng = Collections.facetRange(hits, "n_chars", gap = 50L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(rng == Seq(0L -> 1L, 50L -> 1L, 100L -> 1L, 250L -> 1L))
    val piv = Collections.facetPivot(hits, "lang", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(piv(("en", "srcA")) == 2L && piv(("en", "srcB")) == 1L &&
      piv(("de", "srcA")) == 1L && piv.size == 3)
  }

  test("field boosts scale per-field subscores; bf adds; fq never rescores") {
    val mm = Seq(
      (1L, "spark query engine", "", 100L),
      (2L, "nothing here", "spark query ocr", 100L),   // media-only match
      (3L, "spark query stuff", "", 500L)
    ).toDF("doc_id", "text", "media_text", "n_chars")
    // qf=text^2: text matches must gain vs the unboosted ranking
    val unb = BM25.scoreTopKFields(mm, "doc_id", Seq("text", "media_text"),
      Seq("spark", "query"), 3).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bst = BM25.scoreTopKFieldsBoosted(mm, "doc_id",
      Seq("text" -> 2.0, "media_text" -> 1.0),
      Seq("spark", "query"), 3).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bst(1L) > unb(1L) && math.abs(bst(2L) - unb(2L)) < 1e-9)
    // bf: additive boost reorders equal-relevance docs by the boost field
    val boosted = BM25.scoreTopKBoosted(mm, "doc_id", "text",
      Seq("spark", "query"), log(lit(1.0) + $"n_chars" / lit(100.0)), 3)
      .collect().map(_.getLong(0))
    assert(boosted.take(2).contains(3L)) // the 500-char doc gains most
    // fq: scores must equal the unfiltered query's scores for surviving docs
    val all = BM25.scoreTopK(mm, "doc_id", "text", Seq("spark", "query"), 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fq = BM25.scoreTopKFiltered(mm, "doc_id", "text",
      Seq("spark", "query"), $"n_chars" === 500L, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(fq == Seq(3L -> all(3L))) // filtered out ≠ rescored
  }

  test("statsField computes exact-integer stats with closed-form stddev") {
    val hits = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("doc_id", "n_chars")
    val r = Collections.statsField(hits, "n_chars").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 10L && r.getLong(2) == 30L)
    assert(r.getLong(3) == 60L && r.getDouble(4) == 20.0)
    assert(r.getDouble(5) == 10.0) // sqrt(((100+400+900) - 3600/3) / 2) = 10
  }

  test("a query term whose tb= dir is absent in a segment still scores " +
      "equal to the ad-hoc ranking") {
    val dest = java.nio.file.Files.createTempDirectory("bm25absent").toString
    val late = Seq((6L, "filler planners planners")).toDF("doc_id", "text")
    BM25Index.build(docs, "doc_id", "text", dest)
    BM25Index.appendSegment(late, "doc_id", "text", dest, "seg-00001")
    val seg = java.nio.file.Paths.get(dest, "segments", "seg-00001")
    val buckets = BM25Index.termBuckets(seg.toString)
    for (t <- Seq("spark", "query"); table <- Seq("postings", "termstats"))
      assert(!java.nio.file.Files.exists(
        seg.resolve(s"$table/tb=${BM25Index.termBucket(t, buckets)}")),
        s"precondition: the segment must hold no $table dir for '$t'")
    val terms = Seq("spark", "query", "filler")
    val adhoc = BM25.scoreTopK(docs.unionAll(late), "doc_id", "text", terms, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val served = BM25Index.topKMerged(spark, dest, terms, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(served == adhoc && served.map(_._1).contains(6L))
  }

  test("an index without its manifest fails loudly with its path") {
    val dest = java.nio.file.Files.createTempDirectory("bm25nomanifest").toString
    BM25Index.build(docs, "doc_id", "text", dest)
    val manifest = java.nio.file.Paths.get(dest, graft.util.ManifestLog.Dir)
    graft.util.StoreFs.deleteRecursively(manifest)
    assert(!BM25Index.isBuilt(dest))
    for (read <- Seq[() => Any](
        () => BM25Index.topKMerged(spark, dest, Seq("spark"), 5),
        () => BM25Index.suggest(spark, dest, "s", 5),
        () => BM25Index.moreLikeThis(spark, dest, 1L, 4, 5))) {
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains(manifest.toString), e.getMessage)
    }
  }

  test("a rebuild serves exactly its corpus: the previous index's segments " +
      "are gone") {
    val dest = java.nio.file.Files.createTempDirectory("bm25rebuild").toString
    BM25Index.build(docs, "doc_id", "text", dest)
    BM25Index.appendSegment(Seq((6L, "spark query spark")).toDF("doc_id", "text"),
      "doc_id", "text", dest, "seg-00001")
    def served() = BM25Index.topKMerged(spark, dest, Seq("spark", "query"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(served().map(_._1).contains(6L))
    BM25Index.build(docs, "doc_id", "text", dest)
    val adhoc = BM25.scoreTopK(docs, "doc_id", "text", Seq("spark", "query"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(!served().map(_._1).contains(6L), "the rebuilt index served an old segment")
    assert(served() == adhoc)
  }

  test("an append, an upsert and a delete committed between a compaction's " +
      "snapshot and its commit all survive it, and the upsert's tombstone " +
      "still kills the folded version") {
    import java.nio.file.{Path, Paths}
    val dest = java.nio.file.Files.createTempDirectory("bm25race").toString
    BM25Index.build(docs.filter("doc_id <= 3"), "doc_id", "text", dest)
    BM25Index.appendSegment(docs.filter("doc_id > 3"), "doc_id", "text",
      dest, "seg-00001")
    val late = Seq((6L, "spark planners")).toDF("doc_id", "text")
    val edited = Seq((2L, "query rewrite query planner")).toDF("doc_id", "text")
    // the writes run inside the compaction's manifest create: its
    // snapshot is taken and its fold staged, and its commit then loses
    // the version race and re-applies onto what the writes committed
    var raced = false
    val racing = new graft.util.DelegatingFs {
      override def createExclusive(p: Path, c: String): Unit = {
        if (!raced && p.getParent == Paths.get(dest, graft.util.ManifestLog.Dir)) {
          raced = true
          BM25Index.appendSegment(late, "doc_id", "text", dest, "seg-late")
          BM25Index.upsertSegment(edited, "doc_id", "text", dest, "seg-edit")
          BM25Index.deleteDocs(spark, dest, Seq(3L))
        }
        super.createExclusive(p, c)
      }
    }
    graft.util.StoreFs.withFs(racing)(BM25Index.compact(spark, dest))
    assert(raced, "the compaction committed no manifest")
    assert(BM25Index.segments(dest) == Seq("seg-late", "seg-edit"))
    val live = docs.filter("doc_id NOT IN (2, 3)").unionAll(edited).unionAll(late)
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).sorted.toSeq
    for (t <- Seq("spark", "query", "rewrite", "planners", "filler"))
      assert(ids(BM25Index.topKMerged(spark, dest, Seq(t), 10)) ==
        ids(BM25.scoreTopK(live, "doc_id", "text", Seq(t), 10)), s"'$t' diverged")
    assert(!ids(BM25Index.topKMerged(spark, dest, Seq("filler"), 10)).contains(2L),
      "the folded version of the upserted doc is served")
    // the next compaction folds the racing writes too: ≡ a fresh build
    BM25Index.compact(spark, dest)
    val fresh = java.nio.file.Files.createTempDirectory("bm25racefresh").toString
    BM25Index.build(live, "doc_id", "text", fresh)
    def scored(d: String) = BM25Index.topKMerged(spark, d, Seq("spark", "query"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(scored(dest) == scored(fresh))
  }

  test("reads open only what the manifest lists: building the topKMerged " +
      "frame lists nothing but _manifest/, and on a 3-part index with " +
      "tombstones building every served frame starts no Spark job") {
    import java.nio.file.{Path, Paths}
    val dest = java.nio.file.Files.createTempDirectory("bm25listed").toString
    BM25Index.build(docs.filter("doc_id <= 2"), "doc_id", "text", dest)
    BM25Index.appendSegment(docs.filter("doc_id IN (3, 4)"), "doc_id", "text",
      dest, "seg-1")
    val edited = Seq((2L, "query rewrite query planner")).toDF("doc_id", "text")
    BM25Index.upsertSegment(edited.unionAll(docs.filter("doc_id = 5")),
      "doc_id", "text", dest, "seg-2")
    BM25Index.deleteDocs(spark, dest, Seq(3L))
    val probed = scala.collection.mutable.Buffer[Path]()
    val counting = new graft.util.DelegatingFs {
      override def list(p: Path): Seq[Path] = { probed.synchronized(probed += p); super.list(p) }
      override def isDirectory(p: Path): Boolean = {
        probed.synchronized(probed += p); super.isDirectory(p)
      }
    }
    val top = graft.util.StoreFs.withFs(counting)(
      BM25Index.topKMerged(spark, dest, Seq("spark", "query"), 5))
    assert(probed.toSeq == Seq(Paths.get(dest, graft.util.ManifestLog.Dir)), probed)
    // membership only: df/N/avglen count the dead versions until compaction
    val live = docs.filter("doc_id IN (1, 4, 5)").unionAll(edited)
    assert(top.collect().map(_.getLong(0)).toSet ==
      BM25.scoreTopK(live, "doc_id", "text", Seq("spark", "query"), 5)
        .collect().map(_.getLong(0)).toSet)
    val frames = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "topKMerged" -> (() => BM25Index.topKMerged(spark, dest, Seq("spark", "query"), 5)),
      "topKPhrase" -> (() => BM25Index.topKPhrase(spark, dest, Seq("spark", "query"), 5)),
      "suggest" -> (() => BM25Index.suggest(spark, dest, "s", 5)),
      "moreLikeThis" -> (() => BM25Index.moreLikeThis(spark, dest, 1L, 4, 5)))
    frames.foreach { case (name, build) =>
      val w = graft.SparkWork(spark.sparkContext)(build())
      assert(w.jobs == 0, s"building the $name frame started ${w.jobs} jobs")
    }
  }

  /** Runs `inside` once, inside the first manifest create of the index
    * at `dest` that `op` makes: its compaction or write is fully staged
    * and not yet committed.
    */
  private def beforeFirstCommit[A](dest: String)(inside: => A)(op: => Unit): Option[A] = {
    var seen: Option[A] = None
    var fired = false
    val fs = new graft.util.DelegatingFs {
      override def createExclusive(p: java.nio.file.Path, c: String): Unit = {
        if (!fired &&
            p.getParent == java.nio.file.Paths.get(dest, graft.util.ManifestLog.Dir)) {
          fired = true
          seen = Some(inside)
        }
        super.createExclusive(p, c)
      }
    }
    graft.util.StoreFs.withFs(fs)(op)
    seen
  }

  test("a topKMerged frame opened before a purging compaction's commit " +
      "still serves the pre-compaction ranking after it: the commit " +
      "deletes no file") {
    val dest = java.nio.file.Files.createTempDirectory("bm25purge").toString
    BM25Index.build(docs.filter("doc_id <= 3"), "doc_id", "text", dest)
    BM25Index.appendSegment(docs.filter("doc_id > 3"), "doc_id", "text",
      dest, "seg-00001")
    BM25Index.deleteDocs(spark, dest, Seq(3L))
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val before = ranked(BM25Index.topKMerged(spark, dest, Seq("spark", "query"), 5))
    val frame = beforeFirstCommit(dest)(
      BM25Index.topKMerged(spark, dest, Seq("spark", "query"), 5))(
      BM25Index.compact(spark, dest))
    assert(BM25Index.segments(dest).isEmpty, "the compaction did not commit")
    assert(ranked(frame.get) == before,
      "a frame opened on the pre-compaction manifest lost its files")
  }

  test("two compactions of a one-part index with a delete: the second to " +
      "commit throws, the first's result serves ≡ a fresh build") {
    val dest = java.nio.file.Files.createTempDirectory("bm25twice").toString
    BM25Index.build(docs, "doc_id", "text", dest)
    BM25Index.deleteDocs(spark, dest, Seq(3L))
    // the inner compaction runs inside the outer one's manifest create
    // and commits first; it re-derives a base equal to the outer one's
    // (same docs, same generation 0), so only the folded files tell
    val ex = intercept[IllegalStateException] {
      beforeFirstCommit(dest)(BM25Index.compact(spark, dest))(
        BM25Index.compact(spark, dest))
    }
    assert(ex.getMessage.contains("compaction"), ex.getMessage)
    // build, delete, the inner compaction — and no outer commit
    assert(graft.util.ManifestLog.versions(dest).sorted == Seq(0L, 1L, 2L))
    val fresh = java.nio.file.Files.createTempDirectory("bm25twicefresh").toString
    BM25Index.build(docs.filter("doc_id <> 3"), "doc_id", "text", fresh)
    for (terms <- Seq(Seq("spark", "query"), Seq("query")))
      assert(BM25Index.topKMerged(spark, dest, terms, 5)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq ==
        BM25Index.topKMerged(spark, fresh, terms, 5)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq,
        s"terms $terms diverge from a fresh build over the live docs")
  }
}
