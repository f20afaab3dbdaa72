package graft.search

import graft.similarity.AnnMeta
import graft.util.CacheLedger.CacheOps
import graft.util.{Stamp, StoreFs, StoreLock, Tables, Tombstones}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.json4s.JObject
import org.json4s.jackson.JsonMethods

import java.nio.file.Paths

/** Persistent BM25 serving index — the Spark-native analogue of the
  * reference's Solr collection index (`Ranking Model/src/main/java/Main/
  * SolrIndexer.java:47-59`): built ONCE, reused across queries, so serving
  * never re-tokenizes the corpus (Solr never re-analyzes its documents per
  * query either; the ad-hoc [[BM25.scoreTopK]] path does, which is right for
  * one-off queries and wrong for a serving deployment).
  *
  * Layout under one index directory:
  * {{{
  *   params.txt             termBuckets=<B>, gen=<G>  (persisted at build)
  *   schema.json            the three tables' schemas   (persisted at build)
  *   postings/tb=<0..B-1>/  (doc, term, tf, positions, len)  sorted by (term, doc)
  *   termstats/tb=<0..B-1>/ (term, df)                       sorted by term
  *   corpus/                (n, avglen, total_len)           one row
  * }}}
  *
  * `schema.json` ([[SchemaFile]]) holds `{"postings": …, "termstats": …,
  * "corpus": …}`, each the Spark schema of the frame that was written
  * (including the `tb` partition column). Every reader opens the tables
  * through it, so a query infers no schema (no footer-reading job per
  * table) and opens only the `tb=` directories its terms route to (no
  * listing of the others). It is written before the tables, so the
  * corpus `_SUCCESS` sentinel never stands without it; a part without it
  * fails loudly.
  *
  * `positions` is the sorted token-ordinal list of the term within the doc
  * (Lucene's positional postings) — what serves quoted-phrase queries
  * ([[topKPhrase]]) without re-tokenizing any document.
  *
  * `len` (doc length) is denormalized onto postings — Lucene stores per-doc
  * field norms alongside postings the same way — so serving needs NO
  * docstats join. Query-time reads prune twice: the term bucket
  * `tb = crc32(term) % termBuckets` picks the only directories a query
  * opens (computed on the driver; the same predicate stays in the plan as
  * PartitionFilters) and the within-file term sort prunes row groups
  * via parquet min/max stats (PushedFilters) — the two-level pruning a
  * sharded inverted index gives. The bucket count is NOT a compile-time
  * constant (v4 — round-15 verdict item 6): it is derived ∝ VOCABULARY at
  * build time ([[autoTermBuckets]] — at a 100-TB corpus a fixed 16 means
  * 16 giant postings partitions) and persisted in the index's metadata
  * (the byidBuckets/AnnMeta precedent), because the count is INDEX
  * IDENTITY: a probe assuming a different modulus than the build would
  * prune to the wrong directory and silently miss every posting of the
  * term. Every probe/append/compact reads the choice back — per PART,
  * since a segment's vocabulary (and so its derived count) legitimately
  * differs from the base's — and compaction re-derives it over the merged
  * vocabulary, which is how the count grows as segments fold in. Per-
  * bucket files bucketed by doc (for co-partitioned score joins) remain
  * the 100-TB follow-on.
  *
  * Appended segments live under `segments/<name>/` with the same layout.
  * Updates and deletes follow the shared [[graft.util.Tombstones]]
  * contract at PART granularity: each part's `gen` is the generation
  * that wrote it (the base is 0) and stands in for the `__gen` of every
  * posting in it.
  *
  * Why directory partitioning instead of [[graft.sources.Sinks.bucketedTable]]
  * (bucketBy + saveAsTable): bucketed-table reads resolve through the session
  * catalog, which does not survive across driver sessions here; partition
  * directories give the same pruning from a plain path read.
  */
object BM25Index {

  /** Floor for the derived bucket count — keeps small corpora wide
    * enough to exercise the pruned read (the pre-v4 constant).
    */
  val DefaultTermBuckets = 16

  /** Target vocabulary slice per bucket for [[autoTermBuckets]]: ~64k
    * terms keeps a bucket's termstats file one comfortable scan and its
    * postings directory far from the giant-partition regime.
    */
  val TermsPerBucket = 65536L

  /** Each part's persisted table schemas (see the object scaladoc). */
  val SchemaFile = "schema.json"

  /** Bucket count ∝ vocabulary: ⌈nTerms / TermsPerBucket⌉, floored at
    * [[DefaultTermBuckets]] — a 100M-term corpus derives ~1.5k buckets
    * where the old constant gave 16 giant partitions.
    */
  def autoTermBuckets(nTerms: Long): Int =
    math.max(DefaultTermBuckets,
      ((nTerms + TermsPerBucket - 1) / TermsPerBucket).toInt)

  /** The PERSISTED bucket count of an index part — the only value a
    * probe may use (a guessed modulus prunes to the wrong directory).
    */
  def termBuckets(part: String): Int = AnnMeta.readKey(part, "termBuckets")

  /** Engine-independent term bucket, computable as a Column at build time
    * and on the driver at query time (java.util.zip.CRC32 and Spark's
    * `crc32` share the polynomial). `buckets` is the part's persisted
    * count, never a constant.
    */
  def termBucketCol(term: Column, buckets: Int): Column =
    pmod(crc32(term), lit(buckets)).cast("int")

  def termBucket(term: String, buckets: Int): Int = {
    val c = new java.util.zip.CRC32()
    c.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (c.getValue % buckets).toInt
  }

  /** Build the index from a corpus. One tokenize pass — the (doc, term, tf)
    * aggregation is persisted across the three writes (postings, termstats,
    * corpus all derive from it; without the cache Spark would recompute the
    * tokenize+explode+groupBy DAG per sink).
    *
    * `corpus` carries `total_len` (exact integer token count) alongside the
    * derived `avglen` so segment merges ([[topKMerged]]) can recombine
    * corpus stats EXACTLY — merging via n·avglen would reintroduce the
    * division's rounding error per segment.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, dest: String): Unit = {
    // a rebuild starts from a clean delete state: stale tombstones would
    // exclude rebuilt docs whose upsert segments no longer exist
    Tombstones.clear(dest)
    writePart(docs, idCol, textCol, dest, gen = 0L)
  }

  /** One index part (base or segment) at generation `gen`. */
  private def writePart(docs: DataFrame, idCol: String, textCol: String,
                        dest: String, gen: Long): Unit = {
    // positional postings (Lucene stores positions alongside tf the same
    // way): tf and the sorted position list come out of ONE aggregation
    // over the positional token stream, so adding positions costs no extra
    // corpus pass. sort_array fixes collect_list's partition-order
    // nondeterminism.
    val post = BM25.tokensWithPos(docs, idCol, textCol)
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .persistBounded()
    try {
      // the termstats aggregate doubles as the vocabulary count the
      // bucket derivation needs — persisted so the count job and the
      // write share one computation
      val tstats = post.groupBy(col("term"))
        .agg(count(lit(1)).cast("double").as("df"))
        .persistBounded()
      try {
        val lens = post.groupBy(col("doc")).agg(sum(col("tf")).as("len"))
        writeTables(dest, autoTermBuckets(tstats.count()), gen,
          post.join(lens, "doc"), tstats,
          lens.agg(count(lit(1)).cast("double").as("n"),
            (sum(col("len")) / count(lit(1)).cast("double")).as("avglen"),
            sum(col("len")).cast("long").as("total_len")))
      } finally tstats.unpersist()
    } finally post.unpersist()
  }

  /** A part's artifacts, metadata first and the corpus — whose `_SUCCESS`
    * is the [[isBuilt]] sentinel — last: `params.txt` (the AnnMeta
    * ordering: a reader never sees postings without the modulus that
    * routes them), then [[SchemaFile]], taken from the frames about to be
    * written (analysis only, no job), then the term-bucketed postings
    * (doc, term, tf, positions, len) and termstats (term, df), then the
    * corpus (n, avglen, total_len).
    */
  private def writeTables(dest: String, buckets: Int, gen: Long,
                          postings: DataFrame, tstats: DataFrame,
                          corpus: DataFrame): Unit = {
    val post = postings.withColumn("tb", termBucketCol(col("term"), buckets))
    val terms = tstats.withColumn("tb", termBucketCol(col("term"), buckets))
    AnnMeta.write(dest, "termBuckets" -> buckets, "gen" -> Math.toIntExact(gen))
    StoreFs.writeString(Paths.get(dest, SchemaFile),
      JsonMethods.compact(JObject(Seq("postings" -> post, "termstats" -> terms,
        "corpus" -> corpus).map { case (t, df) =>
          t -> JsonMethods.parse(df.schema.json) }.toList)))
    post.repartition(col("tb"))
      .sortWithinPartitions(col("term"), col("doc"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$dest/postings")
    terms.repartition(col("tb"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$dest/termstats")
    corpus.coalesce(1).write.mode("overwrite").parquet(s"$dest/corpus")
  }

  /** The persisted schema of one of a part's tables. A part without
    * [[SchemaFile]] fails loudly with its path.
    */
  private def schemaOf(part: String, table: String): StructType = {
    val f = Paths.get(part, SchemaFile)
    require(StoreFs.exists(f), s"BM25 index part at $part has no " +
      s"$SchemaFile — built before the persisted-schema contract (or the " +
      "file was lost); rebuild the index")
    DataType.fromJson(JsonMethods.compact(
        JsonMethods.parse(StoreFs.readString(f)) \ table))
      .asInstanceOf[StructType]
  }

  /** One of a part's tables read through its persisted schema. With
    * `tbs`, only those term-bucket directories are opened — absent ones
    * (no term of the part hashed there) are skipped, and a part with none
    * of them is a typed empty frame — so the read lists no other bucket
    * and infers nothing.
    */
  private def readTable(spark: SparkSession, part: String, table: String,
                        tbs: Option[Seq[Int]] = None): DataFrame = {
    val schema = schemaOf(part, table)
    val root = s"$part/$table"
    tbs match {
      case None => spark.read.schema(schema).parquet(root)
      case Some(bs) =>
        val dirs = bs.map(b => Paths.get(root, s"tb=$b"))
          .filter(StoreFs.isDirectory)
        if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
        else spark.read.schema(schema).option("basePath", root)
          .parquet(dirs.map(_.toString): _*)
    }
  }

  /** A part's postings or termstats slice for the analyzed `terms`: only
    * the terms' bucket directories (routed by the part's own persisted
    * modulus — a segment's derived count legitimately differs from the
    * base's), with the bucket and term predicates kept in the plan for
    * directory and row-group pruning.
    */
  private def termSlice(spark: SparkSession, part: String, table: String,
                        terms: Seq[String]): DataFrame = {
    val tbs = terms.map(termBucket(_, termBuckets(part))).distinct
    readTable(spark, part, table, Some(tbs))
      .filter(col("tb").isin(tbs: _*) && col("term").isin(terms: _*))
  }

  /** Incremental maintenance, Lucene-segment style: NEW documents are
    * indexed as a self-contained segment (same postings/termstats/corpus
    * layout) under `dest/segments/<name>`, never rewriting the base — the
    * write cost of an append is proportional to the appended docs, not the
    * index. [[topKMerged]] serves the union with globally merged df/N/
    * avglen, which makes segment-append + merged-serve EXACTLY equal to a
    * full rebuild (spec-asserted). Contract: appended docs are NEW ids
    * (dedup upstream) — re-adding a live id would double-count its
    * postings, the same contract Solr's add-without-delete has.
    *
    * The segment is built in a staging dir beside `segments/` and
    * published by ONE atomic rename, so a concurrent reader lists either
    * no segment or a complete one — never a directory whose params,
    * postings or corpus are still being written. A crashed append leaves
    * only the staging dir, which [[StoreAdmin.gcOrphans]] reclaims.
    */
  def appendSegment(docs: DataFrame, idCol: String, textCol: String,
                    dest: String, name: String): Unit =
    // under the store lock: compact's partDirs snapshot + whole-dir
    // segment delete is a whole-index rewrite with no segment-file
    // model, so a racing append must collide loudly, not vanish
    StoreLock.withLock(dest, "append") {
      publishSegment(docs, idCol, textCol, dest, name, upsert = false)
    }

  /** Id-keyed OVERWRITE — the reference indexer's `addBean`-with-existing-
    * id semantics (`SolrIndexer.java:47-59`), expressed the way Lucene
    * expresses it: delete + add with tombstones folded at merge. The
    * batch indexes as a segment at a fresh generation and its ids are
    * tombstoned at that same generation, which kills every older version
    * and spares the new segment. Corpus statistics (df/N/avglen) keep
    * counting the dead version until [[compact]] — precisely Lucene's
    * deleted-docs-in-stats behavior, and compaction is the stats-refresh
    * event (after it the index equals a fresh build over the updated
    * corpus, spec-asserted bit-equal). The tombstone lands after the
    * staged segment is built and before it is published: a crash leaves
    * the doc absent (retry the upsert and it converges at a higher
    * generation), never served twice, and the doc is absent only for
    * the rename.
    */
  def upsertSegment(docs: DataFrame, idCol: String, textCol: String,
                    dest: String, name: String): Unit =
    StoreLock.withLock(dest, "append") {
      publishSegment(docs, idCol, textCol, dest, name, upsert = true)
    }

  /** Test seam: runs with the segment fully staged (and an upsert's
    * tombstone written), just before the publishing rename.
    */
  private[search] var testHookBeforePublish: String => Unit = _ => ()

  private def publishSegment(docs: DataFrame, idCol: String, textCol: String,
                             dest: String, name: String,
                             upsert: Boolean): Unit = {
    require(name.trim.nonEmpty, "a segment needs a non-blank name")
    val gen = Tombstones.nextGen(dest)
    val staged = Paths.get(dest, s"segment-$name-rewrite-tmp")
    StoreFs.deleteRecursively(staged)
    writePart(docs, idCol, textCol, staged.toString, gen)
    if (upsert)
      Tombstones.write(docs.select(col(idCol)), dest, gen, Tombstones.StringKey)
    testHookBeforePublish(dest)
    val target = Paths.get(dest, "segments", name)
    // a reused name replaces its segment, so a re-run batch converges
    StoreFs.deleteRecursively(target)
    StoreFs.createDirectories(target.getParent)
    StoreFs.atomicMove(staged, target)
  }

  /** Tombstone-only delete (Solr's deleteById): the ids stop being
    * served on the next query and their postings are physically purged
    * (and stats refreshed) at the next [[compact]].
    */
  def deleteDocs(spark: SparkSession, dest: String, ids: Seq[Any]): Unit =
    StoreLock.withLock(dest, "append") {
      import spark.implicits._
      Tombstones.write(ids.map(String.valueOf).toDF("__id"), dest,
        Tombstones.nextGen(dest), Tombstones.StringKey)
    }

  /** Union of the parts' postings with the tombstone kill applied, each
    * part's rows at the part's generation. No-op (no generation column,
    * no join) when the index has never seen an upsert/delete.
    */
  private def livePostings(spark: SparkSession, dest: String,
                           parts: Seq[String],
                           read: String => DataFrame): DataFrame = {
    val tombs = Tombstones.snapshot(dest)
    val rows = parts.map { p =>
      val post = read(p)
      if (tombs.isEmpty) post
      else post.withColumn("__gen", lit(AnnMeta.readKey(p, "gen").toLong))
    }.reduce(_.unionAll(_))
    if (tombs.isEmpty) rows
    else Tombstones.kill(spark, tombs, rows, "doc", Tombstones.StringKey)
      .drop("__gen")
  }

  /** Segment compaction — fold every appended segment back into the base,
    * WITHOUT re-tokenizing any document: postings rows are already the
    * per-(doc, term) ground truth, so the merged index is just the unioned
    * postings re-bucketed/re-sorted, termstats re-summed from the unioned
    * parts, and corpus stats recombined from the exact counts (same math
    * as [[topKMerged]] — compact-then-serve ≡ merged-serve, spec-asserted).
    * This is Lucene's background segment merge: amortize many small
    * appends into one read-optimized base. Cost: one read+shuffle+write of
    * index METADATA (postings), never a corpus scan.
    */
  def compact(spark: SparkSession, dest: String): Unit = StoreLock.withLock(dest, "compact") {
    val parts = partDirs(dest)
    if (parts.size > 1 || Tombstones.has(dest)) {
      val post = livePostings(spark, dest, parts, readTable(spark, _, "postings"))
        .drop("tb").persistBounded()
      // corpus stats recomputed from the SURVIVING per-(doc, term) ground
      // truth — on a tombstone-free index this equals the per-part
      // (n, total_len) summation exactly (disjoint docs, integer-valued
      // doubles), and with tombstones it is the stats refresh that makes
      // compact ≡ rebuild-over-the-updated-corpus
      val corpus = post.select(col("doc"), col("len")).distinct()
        .agg(count(lit(1)).cast("double").as("n"),
          (sum(col("len")) / count(lit(1)).cast("double")).as("avglen"),
          sum(col("len")).cast("long").as("total_len"))
      try {
        val tmp = s"$dest/compact-rewrite-tmp"
        // the bucket count is RE-DERIVED over the merged vocabulary —
        // this is how the count grows as segments fold in (the folded
        // base routes by ITS modulus; the segments' own counts die with
        // their directories)
        val tstats = post.groupBy(col("term"))
          .agg(count(lit(1)).cast("double").as("df")).persistBounded()
        try writeTables(tmp, autoTermBuckets(tstats.count()), 0L, post,
          tstats, corpus)
        finally tstats.unpersist()
        // swap with the isBuilt sentinel (corpus/_SUCCESS) handled FIRST on
        // delete and LAST on move: a crash anywhere mid-swap leaves the
        // index without its sentinel, so build-if-absent callers rebuild
        // instead of serving mixed-generation postings/termstats. The
        // params and schema files ride INSIDE the sentinel window
        // (deleted right after corpus, restored right before it) so a
        // valid sentinel can never pair new postings with the old modulus
        // — a probe routed by the stale count would silently miss terms.
        // The segments dir is deleted BEFORE the sentinel lands — if it
        // were removed after, a crash between the corpus move and the
        // segment delete would leave a valid sentinel alongside the old
        // segments and topKMerged would double-count every compacted
        // segment doc.
        val swapOrder = Seq("corpus", AnnMeta.File, SchemaFile, "postings",
          "termstats")
        swapOrder.foreach(sub => StoreFs.deleteRecursively(Paths.get(dest, sub)))
        StoreFs.deleteRecursively(Paths.get(dest, "segments"))
        // tombstones go with the segments: their deletes are now folded
        // physically (and the stats refreshed), like Lucene's merge — and
        // the folded base is generation 0 again
        Tombstones.clear(dest)
        swapOrder.reverse.foreach(sub =>
          StoreFs.move(Paths.get(tmp, sub), Paths.get(dest, sub)))
        StoreFs.deleteRecursively(Paths.get(tmp))
      } finally post.unpersist()
    }
  }

  /** All index parts: the base plus any appended segments. */
  private def partDirs(dest: String): Seq[String] =
    dest +: StoreFs.list(Paths.get(dest, "segments")).map(_.toString).sorted

  /** Serving-path top-k over base + segments: per part, only the query
    * terms' bucket directories of postings and termstats are opened
    * ([[termSlice]]), unioned with the tombstone kill applied, df summed
    * per term across parts, corpus stats recombined from exact counts.
    * Every read goes through the part's persisted schema, so building
    * the frame starts no Spark job. Score is bit-identical to
    * [[BM25.scoreTopK]] (same idf/tfNorm/rounding over the same
    * tf/len/df/N values).
    */
  def topKMerged(spark: SparkSession, dest: String, queryTerms: Seq[String],
                 k: Int): DataFrame = {
    val terms = BM25.analyze(queryTerms)
    require(terms.nonEmpty, "no query terms survive analysis")
    val parts = partDirs(dest)
    val post = livePostings(spark, dest, parts,
      termSlice(spark, _, "postings", terms))
    val tstats = summedDf(parts.map(termSlice(spark, _, "termstats", terms)))
    post.join(broadcast(tstats), "term")
      .crossJoin(broadcast(mergedCorpus(spark, parts)))
      .groupBy(col("doc"))
      .agg(round(sum(BM25.idfExpr(col("n"), col("df")) *
        BM25.tfNormExpr(col("tf"), col("len"), col("avglen"))), 6).as("score"))
      .orderBy(col("score").desc, col("doc").asc)
      .limit(k)
  }

  /** df per term summed across parts (additive over disjoint doc sets). */
  private def summedDf(termstats: Seq[DataFrame]): DataFrame =
    termstats.reduce(_.unionAll(_))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))

  /** N and avglen over every part, recombined from the exact counts. */
  private def mergedCorpus(spark: SparkSession, parts: Seq[String]): DataFrame =
    parts.map(readTable(spark, _, "corpus")).reduce(_.unionAll(_))
      .agg(sum(col("n")).as("n"),
        (sum(col("total_len")).cast("double") / sum(col("n"))).as("avglen"))

  def isBuilt(dest: String): Boolean =
    StoreFs.exists(Paths.get(dest, "corpus", "_SUCCESS"))

  /** Canonical index location for a testdata sf dir: under the repo's build
    * dir by default (`user.dir` = the sbt fork's working directory), or
    * `GRAFT_INDEX_DIR` when set — never a hardcoded absolute path.
    */
  def defaultDir(sfDir: String): String = {
    // v6: each part persists its table schemas (SchemaFile), which every
    // reader requires — the bump orphans older layouts so a stamped store
    // is never read under a contract it wasn't built with
    graft.util.StoreDirs.resolve("bm25-index-v6", sfDir)
  }

  /** Build-if-absent-or-stale for a testdata documents corpus; returns the
    * index dir. Freshness = the stored source stamp matches the corpus
    * files' current metadata (not a bare _SUCCESS check).
    */
  def ensureBuilt(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir)
    val stamp = Stamp.sourceStamp(sfDir)
    if (!(isBuilt(dest) && Stamp.isFresh(dest, stamp))) {
      build(Tables.documents(spark, sfDir), "doc_id", "text", dest)
      Stamp.write(dest, stamp)
    }
    dest
  }

  /** Build-if-absent-or-stale for the SEGMENTED index exercised by
    * `q_keyword_bm25_incr`: the base indexes 80% of the corpus
    * (doc_id % 5 ≠ 0), the other 20% arrives later as an appended segment
    * — merged serving must equal a full-corpus index exactly. A rebuild
    * wipes the whole dest first so stale segments can never linger.
    */
  def ensureBuiltIncremental(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir) + "__incr"
    val stamp = Stamp.sourceStamp(sfDir)
    val fresh = isBuilt(dest) && Stamp.isFresh(dest, stamp) &&
      StoreFs.isDirectory(Paths.get(dest, "segments"))
    if (!fresh) {
      StoreFs.deleteRecursively(Paths.get(dest))
      val docs = Tables.documents(spark, sfDir)
      build(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", dest)
      appendSegment(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
        dest, "seg-00001")
      Stamp.write(dest, stamp)
    }
    dest
  }

  /** Served quoted-phrase top-k — the positions-index path the ad-hoc
    * [[BM25.scoreTopKPhrase]] documents as "what a high-QPS deployment
    * would run": no document is re-tokenized; the whole query reads only
    * the bucket/term-pruned positional postings of the phrase's terms.
    *
    * Shape: per distinct phrase term, the pruned postings slice gives
    * (doc, tf, positions, len); an inner join on doc keeps docs containing
    * ALL terms; adjacency is a fold of
    * `array_intersect(transform(cand, p -> p+1), pos_next)` over the
    * phrase's slots (repeated terms reuse the same positions array, which
    * is exactly right — a token cannot occupy two slots at once). Scoring
    * reproduces the ad-hoc path bit-for-bit: statistics over the MATCH SET
    * (N = matches, df = N since every match contains every phrase term,
    * len/avglen from the denormalized doc lengths) — so the same DuckDB
    * oracle gates both paths.
    *
    * Works over base + segments unmodified: a doc lives in exactly one
    * part (the append contract), so its tf/positions/len rows are
    * self-consistent, and the match-set stats are computed from the joined
    * result, not per-part.
    */
  def topKPhrase(spark: SparkSession, dest: String, phrase: Seq[String],
                 k: Int): DataFrame = {
    val ordered = phrase.map(_.toLowerCase.replaceAll("[^a-z0-9]", ""))
      .filter(_.nonEmpty)
    require(ordered.nonEmpty, "no phrase terms survive analysis")
    val terms = ordered.distinct
    val post = livePostings(spark, dest, partDirs(dest),
      termSlice(spark, _, "postings", terms))
    val slot = terms.zipWithIndex.toMap
    val joined = terms.zipWithIndex.map { case (t, i) =>
        val keep = Seq(col("doc")) ++ (if (i == 0) Seq(col("len")) else Nil) ++
          Seq(col("tf").as(s"__tf_$i"), col("positions").as(s"__pos_$i"))
        post.filter(col("term") === t).select(keep: _*)
      }.reduce(_.join(_, "doc"))
    val adjacency = ordered.tail.foldLeft(col(s"__pos_${slot(ordered.head)}")) {
      (cand, t) => array_intersect(transform(cand, p => p + 1), col(s"__pos_${slot(t)}"))
    }
    val matches = joined.filter(size(adjacency) > 0)
    val corpus = matches.agg(count(lit(1)).cast("double").as("n"),
      (sum(col("len")) / count(lit(1)).cast("double")).as("avglen"))
    matches.crossJoin(broadcast(corpus))
      .select(col("doc"), round(terms.indices.map(i =>
          BM25.idfExpr(col("n"), col("n")) *
            BM25.tfNormExpr(col(s"__tf_$i"), col("len"), col("avglen")))
        .reduce(_ + _), 6).as("score"))
      .orderBy(col("score").desc, col("doc").asc)
      .limit(k)
  }

  /** Served suggester: prefix autocomplete over the PERSISTED vocabulary —
    * the termstats table IS the suggester artifact (term, df), corpus-
    * metadata-sized, so the ad-hoc path's full corpus tokenize
    * ([[Collections.suggest]]) never runs at query time. The prefix
    * predicate cannot prune crc32 term buckets (hash buckets don't
    * preserve prefixes) but it pushes to parquet as StringStartsWith and
    * the within-bucket term sort gives row-group min/max pruning — the
    * same two-level story as [[topK]], minus the directory cut. df is
    * summed across segments (a term's df is additive over disjoint
    * doc sets).
    */
  def suggest(spark: SparkSession, dest: String, prefix: String,
              k: Int): DataFrame = {
    partDirs(dest).map(readTable(spark, _, "termstats"))
      .reduce(_.unionAll(_))
      .filter(col("term").startsWith(prefix.toLowerCase))
      .groupBy(col("term"))
      .agg(sum(col("df")).cast("long").as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(k)
  }

  /** Served More-Like-This: [[BM25.moreLikeThis]] re-expressed as joins
    * over the prebuilt index, base + segments like [[topKMerged]]. The
    * seed's interesting terms come from its own live postings rows (tf),
    * df summed per term across parts, N/avglen recombined from exact
    * counts; scoring rides the live postings with denormalized `len` —
    * no corpus re-tokenize anywhere, and a tombstoned version never
    * scores. Must be hash-equal to the ad-hoc ranking (same rounding,
    * same tf·idf term selection, same tiebreaks); shares
    * `q_more_like_this`'s oracle.
    *
    * The seed lookup filters postings by doc across all term buckets —
    * row-group stats prune most of it, and the read is index metadata,
    * not corpus. A high-QPS deployment would add a doc-keyed forward
    * index (doc → terms) to make the seed read one row group; for
    * analytics the pruned scan is the right shape.
    */
  def moreLikeThis(spark: SparkSession, dest: String, seedId: Long,
                   nTerms: Int, k: Int, minDf: Double = 1.0): DataFrame = {
    require(nTerms > 0 && k > 0, "nTerms and k must be positive")
    val parts = partDirs(dest)
    val post = livePostings(spark, dest, parts, readTable(spark, _, "postings"))
    val tstats = summedDf(parts.map(readTable(spark, _, "termstats")))
    val corpus = mergedCorpus(spark, parts)
    val seedTf = post.filter(col("doc") === seedId).select(col("term"), col("tf"))
    val seedTerms = tstats.join(broadcast(seedTf), "term")
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(corpus))
      .withColumn("tfidf", round(col("tf") * BM25.idfExpr(col("n"), col("df")), 6))
      .orderBy(col("tfidf").desc, col("term").asc)
      .limit(nTerms)
      .select(col("term"))
    val prunedStats = tstats.join(broadcast(seedTerms), "term")
    post.join(broadcast(seedTerms), "term")
      .filter(col("doc") =!= seedId)
      .join(broadcast(prunedStats), "term")
      .crossJoin(broadcast(corpus))
      .groupBy(col("doc"))
      .agg(round(sum(BM25.idfExpr(col("n"), col("df")) *
        BM25.tfNormExpr(col("tf"), col("len"), col("avglen"))), 6).as("score"))
      .orderBy(col("score").desc, col("doc").asc)
      .limit(k)
  }
}
