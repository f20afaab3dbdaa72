package graft.search

import java.nio.file.Path

import graft.util.{LocalScan, ManifestLog, Tombstones}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Formats, JArray, JInt, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

/** The engine's keyed store: a table keyed on one column, bucketed by
  * `pmod(hash(CAST(key AS STRING)), buckets)` and sorted within each
  * bucket by (key ascending, sort columns descending), written with
  * generations and tombstones, folded and committed by manifest. A
  * probe runs on the calling thread: it routes its whole key set to
  * buckets with one evaluation of the bucket function, reads ONLY the
  * files those buckets list in the store's manifest on the driver
  * ([[graft.util.LocalScan]], through the persisted schema), drops what
  * the listed tombstones outrank and returns a local relation — no
  * directory listing, no schema inference and no Spark job. Hashing the
  * key's string form on BOTH build and probe sides makes the bucket
  * function insensitive to the key column's physical type, and a probe
  * matches rows on that same string form. Whole-table reads ([[read]])
  * and folds stay Spark scans.
  *
  *  - TIMELINE store ([[buildTimeline]]/[[timelineProbe]]): the fact
  *    table keyed on a foreign key — the user-timeline route's FK
  *    expansion reads one bucket, one key's row span.
  *  - POSTING store ([[buildPostings]]/[[postingProbe]]): the same
  *    layout keyed on `__key`, built over
  *    `explode(array_distinct(keysCol))` — one row per (key, source row),
  *    the hashtag route's `tweetHashtags:'<tag>'` shape. Request cost is
  *    the matching postings, never an `array_contains` scan of the
  *    corpus.
  *  - Signature and ANN stores — [[graft.dedup.SimHashStore]] (key
  *    `doc`), [[graft.similarity.SrpStore]] (`vec_id`),
  *    [[graft.similarity.Sq8Store]] (`vid`) in buckets sized to their
  *    input ([[bucketsFor]]), read whole through [[read]];
  *    [[graft.similarity.SrpLabelStore]] keyed on `label` in 16, its
  *    filtered search a [[timelineProbe]] — are thin clients of the
  *    timeline store.
  *
  * == The commit model (Lucene's `segments_N`, the Delta Lake log) ==
  *
  * A store's whole state is its latest manifest, `_manifest/<N>.json`
  * (N zero-padded): the row schema (so a store with zero data files
  * still probes to a typed empty frame), the key column, the columns
  * sorted descending after it, the bucket count, the last write
  * generation, the identity column tombstones key on, and the names of
  * the data files per bucket and of the tombstone files. Readers list
  * `_manifest/`, read the highest N and open exactly the files it
  * names. Every write — build, append, upsert, delete, compact,
  * rebucket — takes the one commit path of [[graft.util.ManifestLog]]:
  * stage (the parquet files land unlisted in `__bucket=b/` or
  * `_tombstones/` under their unique part names), then commit version
  * N+1 naming them with one atomic, content-complete exclusive create.
  * Races follow [[graft.util.ManifestLog]]'s rules; this store adds one:
  * a write staged under b buckets commits only onto b buckets, so
  * against a rebucket the side that commits second throws. A store
  * without a manifest fails loudly, naming its `_manifest` path.
  *
  * Maintenance lifecycle (the reference's indexer is a CONTINUOUS
  * keyed-upsert loop — SolrIndexer's addBean+commit per batch — with
  * Solr compacting segments beneath it; this is that full cycle):
  * [[appendTimeline]]/[[appendPostings]] add a batch's rows at batch
  * cost; [[upsertTimeline]]/[[upsertPostings]] REPLACE existing row ids
  * (the reference's `addBean` overwrite semantics —
  * `SolrIndexer.java:47-59`) via generation-numbered tombstones (below);
  * [[compact]] and [[compactHotBuckets]] fold the accumulated small
  * files back into one read-optimized file per bucket (dead rows
  * unlisted, deleted by the next reclaim); [[rebucket]] changes the
  * bucket count when growth makes buckets hot — the one remedy short of
  * a full rebuild.
  * All three are one fold: read the chosen buckets' listed files, kill
  * what the manifest's tombstones outrank, re-tag `__bucket` under the
  * target count, write in ONE partitioned job, commit.
  *
  * == Crash contract ==
  *
  * A crash at any point leaves the last commit serving, with its
  * staleness stamp intact: before the manifest create nothing a reader
  * opens has changed, and the create is all-or-nothing. What a crash
  * leaves behind — a staging dir, moved-in but uncommitted files — is
  * unreferenced, and [[StoreAdmin.gcOrphans]] reclaims it. A rebuild
  * stages before it commits, like every other write, so one that crashes
  * leaves the previous build serving; a first build that crashes leaves
  * a dir with no manifest, which [[StoreAdmin.maintain]] skips and the
  * next build commits into.
  *
  * == Update/delete semantics (tombstones) ==
  *
  * The shared [[graft.util.Tombstones]] table, keyed on the string form
  * of the identity column the first upsert/delete names: each
  * append/upsert writes its rows at a fresh generation, an upsert's
  * tombstones kill every strictly older version of its ids, and probes
  * drop what a listed tombstone outranks. An upsert's tombstones and
  * rows land in ONE commit. A fold that covered every nonempty bucket
  * drops the dead rows and unlists the tombstones it applied — Lucene's
  * delete+add with tombstones folded at merge.
  * [[deleteIds]] is the tombstone-only half (Solr's deleteById).
  */
object ServingStores {

  val DefaultBuckets = 64

  /** The bucket count of a store built from `rows`: one bucket per
    * `spark.sql.files.maxPartitionBytes` (Spark's scan split, 128 MB by
    * default) of the rows' estimated size, and at least one per task slot
    * (`defaultParallelism`). A bucket's file is one scan partition, so a
    * whole-store read of even a small store runs on every slot, and a
    * build or full fold writes in as many tasks; a rebuild sizes the
    * store to its grown input again. Rows Spark cannot size get one
    * bucket per slot.
    */
  def bucketsFor(rows: DataFrame): Int = {
    val conf = rows.sparkSession.sessionState.conf
    val slots = rows.sparkSession.sparkContext.defaultParallelism
    val bytes = rows.queryExecution.optimizedPlan.stats.sizeInBytes
    val split = conf.filesMaxPartitionBytes
    if (bytes >= conf.defaultSizeInBytes) slots
    else ((bytes + split - 1) / split).max(slots).min(Int.MaxValue).toInt
  }

  /** Test seam: runs after a fold's files are fully staged and before
    * its commit — the widest window in which a concurrent write can
    * land between a fold's snapshot and its commit.
    */
  private[search] var testHookBeforeCommit: String => Unit = _ => ()

  /** One commit point of a store (`_manifest/<version>.json`, committed
    * through [[graft.util.ManifestLog]]): the row schema (including
    * `__gen` and the `__bucket` partition column), the key column the
    * buckets hash, the columns sorted descending after it, the bucket
    * count, the last write generation, the identity column tombstones key
    * on, and the store-relative paths of the data files
    * (`__bucket=<b>/<part>`) and tombstone files (`_tombstones/<part>`).
    */
  private case class Manifest(schema: JValue, key: String,
                              sortDesc: Seq[String], buckets: Int, gen: Long,
                              idCol: Option[String], files: Seq[String],
                              tombstones: Seq[String]) extends ManifestLog.Entry {
    lazy val rowSchema: StructType =
      DataType.fromJson(JsonMethods.compact(schema)).asInstanceOf[StructType]

    def order: Seq[Column] = col(key) +: sortDesc.map(col(_).desc)

    def inBucket(b: Int): Seq[String] = files.filter(_.startsWith(s"__bucket=$b/"))

    /** Listed files through the row schema (`__bucket` from their dirs). */
    def scan(spark: SparkSession, dest: String, fs: Seq[String]): DataFrame =
      ManifestLog.scan(spark, dest, rowSchema, "", fs)

    // written and read field by field, with no case-class reflection
    def json: String = {
      import ManifestLog.strings
      JsonMethods.compact(JObject(List("schema" -> schema, "key" -> JString(key),
        "sortDesc" -> strings(sortDesc), "buckets" -> JInt(buckets),
        "gen" -> JInt(gen), "files" -> strings(files),
        "tombstones" -> strings(tombstones)) ++ idCol.map("idCol" -> JString(_))))
    }
  }

  private def parseManifest(text: String): Manifest = {
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(text)
    def strings(f: String) = (j \ f).extract[List[String]]
    Manifest(j \ "schema", (j \ "key").extract[String], strings("sortDesc"),
      (j \ "buckets").extract[Int], (j \ "gen").extract[Long],
      (j \ "idCol").extractOpt[String], strings("files"), strings("tombstones"))
  }

  private val log = new ManifestLog[Manifest]("serving store", parseManifest)

  private def bucketOf(key: Column, buckets: Int): Column =
    pmod(hash(key.cast("string")), lit(buckets))

  /** A batch's rows tagged with their write generation and key bucket. */
  private def tagged(rows: DataFrame, key: String, gen: Long,
                     buckets: Int): DataFrame =
    rows.withColumn("__gen", lit(gen))
      .withColumn("__bucket", bucketOf(col(key), buckets))

  /** Bucket-partitioned layout write — one job, one file per bucket. The
    * sort leads with `__bucket`: `repartition(col)` can co-locate several
    * bucket values in one task and the dynamic-`partitionBy` writer then
    * requires its own sort by the partition column — which is NOT
    * guaranteed stable, so a key-only `sortWithinPartitions` could
    * silently lose the documented within-bucket key order (and the
    * min/max row-group pruning it enables). Leading with `__bucket`
    * satisfies the writer's required ordering outright; no re-sort is
    * inserted.
    */
  private def writeRows(rows: DataFrame, order: Seq[Column],
                        dest: String): Unit =
    rows.repartition(col("__bucket"))
      .sortWithinPartitions(col("__bucket") +: order: _*)
      .write.mode("append").partitionBy("__bucket").parquet(dest)

  // array_distinct: a key repeated within one row must post the row
  // ONCE — the probe replays `array_contains` semantics, not explode's
  private def exploded(df: DataFrame, keysCol: Column,
                       dropCols: Seq[String]): DataFrame =
    df.withColumn("__key", explode(array_distinct(keysCol)))
      .drop(dropCols: _*)

  /** Explode `keysCol` (an array column) into a posting table carrying
    * every source column: the timeline layout keyed on `__key`.
    */
  def buildPostings(df: DataFrame, keysCol: Column, dest: String,
                    buckets: Int = DefaultBuckets,
                    dropCols: Seq[String] = Nil): Unit =
    buildTimeline(exploded(df, keysCol, dropCols), "__key", dest,
      buckets = buckets)

  /** [[appendTimeline]] over the batch's exploded postings. */
  def appendPostings(batch: DataFrame, keysCol: Column, dest: String,
                     dropCols: Seq[String] = Nil): Unit =
    appendTimeline(exploded(batch, keysCol, dropCols), dest)

  /** [[upsertTimeline]] over the batch's exploded postings. The
    * tombstones come from the UNEXPLODED batch, so an edited row that
    * lost every key still kills its old postings.
    */
  def upsertPostings(batch: DataFrame, idCol: String, keysCol: Column,
                     dest: String, dropCols: Seq[String] = Nil): Unit =
    ingest(dest, Some(exploded(batch, keysCol, dropCols)),
      Some(idCol -> batch.select(col(idCol))))

  /** Tombstone-only delete (Solr's deleteById): every stored row of the
    * given ids — at any generation so far — stops being served on the
    * next probe, is dropped by the next full compaction and leaves the
    * disk at the reclaim after it.
    */
  def deleteIds(spark: SparkSession, dest: String, idCol: String,
                ids: Seq[Any]): Unit = {
    import spark.implicits._
    ingest(dest, None, Some(idCol -> ids.map(String.valueOf).toDF("__id")))
  }

  /** Fold accumulated small files back into one read-optimized file per
    * bucket and drop tombstoned rows: every nonempty bucket is folded
    * when tombstones exist (the drop must visit every file),
    * otherwise only buckets fragmented by appends (≥2 files). File count
    * drops back to O(buckets), within-bucket (key, sort) order (and its
    * min/max row-group pruning) is restored, and the tombstones this
    * pass applied are unlisted. A concurrent write survives (see the
    * object scaladoc). Probe results are identical before/after
    * (spec-asserted against a fresh rebuild).
    */
  def compact(spark: SparkSession, dest: String): Unit =
    fold(spark, dest, minFiles = if (hasTombstones(dest)) 1 else 2)

  /** [[compact]] scoped to the buckets that NEED it — the 100-TB
    * maintenance shape: a full-store rewrite is O(store) per cycle, but
    * appends only fragment the buckets they touched, and buckets are
    * independent, so compaction can pay O(hot buckets) instead. Buckets
    * with ≥ `minFiles` listed files are folded to one sorted file each
    * (tombstoned rows dropped from those buckets); cold buckets' files are
    * left byte-untouched, so tombstones are NOT unlisted unless this pass
    * happened to fold every nonempty bucket. Returns the compacted
    * bucket ids.
    */
  def compactHotBuckets(spark: SparkSession, dest: String,
                        minFiles: Int = 4): Seq[Int] =
    fold(spark, dest, minFiles)

  /** Change the bucket count of an existing store — the growth remedy
    * when a fixed build-time bucket count leaves hot buckets at 100 TB:
    * every live row's `__bucket` is recomputed from its key under the
    * new count (tombstoned rows dropped — this IS a full rewrite) and the
    * new files and count land in one commit, so probes can never pair
    * the new layout with the old count. It commits only if nothing was
    * committed after its snapshot; against a write, the side that
    * commits second throws. Surviving rows keep their `__gen`, so future
    * tombstones still outrank them; the staleness stamp is never
    * touched. Probe ≡ `array_contains` across any rebucket
    * (property-spec-asserted for 3 → 7 → 1).
    */
  def rebucket(spark: SparkSession, dest: String, newBuckets: Int): Unit =
    fold(spark, dest, minFiles = 0, newBuckets = Some(newBuckets))

  /** All source rows posted under `key`: the [[probeRows]] of the one
    * key on `__key`, without `__key`; with `top`, only its first rows.
    */
  def postingRows(spark: SparkSession, dest: String, key: String,
                  top: Option[LocalScan.Top] = None): LocalScan.Table =
    probeRows(spark, dest, "__key", Seq(key), top, drop = Seq("__key"))

  /** [[postingRows]] as a local frame. */
  def postingProbe(spark: SparkSession, dest: String, key: String,
                   top: Option[LocalScan.Top] = None): DataFrame =
    LocalScan.frame(spark, postingRows(spark, dest, key, top))

  /** Fact rows partitioned by `pmod(hash(fk), buckets)`, sorted by
    * (fk, `sortDesc` descending) within each bucket file: staged, then
    * committed as the whole state of the store — manifest version 0 of a
    * fresh store, or over an existing store its next version and
    * generation, listing only the new files, so the previous commit
    * serves until this one lands and a racing write to it throws at its
    * commit. The replaced files leave the disk at the next
    * [[StoreAdmin.reclaim]]. `fkCol` and `sortDesc` are persisted in the
    * manifest; no later call restates them.
    */
  def buildTimeline(df: DataFrame, fkCol: String, dest: String,
                    sortDesc: Seq[String] = Nil,
                    buckets: Int = DefaultBuckets): Unit = {
    val built = ManifestLog.versions(dest).nonEmpty
    val gen = if (built) log.latest(dest).gen + 1 else 0L
    val rows = tagged(df, fkCol, gen, buckets)
    val m = Manifest(JsonMethods.parse(rows.schema.json), fkCol, sortDesc,
      buckets, gen, None, Nil, Nil)
    val files = ManifestLog.stage(dest)(writeRows(rows, m.order, _))
    if (built) log.commitAt(dest, gen)(_ => m.copy(files = files))
    else ManifestLog.publish(dest, 0L, m.copy(files = files))
  }

  /** Append a NEW batch into an existing store — the
    * [[BM25Index.appendSegment]] lifecycle for the exact-match routes:
    * the batch is bucketed by the store's OWN key and bucket count and
    * sorted by its own order (all read from the manifest), staged, and
    * committed. Probes need no change — they read every listed file in
    * the key's bucket, base and appended alike. Per-batch cost is one
    * write; the store is never rewritten. When small appended files
    * accumulate, [[compact]] folds them back. Safe to race a compaction;
    * against a rebucket the side that commits second throws.
    */
  def appendTimeline(batch: DataFrame, dest: String): Unit =
    ingest(dest, Some(batch), None)

  /** Id-keyed OVERWRITE through the persisted store — the reference
    * indexer's `addBean`-with-existing-id semantics
    * (`SolrIndexer.java:47-59`: a re-posted id replaces the stored doc).
    * The batch's rows and its ids' tombstones are written at one fresh
    * generation and land in ONE commit, so a probe sees either the old
    * version or the new one, never both or neither. `idCol` identifies
    * the FACT row (e.g. the order/tweet id), not the key — an edited
    * fact replaces its predecessor inside whatever bucket it hashes to.
    * It is persisted in the manifest; all upserts of one store must
    * agree on it.
    */
  def upsertTimeline(batch: DataFrame, idCol: String, dest: String): Unit =
    ingest(dest, Some(batch), Some(idCol -> batch.select(col(idCol))))

  /** The one write path of append/upsert/delete: `rows` and `replace`'s
    * (identity column, ids) tombstones at the next generation, staged
    * and committed together. A family whose rows are derived from a batch
    * (one signature per doc) passes the batch's ids as `replace`.
    */
  private[graft] def ingest(dest: String, rows: Option[DataFrame],
                     replace: Option[(String, DataFrame)]): Unit = {
    val m = log.latest(dest)
    val gen = m.gen + 1
    val idCol = replace.map(_._1)
    idCol.foreach(c => require(m.idCol.forall(_ == c),
      s"store at $dest tombstones on '${m.idCol.get}'; cannot upsert by '$c'"))
    val (tombs, files) = ManifestLog.stage(dest) { tmp =>
      rows.foreach(r => writeRows(tagged(r, m.key, gen, m.buckets), m.order, tmp))
      replace.foreach { case (_, ids) =>
        Tombstones.write(ids, tmp, gen, Tombstones.StringKey) }
    }.partition(_.startsWith(Tombstones.Dir))
    log.commitAt(dest, gen) { cur =>
      if (cur.buckets != m.buckets) throw new IllegalStateException(
        s"store at $dest was rebucketed (${m.buckets} -> ${cur.buckets} " +
          "buckets) while this write was staged; it was not applied — " +
          "re-apply it")
      cur.copy(gen = gen, idCol = idCol.orElse(cur.idCol),
        files = cur.files ++ files, tombstones = cur.tombstones ++ tombs)
    }
  }

  /** Every live row of the store — the whole-table read of the stores
    * whose consumers scan all of it: every listed file, tombstones
    * applied, `__bucket` and `__gen` dropped.
    */
  def read(spark: SparkSession, dest: String): DataFrame = {
    val m = log.latest(dest)
    m.dropDead(spark, dest, m.scan(spark, dest, m.files), m.idCol.orNull)
      .drop("__bucket", "__gen")
  }

  /** All fact rows for one FK value: [[timelineProbeMany]] of one key. */
  def timelineProbe(spark: SparkSession, dest: String, fkCol: String,
                    value: Any, top: Option[LocalScan.Top] = None): DataFrame =
    timelineProbeMany(spark, dest, fkCol, Seq(value), top)

  /** [[probeRows]] as a local frame. */
  def timelineProbeMany(spark: SparkSession, dest: String, fkCol: String,
                        values: Seq[Any], top: Option[LocalScan.Top] = None): DataFrame =
    LocalScan.frame(spark, probeRows(spark, dest, fkCol, values, top))

  /** The fact rows of a SET of FK values (an entity resolving to several
    * keys — shards, aliases, merged accounts), read on the calling thread
    * as plain rows. The whole key set is routed by ONE evaluation of the
    * bucket function itself ([[route]]); ONLY the files the latest manifest
    * lists for those buckets are read, on the driver and through the
    * persisted schema, and inside them only the row groups whose min/max
    * statistics admit one of the keys ([[keyFilter]]) — the within-bucket
    * key sort keeps each key's rows in few row groups. A row is kept when
    * its key's string form is one of the values' and no listed tombstone
    * outranks it; with `top`, only its first rows are held while they
    * stream, so a key with many rows costs no more memory than the bound.
    * The rows hold the store's columns but `__bucket`, `__gen` and `drop`.
    * Building them lists no directory, infers nothing, builds no query and
    * starts no Spark job, so request cost is the matching row groups,
    * independent of the store's bucket count. A key set that routes to no
    * listed file (EMPTY, or keys no row hashed to) has no rows — served
    * and ad-hoc routes degrade identically. `fkCol` must be the store's
    * persisted key.
    */
  def probeRows(spark: SparkSession, dest: String, fkCol: String, values: Seq[Any],
                top: Option[LocalScan.Top] = None, drop: Seq[String] = Nil): LocalScan.Table = {
    val m = log.latest(dest)
    require(fkCol == m.key, s"store at $dest is keyed on '${m.key}', not '$fkCol'")
    val routed = route(spark, values, m.buckets)
    val keys = routed.map(_._2).toSet
    val layout = LocalScan.layout(m.rowSchema, Seq("__bucket"))
    val key = LocalScan.stringOf(spark, layout, fkCol)
    val dead = m.outranked(spark, dest)
    val id = m.idCol.map(LocalScan.stringOf(spark, layout, _))
    val gen = layout.fieldIndex("__gen")
    val hidden = Seq("__bucket", "__gen") ++ drop
    val served = layout.fieldNames.indices.filterNot(i => hidden.contains(layout(i).name))
    val rows = LocalScan.rows(spark, dest, m.rowSchema, "", Seq("__bucket"),
        routed.map(_._1).distinct.flatMap(m.inBucket), keyFilter(layout(fkCol), keys).toSeq, top)(
        r => keys(key(r)) && !id.exists(i => dead(i(r), r.getLong(gen))))
      .map(r => InternalRow.fromSeq(served.map(i => r.get(i, layout(i).dataType))))
    LocalScan.Table(StructType(served.map(layout(_))), rows)
  }

  /** The row-group filter of a probe of `keys` (string forms) on `field`:
    * the keys as values of the column's own type. A row whose string form
    * is a key holds the value the key parses to, so the filter admits
    * every row the probe keeps. None for a type without a parse here.
    */
  private def keyFilter(field: StructField, keys: Set[String]): Option[sources.Filter] = {
    val typed: Option[Seq[Any]] = field.dataType match {
      case StringType => Some(keys.toSeq)
      case LongType => Some(keys.toSeq.flatMap(_.toLongOption))
      case IntegerType => Some(keys.toSeq.flatMap(_.toIntOption))
      case _ => None
    }
    typed.filter(_.nonEmpty).map(vs => sources.In(field.name, vs.toArray))
  }

  /** Each key's bucket under [[bucketOf]] itself and its string form —
    * the one bucket definition, so the driver routes exactly where
    * [[tagged]] wrote. The two expressions are resolved once per thread,
    * session state, key type and bucket count ([[LocalScan.prepare]]),
    * then evaluated over the whole key set on plain values. A null key
    * matches no row.
    */
  private def route(spark: SparkSession, values: Seq[Any],
                    buckets: Int): Seq[(Int, String)] =
    if (values.forall(_ == null)) Nil
    else {
      val keys = values.filter(_ != null).map(Literal(_))
      val t = keys.head.dataType
      require(keys.forall(_.dataType == t),
        s"probe keys must share one type: ${keys.map(_.dataType).distinct}")
      LocalScan.prepare(spark, StructType(Seq(StructField("k", t))), "route" -> buckets)(
          Seq(bucketOf(col("k"), buckets), col("k").cast("string")))(keys.map(k => InternalRow(k.value)))
        .map(r => r.getInt(0) -> Option(r.getUTF8String(1)).map(_.toString).orNull)
    }

  def defaultDir(sfDir: String): String = {
    graft.util.StoreDirs.resolve("serving-store-v4", sfDir)
  }

  /** Build-if-stale: word-posting store over the documents table (the
    * q_hashtag_served layout — `doc_id/source/n_chars` posted under each
    * whitespace token, FIXTURES.md's stand-in for `tweetHashtags`).
    */
  def ensureDocPostings(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir) + "/doc_postings"
    val stamp = graft.util.Stamp.sourceStamp(sfDir)
    if (!graft.util.Stamp.isFresh(dest, stamp)) {
      buildPostings(
        graft.util.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("source"), col("n_chars"),
            split(col("text"), " ").as("__words")),
        col("__words"), dest, dropCols = Seq("__words"))
      graft.util.Stamp.write(dest, stamp)
    }
    dest
  }

  /** Build-if-stale: orders bucketed by o_custkey, date-sorted within —
    * the q_user_timeline_served FK-expansion layout.
    */
  def ensureOrdersTimeline(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir) + "/orders_by_cust"
    val stamp = graft.util.Stamp.sourceStamp(sfDir, "orders.parquet")
    if (!graft.util.Stamp.isFresh(dest, stamp)) {
      buildTimeline(graft.util.Tables.orders(spark, sfDir), "o_custkey",
        dest, sortDesc = Seq("o_orderdate"))
      graft.util.Stamp.write(dest, stamp)
    }
    dest
  }

  /** [[ensureDocPostings]]'s INCREMENTAL variant — the maintenance
    * lifecycle under the driver hash gate (the
    * [[BM25Index.ensureBuiltIncremental]] pattern): 80% of the corpus
    * (doc_id % 5 ≠ 0) is the base build, the rest arrives as an appended
    * batch, then the store compacts — and `q_hashtag_incr` probes it
    * with `q_hashtag_served`'s oracle VERBATIM, so append+compact ≡
    * one-shot is checked by the driver's hash compare, not just a spec.
    * The build starts a fresh store, so a stale generation can never
    * linger, and the job ends by reclaiming what its folds unlisted.
    */
  def ensureDocPostingsIncr(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir) + "/doc_postings_incr"
    val stamp = graft.util.Stamp.sourceStamp(sfDir)
    if (!graft.util.Stamp.isFresh(dest, stamp)) {
      def docs = graft.util.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          split(col("text"), " ").as("__words"))
      // deliberately built UNDER-bucketed, then rebucketed to the default
      // after the append+compact cycle — every lifecycle op (append,
      // selective hot-bucket compact, full-rewrite rebucket) sits in
      // front of the driver's hash compare. minFiles=2 makes every
      // appended-into bucket hot; the full-compact flavor is covered by
      // the rebucket (same rewrite) and the timeline chain.
      buildPostings(docs.filter(col("doc_id") % 5 =!= 0), col("__words"),
        dest, buckets = 16, dropCols = Seq("__words"))
      appendPostings(docs.filter(col("doc_id") % 5 === 0), col("__words"),
        dest, dropCols = Seq("__words"))
      compactHotBuckets(spark, dest, minFiles = 2)
      rebucket(spark, dest, DefaultBuckets)
      // the folds ran outside StoreAdmin.maintain, so no sweep reclaims
      // what they unlisted: this job does, now that no write is in flight
      StoreAdmin.reclaim(dest)
      graft.util.Stamp.write(dest, stamp)
    }
    dest
  }

  /** [[ensureOrdersTimeline]]'s incremental variant — same contract as
    * [[ensureDocPostingsIncr]] for the FK layout (`q_user_timeline_incr`
    * shares `q_user_timeline_served`'s oracle verbatim).
    */
  def ensureOrdersTimelineIncr(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir) + "/orders_by_cust_incr"
    val stamp = graft.util.Stamp.sourceStamp(sfDir, "orders.parquet")
    if (!graft.util.Stamp.isFresh(dest, stamp)) {
      def orders = graft.util.Tables.orders(spark, sfDir)
      buildTimeline(orders.filter(col("o_orderkey") % 5 =!= 0), "o_custkey",
        dest, sortDesc = Seq("o_orderdate"))
      appendTimeline(orders.filter(col("o_orderkey") % 5 === 0), dest)
      // the fold arrives via the one-call MAINTENANCE SWEEP, not a direct
      // compact call — so the driver's hash gate exercises the sweep's
      // policy decisions (hot-bucket selection here) every round
      graft.search.StoreAdmin.maintain(spark, sfDir, minFiles = 2)
      graft.util.Stamp.write(dest, stamp)
    }
    dest
  }

  /** The UPSERT lifecycle twin under the driver hash gate
    * (`q_hashtag_upsert`): the store is built from the ORIGINAL corpus,
    * then every doc_id % 7 == 0 doc arrives EDITED under its SAME id —
    * half lose the probed token, half gain it, and all change a served
    * column (n_chars + 1000000, so one stale row version anywhere is a
    * hash mismatch) — then the store fully compacts (tombstones folded)
    * and the job reclaims what the fold unlisted. The oracle queries the
    * edited corpus directly: upsert + compact ≡ rebuild-from-updated-
    * source, checked by the driver.
    */
  def ensureDocPostingsUpsert(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir) + "/doc_postings_upsert"
    val stamp = graft.util.Stamp.sourceStamp(sfDir)
    if (!graft.util.Stamp.isFresh(dest, stamp)) {
      val docs = graft.util.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
      buildPostings(
        docs.withColumn("__words", split(col("text"), " ")).drop("text"),
        col("__words"), dest, dropCols = Seq("__words"))
      val edited = editedDocs(docs).filter(col("doc_id") % 7 === 0)
      upsertPostings(
        edited.withColumn("__words", split(col("text"), " ")).drop("text"),
        "doc_id", col("__words"), dest, dropCols = Seq("__words"))
      compact(spark, dest)
      StoreAdmin.reclaim(dest)
      graft.util.Stamp.write(dest, stamp)
    }
    dest
  }

  /** The deterministic "edit" both the upsert twin and its oracle apply:
    * doc_id % 14 == 0 rewrites 'spark' away (the doc must VANISH from
    * the probe — its old posting is the delete half), % 14 == 7 appends
    * ' spark' (the doc must APPEAR — the add half), and every edited doc
    * shifts n_chars by +1000000 (any stale served version hash-fails).
    */
  private[search] def editedDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text",
        when(col("doc_id") % 14 === 0,
          regexp_replace(col("text"), "spark", "flink"))
          .when(col("doc_id") % 14 === 7, concat(col("text"), lit(" spark")))
          .otherwise(col("text")))
      .withColumn("n_chars",
        when(col("doc_id") % 7 === 0, col("n_chars") + 1000000)
          .otherwise(col("n_chars")))

  /** [[ensureDocPostingsUpsert]] for the FK layout
    * (`q_user_timeline_upsert`): every o_orderkey % 7 == 0 order is
    * re-posted under its same key with o_totalprice + 1000000, then the
    * store compacts — the probe must serve exactly the edited orders.
    */
  def ensureOrdersTimelineUpsert(spark: SparkSession, sfDir: String): String = {
    val dest = defaultDir(sfDir) + "/orders_by_cust_upsert"
    val stamp = graft.util.Stamp.sourceStamp(sfDir, "orders.parquet")
    if (!graft.util.Stamp.isFresh(dest, stamp)) {
      val orders = graft.util.Tables.orders(spark, sfDir)
      buildTimeline(orders, "o_custkey", dest, sortDesc = Seq("o_orderdate"))
      upsertTimeline(
        orders.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000000),
        "o_orderkey", dest)
      // via the sweep (tombstones present → it runs the FULL purge fold)
      graft.search.StoreAdmin.maintain(spark, sfDir, minFiles = 2)
      graft.util.Stamp.write(dest, stamp)
    }
    dest
  }

  /** Parquet data files the latest manifest lists (tombstone files are
    * maintenance metadata, not servable data).
    */
  def dataFileCount(dest: String): Int = log.latest(dest).files.size

  /** Parquet data files the latest manifest lists for one bucket. */
  def bucketFileCount(dest: String, bucket: Int): Int =
    log.latest(dest).inBucket(bucket).size

  /** True iff the latest manifest lists tombstones a probe must apply. */
  def hasTombstones(dest: String): Boolean = log.latest(dest).tombstones.nonEmpty

  /** [[graft.util.ManifestLog.unlisted]]: what a store's reclaim deletes. */
  private[search] def unlisted(dest: String): Seq[Path] = ManifestLog.unlisted(dest)

  /** The one fold behind [[compact]], [[compactHotBuckets]] and
    * [[rebucket]]. SNAPSHOT: the latest manifest. FOLD: every bucket
    * listing ≥ `minFiles` files (all buckets for `minFiles` 0) is read
    * through the persisted schema as ONE frame, filtered against the
    * snapshot's tombstones, re-tagged under the target bucket count
    * (`newBuckets`, else the current one) and written in ONE partitioned
    * job — one file per bucket in (key, sort) order — then staged into
    * the store. COMMIT ([[graft.util.ManifestLog.commitFold]]): the
    * folded files are unlisted and the new ones listed; a file a
    * concurrent write committed after the snapshot is neither read nor
    * unlisted, so it survives. The snapshotted tombstones are unlisted
    * only when every nonempty bucket was folded (otherwise cold buckets
    * still hold dead rows the probe filter must keep killing), so a
    * tombstone committed concurrently keeps applying. A rebucket also
    * throws when anything was committed after its snapshot. Work and
    * I/O are proportional to the folded buckets only. Returns the folded
    * bucket ids.
    */
  private def fold(spark: SparkSession, dest: String, minFiles: Int,
                   newBuckets: Option[Int] = None): Seq[Int] = {
    val snap = log.latest(dest)
    val hot = (0 until snap.buckets).filter(snap.inBucket(_).size >= minFiles)
    if (hot.nonEmpty) {
      val buckets = newBuckets.getOrElse(snap.buckets)
      val folded = hot.flatMap(snap.inBucket)
      val rows = snap.dropDead(spark, dest, snap.scan(spark, dest, folded),
          snap.idCol.orNull)
        .withColumn("__bucket", bucketOf(col(snap.key), buckets))
      val staged = ManifestLog.stage(dest)(writeRows(rows, snap.order, _))
      testHookBeforeCommit(dest)
      val whole = snap.files.diff(folded).isEmpty
      val op = if (newBuckets.isEmpty) "compact" else "rebucket"
      log.commitFold(dest, op, folded) { m =>
        if (newBuckets.isDefined && m.gen != snap.gen) throw new IllegalStateException(
          s"store at $dest was written after its rebucket's snapshot; the " +
            "rebucket was not applied — retry it")
        m.copy(buckets = buckets, files = m.files.diff(folded) ++ staged,
          tombstones =
            if (whole) m.tombstones.diff(snap.tombstones) else m.tombstones)
      }
    }
    hot
  }
}
