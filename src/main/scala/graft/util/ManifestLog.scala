package graft.util

import java.nio.file.{FileAlreadyExistsException, Path, Paths}
import java.util.UUID

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s.{DefaultFormats, Formats, JArray, JString}
import org.json4s.jackson.JsonMethods

/** The ONE commit protocol of the manifest-committed stores —
  * [[graft.search.ServingStores]] and [[graft.search.BM25Index]] —
  * after Lucene's `segments_N` commit point and the Delta Lake log
  * (Armbrust et al., VLDB 2020).
  *
  * A store's whole state is its latest manifest, `_manifest/<N>.json`
  * (N zero-padded). Readers list `_manifest/`, read the highest N and
  * open exactly the files it names. Every write takes one path:
  * [[stage]] (Spark writes into a fresh `_staging-<uuid>-rewrite-tmp`
  * dir inside the store, then each staged parquet file moves, unlisted,
  * to the same relative path in the store under its unique part name),
  * then [[ManifestLog.commit]] (version N+1, published with one
  * exclusive, content-complete [[StoreFs.createExclusive]]).
  *
  * == The race rules (the commit is the only concurrency mechanism) ==
  *
  * No lock and no entry check: concurrent writers, folds and readers
  * are ordered by the commit alone, as in Delta's optimistic
  * concurrency. A commit re-reads the latest manifest, re-checks its
  * precondition there and retries a lost version race; when the
  * precondition fails, the side that commits SECOND throws an
  * [[IllegalStateException]] and its staged files are never served.
  *  - A write (append, upsert, delete) commits through
  *    [[ManifestLog.commitAt]]: the writer that commits a generation
  *    already committed throws.
  *  - A fold (compaction, rebucket) commits through
  *    [[ManifestLog.commitFold]]: it throws when a file it read is no
  *    longer listed — a concurrent fold committed first — and keeps
  *    everything committed after its snapshot.
  *  - A commit never deletes a file, so a reader always serves the whole
  *    version it opened. [[graft.search.StoreAdmin.reclaim]], run between
  *    jobs like Delta's VACUUM, is the only code that deletes a store's
  *    files: the [[unlisted]] ones and the directories they leave empty.
  *
  * Every manifest names its files in two top-level lists of
  * store-relative paths, `files` (data) and `tombstones`, so
  * [[unlisted]] reads any family's manifest; the rest of the JSON is the
  * family's own.
  */
object ManifestLog {

  val Dir = "_manifest"

  /** What the protocol needs of a family's manifest: the last write
    * generation, the listed files and its JSON form.
    */
  trait Entry {
    def gen: Long
    def files: Seq[String]
    def tombstones: Seq[String]
    def json: String

    /** [[Tombstones.kill]] against the listed tombstones (string ids). */
    def dropDead(spark: SparkSession, dest: String, rows: DataFrame,
                 idCol: String): DataFrame =
      Tombstones.kill(spark, tombstones.map(Paths.get(dest, _)), rows, idCol,
        Tombstones.StringKey)

    /** [[dropDead]]'s rule for rows read on the driver: the listed
      * tombstones, read on the calling thread, as a test of a row's id
      * (string form) and generation. A listed tombstone file never
      * changes, so the test is read once per store and tombstone list
      * ([[outrankedBy]]) and every later probe of that version reuses it.
      */
    def outranked(spark: SparkSession, dest: String): (String, Long) => Boolean = {
      val store = Paths.get(dest).toAbsolutePath.normalize.toString
      outrankedBy.get(store).collect { case (listed, test) if listed == tombstones => test }
        .getOrElse {
          val test = Tombstones.outranked(LocalScan.rows(spark, dest,
            Tombstones.schema(Tombstones.StringKey), "", Nil, tombstones)())
          outrankedBy.put(store, tombstones -> test)
          test
        }
    }
  }

  /** Per store directory, the tombstone list last read and its test. */
  private val outrankedBy = TrieMap.empty[String, (Seq[String], (String, Long) => Boolean)]

  /** A JSON array of strings, the form of `files` and `tombstones`. */
  def strings(xs: Seq[String]): JArray = JArray(xs.map(JString(_)).toList)

  private val VersionName = """(\d+)\.json""".r

  def file(dest: String, version: Long): Path =
    Paths.get(dest, Dir, f"$version%020d.json")

  def versions(dest: String): Seq[Long] =
    StoreFs.list(Paths.get(dest, Dir)).map(_.getFileName.toString)
      .collect { case VersionName(n) => n.toLong }

  /** Publish `m` as `version`: exclusive, content-atomic create. */
  def publish(dest: String, version: Long, m: Entry): Unit = {
    StoreFs.createDirectories(Paths.get(dest, Dir))
    StoreFs.createExclusive(file(dest, version), m.json)
  }

  /** Run `write` against a fresh staging dir inside the store, then move
    * every staged parquet file to the same relative path in the store —
    * unlisted until a commit names it. Returns the moved files'
    * store-relative paths.
    */
  def stage(dest: String)(write: String => Unit): Seq[String] = {
    val tmp = Paths.get(dest, s"_staging-${UUID.randomUUID()}-rewrite-tmp")
    try {
      write(tmp.toString)
      parquetTree(tmp).map { f =>
        val rel = tmp.relativize(f)
        StoreFs.createDirectories(Paths.get(dest).resolve(rel).getParent)
        StoreFs.move(f, Paths.get(dest).resolve(rel))
        rel.toString
      }
    } finally StoreFs.deleteRecursively(tmp)
  }

  /** The listed `files` through `schema`, partition columns read from
    * their directory names below `base`; no files is a typed empty frame.
    * Lists no directory and infers nothing.
    */
  def scan(spark: SparkSession, dest: String, schema: StructType, base: String,
           files: Seq[String]): DataFrame =
    if (files.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(schema).option("basePath", Paths.get(dest, base).toString)
      .parquet(files.map(Paths.get(dest, _).toString): _*)

  /** Parquet files under `dir` at any depth, outside staging dirs. */
  private def parquetTree(dir: Path): Seq[Path] =
    StoreFs.parquetFiles(dir) ++ StoreFs.list(dir)
      .filter(d => StoreFs.isDirectory(d) &&
        !d.getFileName.toString.endsWith("-rewrite-tmp"))
      .flatMap(parquetTree)

  /** Every parquet file and manifest version under `dest` that the
    * latest manifest does not name: what commits left behind (folded-away
    * files, superseded versions) and what a failed or crashed write moved
    * in without committing. Empty for a store with no committed version.
    */
  def unlisted(dest: String): Seq[Path] = versions(dest).maxOption.toSeq.flatMap { v =>
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(StoreFs.readString(file(dest, v)))
    val named = Seq("files", "tombstones").flatMap(f => (j \ f).extract[List[String]])
      .map(Paths.get(dest, _)).toSet + file(dest, v)
    (parquetTree(Paths.get(dest)) ++ StoreFs.list(Paths.get(dest, Dir))).filterNot(named)
  }
}

/** One store family's side of the log: `family` names the store in
  * errors, `parse` reads one of its manifests.
  */
final class ManifestLog[M <: ManifestLog.Entry](family: String, parse: String => M) {

  /** Per store directory, the text of the manifest last read and its
    * parse. Keyed on the text, not the version: a store deleted and built
    * again commits version 0 again.
    */
  private val parsed = new Bounded[String, (String, M)](1024)

  private def read(dest: String): (Long, M) = {
    val vs = ManifestLog.versions(dest)
    if (vs.isEmpty) throw new IllegalStateException(
      s"$family at $dest has no manifest in ${Paths.get(dest, ManifestLog.Dir)} " +
        "— never built, or built under an older layout; rebuild it")
    val text = StoreFs.readString(ManifestLog.file(dest, vs.max))
    val store = Paths.get(dest).toAbsolutePath.normalize.toString
    val hit = parsed.get(store).collect { case (t, m) if t == text => m }
    (vs.max, hit.getOrElse {
      val m = parse(text)
      parsed.put(store, text -> m)
      m
    })
  }

  /** The store's latest manifest; a store without one fails loudly. */
  def latest(dest: String): M = read(dest)._2

  /** Publish `edit` applied to the latest manifest as the next version
    * and return it. When a concurrent commit took that version first,
    * re-read and re-apply — `edit` re-checks its precondition against
    * what is now latest and throws when it no longer holds.
    */
  def commit(dest: String)(edit: M => M): M = {
    val (v, cur) = read(dest)
    val next = edit(cur)
    try { ManifestLog.publish(dest, v + 1, next); next }
    catch { case _: FileAlreadyExistsException => commit(dest)(edit) }
  }

  /** [[commit]] of a write staged at generation `gen`: the generation is
    * read-inc-committed, so the writer that commits a generation already
    * committed throws, and its staged files are never served.
    */
  def commitAt(dest: String, gen: Long)(edit: M => M): M = commit(dest) { cur =>
    if (cur.gen >= gen) throw new IllegalStateException(
      s"generation $gen of $family at $dest was committed by a concurrent " +
        "writer; this write was not applied — re-apply it")
    edit(cur)
  }

  /** [[commit]] of a fold that read the listed files `folded` from its
    * snapshot: it commits only if every one of them is still listed, so
    * of two folds over the same files the second to commit throws.
    */
  def commitFold(dest: String, op: String, folded: Seq[String])(edit: M => M): M =
    commit(dest) { cur =>
      if (folded.diff(cur.files).nonEmpty) throw new IllegalStateException(
        s"$family at $dest changed under its $op (a file it folded is no " +
          s"longer listed); the $op was not applied — retry it")
      edit(cur)
    }
}
