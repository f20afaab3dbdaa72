package graft.util

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE implementation of the engine's tombstone contract, shared by
  * every store family that overwrites or deletes by id: a `(__id, __gen)`
  * side table under `_tombstones/`, rows carrying the `__gen` that wrote
  * them (build = 0), a tombstone killing STRICTLY-older generations of
  * its id (so an upsert's own rows survive the tombstone written with
  * them, a crash between tombstone and re-add converges on retry, and a
  * later upsert's tombstone wins), probe-side broadcast anti-join only
  * when the table holds data.
  *
  * The manifest-committed stores — [[graft.search.ServingStores]] (and
  * the SimHash, SRP, SRP-label and SQ8 stores built on it) and the BM25
  * index — keep their generation counter and tombstone file list in
  * their manifest ([[ManifestLog]]) and [[kill]] against that list (a
  * key-routed read on the driver applies the same rule, [[outranked]]); a
  * fold unlists the tombstones it applied and the reclaim after it
  * deletes them. The IVF, PQ, IVF-PQ and IVF-SQ8 stores still keep a
  * `_gen.txt` counter ([[nextGen]]), hold the store's [[StoreLock]]
  * around writes (their compaction is a whole-table rewrite — collisions
  * must fail loudly), read the table as listed right now ([[dropDead]])
  * and purge + [[clear]] it at compact. `keyType` is the id column's type
  * (vector ids are longs, document ids are strings) — both sides of the
  * kill join cast to it, so key comparison can never be
  * stringly-vs-numerically inconsistent.
  */
object Tombstones {

  /** The tombstone table's directory name under a store. */
  val Dir = "_tombstones"

  private val GenFile = "_gen.txt"

  private[graft] def schema(keyType: DataType) = StructType(Seq(
    StructField("__id", keyType), StructField("__gen", LongType)))

  def clear(dest: String): Unit = {
    StoreFs.deleteRecursively(Paths.get(dest, Dir))
    StoreFs.deleteIfExists(Paths.get(dest, GenFile))
  }

  /** Monotonic store generation (single-writer contract). Metadata IO
    * rides the [[StoreFs]] seam — the read-inc-write is safe under the
    * store lock every writer holds, and an object-store binding inherits
    * it without a call-site hunt.
    */
  def nextGen(dest: String): Long = {
    val f = Paths.get(dest, GenFile)
    val g = (if (StoreFs.exists(f)) StoreFs.readString(f).trim.toLong else 0L) + 1
    StoreFs.createDirectories(f.getParent)
    StoreFs.writeString(f, g.toString)
    g
  }

  /** Append the ids' tombstones at `gen` (first column of `ids`, cast to
    * `keyType`, distinct).
    */
  def write(ids: DataFrame, dest: String, gen: Long,
            keyType: DataType = LongType): Unit =
    ids.select(col(ids.columns.head).cast(keyType).as("__id")).distinct()
      .withColumn("__gen", lit(gen))
      .coalesce(1).write.mode("append").parquet(s"$dest/$Dir")

  /** Drop rows a tombstone in the files `snap` outranks; `rows` must
    * carry `__gen`. No-op (no join) for an empty list.
    */
  def kill(spark: SparkSession, snap: Seq[Path], rows: DataFrame,
           idCol: String, keyType: DataType): DataFrame =
    if (snap.isEmpty) rows
    else {
      val tb = spark.read.schema(schema(keyType))
        .parquet(snap.map(_.toString): _*)
      rows.join(broadcast(tb),
        rows(idCol).cast(keyType) === tb("__id") &&
          rows("__gen") < tb("__gen"), "left_anti")
    }

  /** [[kill]]'s rule on plain values, for tombstone rows `(__id, __gen)`
    * read on the driver with string ids: a row of id `i` at generation `g`
    * is dead iff some tombstone of `i` has a generation above `g`.
    */
  def outranked(tombs: Seq[InternalRow]): (String, Long) => Boolean = {
    val newest = tombs.filterNot(_.isNullAt(0))
      .groupMapReduce(_.getUTF8String(0).toString)(_.getLong(1))(math.max)
    (id, gen) => id != null && newest.get(id).exists(_ > gen)
  }

  /** [[kill]] against the tombstone table's data files right now. No-op
    * (no join) when the store has never seen an upsert/delete.
    */
  def dropDead(spark: SparkSession, dest: String, rows: DataFrame,
               idCol: String, keyType: DataType = LongType): DataFrame =
    kill(spark, StoreFs.parquetFiles(Paths.get(dest, Dir)), rows, idCol, keyType)

  /** Strings for stores whose ids are documents, not vectors. */
  val StringKey: DataType = StringType
}
