package graft.util

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE implementation of the engine's tombstone contract, shared by
  * every store family that overwrites or deletes by id (SimHash
  * signatures, the SRP / IVF / PQ / SQ8 ANN stores, the serving layouts
  * and the BM25 index): a `(__id, __gen)` side table under
  * `_tombstones/`, rows carrying the `__gen` that wrote them (`_gen.txt`
  * counter, build = 0), a tombstone killing STRICTLY-older generations
  * of its id (so an upsert's own rows survive the tombstone written with
  * them, a crash between tombstone and re-add converges on retry, and a
  * later upsert's tombstone wins), probe-side broadcast anti-join only
  * when the table holds data, physical purge + clear at each store's
  * compact. Writers hold the store's [[StoreLock]] where the store's
  * compaction is a whole-table rewrite (no segment model — collisions
  * must fail loudly). `keyType` is the id column's type (vector ids are
  * longs, document ids are strings) — both sides of the kill join cast
  * to it, so key comparison can never be stringly-vs-numerically
  * inconsistent.
  */
object Tombstones {

  private val Dir = "_tombstones"

  /** The generation counter's file name — stores that wipe their
    * directory around a swap keep it (surviving rows keep their `__gen`,
    * so later tombstones must still outrank them).
    */
  val GenFile = "_gen.txt"

  private def schema(keyType: DataType) = StructType(Seq(
    StructField("__id", keyType), StructField("__gen", LongType)))

  def has(dest: String): Boolean = snapshot(dest).nonEmpty

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

  /** The tombstone table's data files right now. A segment-model
    * compaction applies exactly this list ([[kill]]) and then deletes
    * exactly these files, so a tombstone written after the snapshot
    * keeps applying.
    */
  def snapshot(dest: String): Seq[Path] =
    StoreFs.parquetFiles(Paths.get(dest, Dir))

  /** Drop rows a tombstone in `snap` outranks; `rows` must carry `__gen`.
    * No-op (no join) for an empty snapshot.
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

  /** [[kill]] against the current tombstones. No-op (no join) when the
    * store has never seen an upsert/delete.
    */
  def dropDead(spark: SparkSession, dest: String, rows: DataFrame,
               idCol: String, keyType: DataType = LongType): DataFrame =
    kill(spark, snapshot(dest), rows, idCol, keyType)

  /** Strings for stores whose ids are documents, not vectors. */
  val StringKey: DataType = StringType
}
