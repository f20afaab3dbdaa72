package graft.similarity

import java.nio.file.Paths

import graft.util.StoreFs

/** Persisted ANN-store build hyperparameters — `params.txt` (one
  * `key=value` integer per line) written by the IVF, PQ, IVF-PQ and
  * IVF-SQ8 stores' `buildAt` BEFORE any artifact, read back by every
  * probe/append/compact path. The SRP, SRP-label and SQ8 stores have no
  * `params.txt`: they are [[graft.search.ServingStores]] timeline stores,
  * whose manifest persists their one build parameter, the bucket count.
  *
  * Why a file and not object constants: the hyperparameters are part of
  * the INDEX IDENTITY, exactly like the codebook's persisted `ord` map
  * (the round-13 precedent) — an appender or prober that assumed a
  * different `m`/`ksub`/`nCentroids` than the builder would silently
  * corrupt codes or mis-prune partitions. Persisting them in the store
  * makes disagreement impossible: there is one source of truth and it
  * travels with the artifacts. It is also the scale path the family
  * scaladoc prescribes (k ∝ N for IVF centroid counts) — a 100-TB
  * corpus picks nCentroids per corpus size at BUILD time, and every
  * later operation reads the choice back instead of re-deriving it.
  *
  * Absence is an error, never a silent default: a store without
  * `params.txt` predates this contract (or lost the file) and must be
  * rebuilt — serving it under guessed parameters is the exact
  * disagreement this file exists to prevent. defaultDir version bumps
  * orphan stores whose layout predates their current contract
  * (pq-store-v3 for params; ivf-store-v3 / ivfpq-store-v4 for the
  * bucketed forward tables) so `ensureBuilt` rebuilds them.
  */
object AnnMeta {

  val File = "params.txt"

  // metadata IO rides the [[StoreFs]] seam, like every other store
  // metadata file
  def write(dest: String, kv: (String, Int)*): Unit = {
    StoreFs.createDirectories(Paths.get(dest))
    StoreFs.writeString(Paths.get(dest, File),
      kv.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n"))
  }

  def read(dest: String): Map[String, Int] = {
    val p = Paths.get(dest, File)
    require(StoreFs.exists(p),
      s"ANN store at $dest has no ${File} — built before the persisted-" +
        "hyperparameter contract (or the file was lost); rebuild the store")
    StoreFs.readString(p).linesIterator
      .map(_.trim).filter(_.nonEmpty)
      .map { line =>
        // guarded parse: a malformed line names the store and the line,
        // like the missing-file/missing-key errors — never an opaque
        // MatchError/NumberFormatException without the path context
        line.split("=", 2) match {
          case Array(k, v) if v.toIntOption.isDefined => k -> v.toInt
          case _ => throw new IllegalArgumentException(
            s"ANN store at $dest: malformed ${File} line '$line' " +
              "(expected key=<int>) — corrupt metadata; rebuild the store")
        }
      }.toMap
  }

  /** One required key, with the store path in the failure message. */
  def readKey(dest: String, key: String): Int = {
    val m = read(dest)
    require(m.contains(key), s"ANN store at $dest: ${File} lacks '$key'" +
      s" (has ${m.keys.mkString(", ")}) — mixed-version store; rebuild")
    m(key)
  }
}
