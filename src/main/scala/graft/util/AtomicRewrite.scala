package graft.util

import java.nio.file.Paths

/** Crash-safe full-rewrite swap for the stamp-guarded artifact stores
  * that are not yet manifest-committed — IVF, PQ, IVF-PQ and IVF-SQ8
  * (the SimHash, SRP, SRP-label and SQ8 stores commit through
  * [[ManifestLog]] as [[graft.search.ServingStores]] timeline stores
  * instead). Each step's new generation
  * is materialized into a sibling `<path>-rewrite-tmp` FIRST, then the
  * store's `source_stamp.txt` is removed (invalidating it for every
  * build-if-stale caller), all steps are swapped, and the stamp is
  * restored LAST. A crash during write leaves the store untouched and
  * valid; a crash anywhere mid-swap leaves the store without its stamp —
  * `Stamp.isFresh` fails and the next `ensureBuilt` rebuilds, so a
  * mixed-generation store (one sub-table new, another old) can never be
  * served. Rewrites do not change which source the store was built from,
  * so the stamp's VALUE survives.
  *
  * Swap primitives (rename, recursive delete) flow through [[StoreFs]]
  * — on an object store without atomic rename this whole protocol must
  * become a manifest-pointer commit (contract stated there).
  */
object AtomicRewrite {

  /** Rewrite several sub-paths of one stamped store in a single
    * stamp-guarded transaction: `steps` maps each target path to the
    * writer that materializes its replacement at the tmp location it is
    * given. All tmps are written before anything is deleted.
    *
    * `inTxn` runs after the swaps but BEFORE the stamp is restored —
    * side-band state that must change atomically-with the rewrite goes
    * here (a compaction's tombstone clear: the folded rows are rewritten
    * at generation 0, so a surviving gen ≥ 1 tombstone would anti-join
    * away live compacted rows; running the clear outside the guard left
    * exactly that window open after a crash between swap and clear).
    * A crash anywhere inside the transaction — including mid-`inTxn` —
    * leaves the store stampless, so the next `ensureBuilt` rebuilds.
    */
  def rewriteMany(stampDir: String, steps: Seq[(String, String => Unit)],
                  inTxn: () => Unit = () => ()): Unit = {
    val stampFile = Paths.get(stampDir, "source_stamp.txt")
    val stamp = if (StoreFs.exists(stampFile))
                  Some(StoreFs.readString(stampFile))
                else None
    val tmps = steps.map { case (path, write) =>
      val tmp = path.stripSuffix("/") + "-rewrite-tmp"
      StoreFs.deleteRecursively(Paths.get(tmp))
      write(tmp)
      path -> tmp
    }
    StoreFs.deleteIfExists(stampFile)
    tmps.foreach { case (path, tmp) =>
      StoreFs.deleteRecursively(Paths.get(path))
      StoreFs.move(Paths.get(tmp), Paths.get(path))
    }
    inTxn()
    stamp.foreach(StoreFs.writeString(stampFile, _))
  }

  /** Single-path convenience form of [[rewriteMany]]. */
  def rewrite(stampDir: String, path: String, inTxn: () => Unit = () => ())
             (write: String => Unit): Unit =
    rewriteMany(stampDir, Seq(path -> write), inTxn)

}
