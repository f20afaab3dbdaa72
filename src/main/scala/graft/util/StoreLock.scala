package graft.util

import java.nio.file.Paths

/** Store-level maintenance lock — the engine's analogue of Lucene's
  * IndexWriter `write.lock` (the reference's serving tier inherits that
  * model from Solr: `SolrIndexer.java:152-158` posts batches against a
  * locked, background-merging index and a second writer fails loudly).
  * Here the lock serializes the writers and whole-table rewrites of the
  * IVF, PQ, IVF-PQ and IVF-SQ8 stores against each other: a collision is
  * an immediate [[IllegalStateException]] naming the holder, never
  * silent data loss. (The [[ManifestLog]] stores — the serving layouts,
  * the BM25 index and the SimHash, SRP, SRP-label and SQ8 stores — take
  * no lock: their commit decides every race.)
  *
  * The lock is a `_maintenance.lock` file inside the store directory,
  * created atomically (`CREATE_NEW`) and carrying `<op> <epochMillis>`.
  * Stale detection: a holder that crashed leaves its lock behind, so an
  * acquirer steals any lock older than `staleMs` (default 30 min — far
  * beyond any maintenance pass at the store sizes a single node holds;
  * scale it with the deployment's longest compaction). Stealing is safe
  * because the crashed rewrite left its store valid: an
  * [[AtomicRewrite]] store is either untouched (crash during the tmp
  * write) or stamp-invalidated (crash mid-swap), never half-swapped.
  *
  * Durability primitives (exclusive create, atomic rename) flow through
  * [[StoreFs]] — the ONE seam stating what the backing filesystem must
  * guarantee and what an S3-class object store breaks.
  */
object StoreLock {

  val LockFile = "_maintenance.lock"
  val DefaultStaleMs: Long = 30L * 60 * 1000

  /** Acquire the lock for `op`, stealing a stale one; throws
    * [[IllegalStateException]] (holder + age in the message) when a live
    * holder exists — the loud-failure contract. The steal is an ATOMIC
    * RENAME of the stale file, so exactly ONE of several concurrent
    * stealers wins; losers find either the winner's fresh lock or the
    * rename already done, and both paths end in the loud throw — a
    * naive delete+create steal would let a second stealer delete the
    * first's freshly minted lock and leave two live holders.
    */
  def acquire(dest: String, op: String,
              staleMs: Long = DefaultStaleMs): Unit = {
    StoreFs.createDirectories(Paths.get(dest))
    val f = Paths.get(dest, LockFile)
    try {
      StoreFs.createExclusive(f, s"$op ${System.currentTimeMillis()}")
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val content = try StoreFs.readString(f).trim catch {
          case _: java.io.IOException => ""
        }
        val parts = content.split(' ')
        val age = System.currentTimeMillis() -
          (if (parts.length > 1) parts(1).toLong else 0L)
        def reject(): Nothing = throw new IllegalStateException(
          s"store at $dest is locked by '${parts.head}' (${age} ms old); " +
            s"concurrent maintenance would lose data — retry after it ends")
        if (age <= staleMs) reject()
        // stale holder: crashed mid-maintenance; its swap ordering left
        // the store valid, so the lock is just debris —
        // but only ONE stealer may reap it
        val grave = Paths.get(dest,
          s"$LockFile.stale.${System.nanoTime()}.${Thread.currentThread().getId}")
        try {
          StoreFs.atomicMove(f, grave)
          StoreFs.deleteIfExists(grave)
        } catch {
          case _: java.io.IOException => reject() // a rival stole it first
        }
        try StoreFs.createExclusive(f, s"$op ${System.currentTimeMillis()}")
        catch {
          case _: java.nio.file.FileAlreadyExistsException => reject()
        }
    }
  }

  def release(dest: String): Unit =
    StoreFs.deleteIfExists(Paths.get(dest, LockFile))

  /** Run `body` holding the lock; always released, even on failure (the
    * swap ordering inside `body` is what makes a mid-body crash safe —
    * the lock only serializes live maintainers).
    */
  def withLock[A](dest: String, op: String,
                  staleMs: Long = DefaultStaleMs)(body: => A): A = {
    acquire(dest, op, staleMs)
    try body finally release(dest)
  }
}
