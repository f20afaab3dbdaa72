package graft.util

import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

/** THE filesystem seam for every persisted-store metadata and swap
  * primitive — locks ([[StoreLock]]), stamps ([[Stamp]]), atomic
  * rewrites ([[AtomicRewrite]]), the serving layouts' fold/rebucket
  * swaps, and the BM25 compaction swap all flow through here, so the
  * engine's durability story is stated ONCE and auditable in one place.
  *
  * == The contract the backing store must guarantee ==
  *
  *  1. '''Exclusive create''' ([[createExclusive]]): creating a file
  *     that already exists FAILS, atomically — two concurrent creators
  *     see exactly one winner. This is what makes [[StoreLock]] a lock.
  *  2. '''Atomic rename''' ([[atomicMove]], [[move]]): a rename is
  *     all-or-nothing and never observable half-done; over an existing
  *     target it either replaces atomically or fails — it cannot merge.
  *     The stale-lock steal and every artifact swap ride on this.
  *  3. '''Read-after-write visibility''' for metadata files (stamps,
  *     generation counters, bucket counts): a reader that starts after
  *     a writer finishes sees the new content.
  *
  * POSIX local filesystems and HDFS satisfy all three (HDFS `create`
  * without overwrite + atomic same-directory `rename`). '''S3-class
  * object stores satisfy NONE of them natively''': PUT is
  * last-writer-wins (no exclusive create), "rename" is a non-atomic
  * copy+delete, and bucket listings can lag. Running the store families
  * directly against S3 would break, concretely:
  *
  *  - [[StoreLock]] degrades to no lock at all — both writers' PUTs
  *    succeed, and the rewrite race the lock exists to make LOUD
  *    (a whole-table fold destroying a concurrent append) comes back
  *    as silent data loss. (S3 now offers conditional PUT
  *    (`If-None-Match`), which restores primitive 1 — an S3 StoreFs
  *    would use it; without it, route locks through DynamoDB or
  *    similar, which is exactly what HBase/Delta do there.)
  *  - [[AtomicRewrite]]'s swap window stops being "crash leaves store
  *    stampless": a copy+delete "rename" can crash half-copied, leaving
  *    a MIXED directory the stamp logic cannot detect. On object
  *    stores, swap-by-rename must become swap-by-manifest-pointer
  *    (write new objects under a fresh prefix, then one atomic pointer
  *    update — the Iceberg/Delta commit model).
  *
  * Deploying on such a store therefore means ONE new implementation of
  * these primitives behind this seam (conditional-PUT locks,
  * manifest-pointer swaps), not a hunt through every store family —
  * that is the point of the seam. The default implementation below is
  * java.nio over the local filesystem, which local[32] and any
  * POSIX/HDFS cluster mount use as-is; every spec in the suite runs
  * against the seam through it.
  */
object StoreFs {

  /** The contract primitives as an interface, so a deployment (or a
    * spec) swaps ONE implementation instead of hunting call sites. The
    * non-primitive helpers below (exists/list/delete/…) are plain
    * metadata plumbing every store needs; they live on the same trait
    * so an object-store implementation owns its listing semantics too.
    */
  trait Fs {
    def createExclusive(p: Path, content: String): Unit
    def atomicMove(src: Path, dst: Path): Unit
    def move(src: Path, dst: Path): Unit
    def readString(p: Path): String
    def writeString(p: Path, s: String): Unit
    def exists(p: Path): Boolean
    def isDirectory(p: Path): Boolean
    def createDirectories(p: Path): Unit
    def deleteIfExists(p: Path): Unit
    def list(p: Path): Seq[Path]
    def deleteRecursively(p: Path): Unit
    def size(p: Path): Long
    def mtimeMillis(p: Path): Long
  }

  /** java.nio over the local filesystem — satisfies all three contract
    * guarantees on POSIX and on an HDFS mount.
    */
  object LocalFs extends Fs {
    def createExclusive(p: Path, content: String): Unit =
      Files.writeString(p, content,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    def atomicMove(src: Path, dst: Path): Unit =
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    def move(src: Path, dst: Path): Unit = { Files.move(src, dst); () }
    def readString(p: Path): String = Files.readString(p)
    def writeString(p: Path, s: String): Unit = { Files.writeString(p, s); () }
    def exists(p: Path): Boolean = Files.exists(p)
    def isDirectory(p: Path): Boolean = Files.isDirectory(p)
    def createDirectories(p: Path): Unit = { Files.createDirectories(p); () }
    def deleteIfExists(p: Path): Unit = { Files.deleteIfExists(p); () }
    def list(p: Path): Seq[Path] =
      if (!Files.isDirectory(p)) Nil
      else {
        val s = Files.list(p)
        try s.toArray.map(_.asInstanceOf[Path]).toSeq finally s.close()
      }
    def deleteRecursively(p: Path): Unit =
      if (Files.exists(p)) {
        val s = Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        finally s.close()
      }
    def size(p: Path): Long = Files.size(p)
    def mtimeMillis(p: Path): Long = Files.getLastModifiedTime(p).toMillis
  }

  @volatile private var current: Fs = LocalFs

  /** Scope a different implementation (a spec's recording/degraded
    * double, or a real object-store binding) over `body`. Test-only in
    * this repo — the suite runs suites sequentially in one forked JVM,
    * so the scoped swap cannot leak into a concurrent suite.
    */
  private[graft] def withFs[A](fs: Fs)(body: => A): A = {
    val prev = current
    current = fs
    try body finally current = prev
  }

  /** Contract primitive 1: atomic fail-if-exists create. */
  def createExclusive(p: Path, content: String): Unit =
    current.createExclusive(p, content)

  /** Contract primitive 2, exclusive form: atomic rename, exactly one
    * of several concurrent movers of the same source wins; losers get
    * an IOException.
    */
  def atomicMove(src: Path, dst: Path): Unit = current.atomicMove(src, dst)

  /** Contract primitive 2, plain form (swap step: target absent by
    * protocol — the swap deletes it first).
    */
  def move(src: Path, dst: Path): Unit = current.move(src, dst)

  def readString(p: Path): String = current.readString(p)

  def writeString(p: Path, s: String): Unit = current.writeString(p, s)

  def exists(p: Path): Boolean = current.exists(p)

  def isDirectory(p: Path): Boolean = current.isDirectory(p)

  def createDirectories(p: Path): Unit = current.createDirectories(p)

  def deleteIfExists(p: Path): Unit = current.deleteIfExists(p)

  /** Child paths of a directory (empty for a non-directory). */
  def list(p: Path): Seq[Path] = current.list(p)

  /** Parquet data files directly under `dir` (no subdirectories, no
    * `_`/`.`-prefixed commit or checksum files).
    */
  def parquetFiles(dir: Path): Seq[Path] =
    list(dir).filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".") &&
        !isDirectory(p)
    }

  def deleteRecursively(p: Path): Unit = current.deleteRecursively(p)

  def size(p: Path): Long = current.size(p)

  def mtimeMillis(p: Path): Long = current.mtimeMillis(p)
}
