package graft.util

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The [[StoreFs]] seam is real, and its contract is LOAD-BEARING:
  * (1) the durability primitives actually flow through the seam (a
  * recording double observes every lock acquire, stale steal, and swap
  * step — no store code path reaches around it to java.nio), and
  * (2) the documented degradation on a store that lacks primitive 1 is
  * reproducible: with last-writer-wins PUT semantics instead of
  * exclusive create, two "lock" acquires both succeed — the silent
  * double-writer the scaladoc warns S3 would allow — while the local
  * implementation makes the second fail loudly.
  */
class StoreFsSpec extends AnyFunSuite {

  /** Delegates everything to LocalFs, counting calls by primitive. */
  private class Recording extends StoreFs.Fs {
    val calls = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    private def tick[A](name: String)(a: => A): A = synchronized {
      calls(name) += 1; a
    }
    def createExclusive(p: Path, content: String): Unit =
      tick("createExclusive")(StoreFs.LocalFs.createExclusive(p, content))
    def atomicMove(src: Path, dst: Path): Unit =
      tick("atomicMove")(StoreFs.LocalFs.atomicMove(src, dst))
    def move(src: Path, dst: Path): Unit =
      tick("move")(StoreFs.LocalFs.move(src, dst))
    def readString(p: Path): String =
      tick("readString")(StoreFs.LocalFs.readString(p))
    def writeString(p: Path, s: String): Unit =
      tick("writeString")(StoreFs.LocalFs.writeString(p, s))
    def exists(p: Path): Boolean = StoreFs.LocalFs.exists(p)
    def isDirectory(p: Path): Boolean = StoreFs.LocalFs.isDirectory(p)
    def createDirectories(p: Path): Unit = StoreFs.LocalFs.createDirectories(p)
    def deleteIfExists(p: Path): Unit =
      tick("deleteIfExists")(StoreFs.LocalFs.deleteIfExists(p))
    def list(p: Path): Seq[Path] = StoreFs.LocalFs.list(p)
    def deleteRecursively(p: Path): Unit = StoreFs.LocalFs.deleteRecursively(p)
    def size(p: Path): Long = StoreFs.LocalFs.size(p)
    def mtimeMillis(p: Path): Long = StoreFs.LocalFs.mtimeMillis(p)
  }

  test("locks, stale steals, stamps, and swaps all flow through the seam") {
    val fs = new Recording
    StoreFs.withFs(fs) {
      val store = Files.createTempDirectory("graft-storefs").toString
      // lock acquire + release
      StoreLock.withLock(store, "probe") { () }
      assert(fs.calls("createExclusive") == 1, "lock acquire bypassed the seam")
      // stale steal: plant an ancient lock, re-acquire
      Files.writeString(Paths.get(store, StoreLock.LockFile), "dead 12345")
      StoreLock.withLock(store, "steal") { () }
      assert(fs.calls("atomicMove") == 1, "stale steal bypassed the seam")
      // 3: first acquire + the steal's FAILED initial attempt (the planted
      // lock exists, so CREATE_NEW throws — still a seam call) + re-mint
      assert(fs.calls("createExclusive") == 3)
      // stamp write + check
      Stamp.write(store, "stampv")
      assert(Stamp.isFresh(store, "stampv"))
      assert(fs.calls("writeString") >= 1 && fs.calls("readString") >= 1,
        "stamp IO bypassed the seam")
      // stamp-guarded swap
      Files.createDirectories(Paths.get(store, "data"))
      Files.writeString(Paths.get(store, "data", "v.txt"), "old")
      AtomicRewrite.rewrite(store, s"$store/data") { tmp =>
        Files.createDirectories(Paths.get(tmp))
        Files.writeString(Paths.get(tmp, "v.txt"), "new")
      }
      assert(fs.calls("move") >= 1, "swap rename bypassed the seam")
      assert(Files.readString(Paths.get(store, "data", "v.txt")) == "new")
      assert(Stamp.isFresh(store, "stampv"), "swap lost the stamp")
    }
  }

  test("contract primitive 1 is load-bearing: PUT semantics (no exclusive " +
      "create) turn the lock into two silent holders — the documented " +
      "S3 degradation; LocalFs makes the second acquire throw") {
    // last-writer-wins create: what a plain object-store PUT gives you
    val putFs = new Recording {
      override def createExclusive(p: Path, content: String): Unit =
        StoreFs.LocalFs.writeString(p, content) // no CREATE_NEW — PUT wins
    }
    val store = Files.createTempDirectory("graft-storefs-put").toString
    StoreFs.withFs(putFs) {
      StoreLock.acquire(store, "writer-a")
      // the second writer SHOULD collide; under PUT semantics it "wins"
      // silently — both believe they hold the lock
      StoreLock.acquire(store, "writer-b")
      assert(Files.readString(Paths.get(store, StoreLock.LockFile))
          .split(' ').head == "writer-b",
        "PUT semantics silently replaced the holder")
      StoreLock.release(store)
    }
    // the same interleaving on the REAL contract: loud collision
    StoreLock.acquire(store, "writer-a")
    val e = intercept[IllegalStateException](
      StoreLock.acquire(store, "writer-b"))
    assert(e.getMessage.contains("writer-a"))
    StoreLock.release(store)
  }

  test("createExclusive publishes its target only with the full content; " +
      "an existing target fails and stays unchanged; no tmp sibling " +
      "remains") {
    val dir = Files.createTempDirectory("graft-storefs-atomic")
    val content = "x" * (8 << 20)
    // a reader polling the target while it is created must never see it
    // empty or partial (a plain CREATE_NEW write exposes both)
    for (i <- 0 until 5) {
      val target = dir.resolve(s"commit-$i.json")
      @volatile var done = false
      val seen = scala.collection.mutable.Buffer[Int]()
      val reader = new Thread(() =>
        while (!done) {
          try if (Files.exists(target)) seen += Files.readString(target).length
          catch { case _: java.io.IOException => () }
        })
      reader.start()
      StoreFs.LocalFs.createExclusive(target, content)
      done = true
      reader.join()
      assert(seen.forall(_ == content.length),
        s"a reader saw a partial target: ${seen.filter(_ != content.length).take(3)}")
      assert(Files.readString(target) == content)
    }
    val target = dir.resolve("commit-0.json")
    intercept[java.nio.file.FileAlreadyExistsException](
      StoreFs.LocalFs.createExclusive(target, "other"))
    assert(Files.readString(target) == content, "the existing target changed")
    val s = Files.list(dir)
    val names = try s.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet
      finally s.close()
    assert(names == (0 until 5).map(i => s"commit-$i.json").toSet,
      s"a tmp sibling remained: $names")
  }
}
