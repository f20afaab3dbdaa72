package graft.util

import java.nio.file.Path

/** A [[StoreFs.Fs]] double that passes every call to [[StoreFs.LocalFs]];
  * a spec overrides only the calls it intercepts.
  */
class DelegatingFs extends StoreFs.Fs {
  private val fs = StoreFs.LocalFs
  def createExclusive(p: Path, content: String): Unit = fs.createExclusive(p, content)
  def atomicMove(src: Path, dst: Path): Unit = fs.atomicMove(src, dst)
  def move(src: Path, dst: Path): Unit = fs.move(src, dst)
  def readString(p: Path): String = fs.readString(p)
  def writeString(p: Path, s: String): Unit = fs.writeString(p, s)
  def exists(p: Path): Boolean = fs.exists(p)
  def isDirectory(p: Path): Boolean = fs.isDirectory(p)
  def createDirectories(p: Path): Unit = fs.createDirectories(p)
  def deleteIfExists(p: Path): Unit = fs.deleteIfExists(p)
  def list(p: Path): Seq[Path] = fs.list(p)
  def deleteRecursively(p: Path): Unit = fs.deleteRecursively(p)
  def size(p: Path): Long = fs.size(p)
  def mtimeMillis(p: Path): Long = fs.mtimeMillis(p)
}
