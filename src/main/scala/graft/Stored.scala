package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

/** Builds a directory on disk once and keeps it across JVMs: the one
  * write-once protocol of the fixtures, goldens, corpora, signature stores
  * and IVF indexes under `target/` (the on-disk counterpart of [[Memo]]).
  * Content is a pure function of the path, so a committed directory a
  * previous JVM left is still valid.
  *
  * `dir(path)(build)` returns `path` made absolute and normalized. A
  * directory holding the [[Marker]] file is committed, and `build` does not
  * run. Otherwise, under a lock of that path alone, any unmarked leftover
  * is wiped, `build` writes into the empty location, and the marker is
  * written once it returns. A `build` that throws leaves no directory, so
  * the next call builds from empty. The marker is checked on every call:
  * deleting the directory or its marker forces a rebuild.
  *
  * Callers of other paths never wait for a build, and a `build` may itself
  * call `dir` for another path (s18's merged index builds its two segment
  * indexes). Two JVMs building the same path at once are not serialized.
  */
object Stored {
  val Marker = "_OK"

  private val locks = new ConcurrentHashMap[String, Object]()

  def dir(path: String)(build: String => Unit): String = {
    val base = Paths.get(path).toAbsolutePath.normalize
    val abs = base.toString
    val ok = base.resolve(Marker)
    if (!Files.isRegularFile(ok))
      locks.computeIfAbsent(abs, _ => new Object).synchronized {
        if (!Files.isRegularFile(ok)) {
          val file = base.toFile
          org.apache.commons.io.FileUtils.deleteQuietly(file)
          try {
            build(abs)
            Files.createDirectories(base)
            Files.write(ok, Array.emptyByteArray)
          } catch { case e: Throwable =>
            org.apache.commons.io.FileUtils.deleteQuietly(file)
            throw e
          }
        }
      }
    abs
  }
}
