package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoder}
import org.scalatest.Assertions._

/** The commit contract every archive sink (`.dat` and txbodies, every
  * front-end) must keep, checked the same way for each: an overwrite
  * never rewrites a name the old snapshot used, and a failed write leaves
  * the committed snapshot exactly as it was.
  */
object SinkCommit {

  /** Bytes of the part files in `dir`, by name. */
  def partFiles(dir: String): Map[String, Array[Byte]] =
    new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> Files.readAllBytes(f.toPath)).toMap

  private def stem(name: String): String = name.takeWhile(_ != '.')

  /** Run `overwrite` on the committed snapshot in `dir`. Its part names
    * must be disjoint from the old snapshot's — so at no instant did a
    * reader of the old manifest see new bytes under an old name: old
    * files are either intact or deleted, never rewritten — and after it
    * every part file on disk must be one the new manifest lists.
    */
  def assertOverwriteIsolated(dir: String)(overwrite: => Unit): Unit = {
    val old = partFiles(dir)
    assert(old.nonEmpty, s"no snapshot to overwrite in $dir")
    overwrite
    val now = partFiles(dir)
    val reused = now.keySet.intersect(old.keySet)
    assert(reused.isEmpty, s"overwrite reused old part names: $reused")
    assert(old.forall { case (n, bytes) =>
      !Files.exists(Paths.get(dir, n)) ||
        Files.readAllBytes(Paths.get(dir, n)).sameElements(bytes)
    }, "old snapshot bytes changed in place")
    val listed = graft.spark.StateFiles.manifestFileList(dir).get
      .map(stem).toSet
    assert(now.keys.forall(n => listed(stem(n))),
      s"unlisted parts left after the overwrite: " +
        now.keys.filterNot(n => listed(stem(n))))
  }

  /** Run `failingRewrite`, which must throw. The committed manifest and
    * the bytes of every file it lists (with their `.idx` sidecars) must
    * be as they were, and no staged temp may be left behind.
    */
  def assertFailedWriteLeavesSnapshot(dir: String)(
      failingRewrite: => Unit): Unit = {
    val manifest = Paths.get(dir, "_manifest.json")
    val mf = Files.readAllBytes(manifest)
    val listed = graft.spark.StateFiles.manifestFileList(dir).get
      .map(stem).toSet
    val committed = partFiles(dir).filter { case (n, _) => listed(stem(n)) }
    assert(committed.nonEmpty, s"no committed snapshot in $dir")
    intercept[Exception](failingRewrite)
    assert(Files.readAllBytes(manifest).sameElements(mf),
      "a failed write changed the manifest")
    committed.foreach { case (n, bytes) =>
      assert(Files.exists(Paths.get(dir, n)) &&
        Files.readAllBytes(Paths.get(dir, n)).sameElements(bytes),
        s"a failed write changed the committed file $n")
    }
    val temps = new java.io.File(dir).list().filter(_.endsWith(".tmp"))
    assert(temps.isEmpty, s"a failed write left temps: ${temps.toSeq}")
  }

  /** The block range of `dir`'s manifest must be `range`, and the
    * 256-byte headers of the parts it lists must cover exactly that
    * range: no header outside it, the lowest start and highest end on it.
    */
  def assertBlockRange(dir: String, range: (Long, Long)): Unit = {
    def field(name: String) =
      graft.spark.StateFiles.manifestField(dir, name).get
    assert((field("block_start"), field("block_end")) == range,
      s"manifest block range of $dir")
    val headers = graft.spark.StateFiles.manifestFileList(dir).get.map { n =>
      val bb = java.nio.ByteBuffer.wrap(Files.readAllBytes(Paths.get(dir, n)))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (bb.getLong(32), bb.getLong(40))
    }
    assert(headers.nonEmpty &&
      headers.forall { case (lo, hi) =>
        range._1 <= lo && lo <= hi && hi <= range._2 } &&
      headers.map(_._1).min == range._1 && headers.map(_._2).max == range._2,
      s"part header block ranges $headers do not cover $range")
  }

  @volatile private var firstDone = new CountDownLatch(1)

  /** `ds` over `parts` partitions whose LAST task throws, but only once
    * partition 0's task has finished — so a sink that writes in its tasks
    * has already written partition 0 when the write fails.
    */
  def failingLastTask[T: Encoder](ds: Dataset[T], parts: Int): Dataset[T] = {
    require(parts >= 2)
    firstDone = new CountDownLatch(1)
    ds.repartition(parts).mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 0) {
        tc.addTaskCompletionListener[Unit](_ => SinkCommit.firstDone.countDown())
        it
      } else if (tc.partitionId() == parts - 1) {
        SinkCommit.firstDone.await(60, TimeUnit.SECONDS)
        throw new IllegalStateException("planted failure in the last task")
      } else it
    }
  }
}
