package graft.spark

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.codec.TxBodyCodec

/** S9 — the reference's `txbodies-S-E.dat` output family as a Spark sink
  * and source (erigon_extract.c:1777-1989).
  *
  * Layout: the reference writes ONE headerless file of varint-framed
  * per-body records in BlockBody cursor order, single-threaded. Here each
  * range-partition writes `part-NNNNN.dat`; because the format is a plain
  * record concatenation with no header and no cross-record compression
  * state, `cat part-*.dat` (ascending) reproduces the reference's
  * single-file stream byte-for-byte — the partitioned layout IS the
  * reference layout, split at record boundaries.
  *
  * Scale: records are range-partitioned on (block, block_hash) — globally
  * ordered across files — and each task streams its partition straight to
  * disk, staged and published through StateFiles' commit protocol (part
  * numbers follow partition order, so file order is block order).
  * Reading parallelizes per FILE (the format has no page restarts,
  * unlike the state `.dat`s, so a file is the smallest independently
  * decodable unit; write with enough partitions to get read parallelism).
  */
object TxBodyFiles {

  /** Write encoded body records (from
    * [[graft.pipeline.TxBodies.encodeBlocks]]: block, block_hash, record)
    * as a txbodies dataset under `dir`, replacing the snapshot it held.
    * Returns (files, blocks, bytes).
    */
  def write(encodedBlocks: DataFrame, dir: String,
            blockStart: Long = 0L, blockEnd: Long = 0L,
            partitions: Int = 0): (Long, Long, Long) = {
    val spark = encodedBlocks.sparkSession
    import spark.implicits._
    Files.createDirectories(Paths.get(dir))
    val n = if (partitions > 0) partitions
            else graft.Sessions.shufflePartitions(spark)
    // pre-materialize before the range exchange (the r21 fold fix):
    // RangePartitioning's bounds sampling re-executes its child, and
    // the child here is the per-block RLP encode — one eager
    // checkpoint keeps the encode single-execution; released as soon
    // as the write job below has consumed the exchange
    val pre = encodedBlocks
      .select(col("block"), col("block_hash"), col("record"))
      .localCheckpoint()
    // each task stages its part and the driver publishes them as a
    // fresh snapshot — StateFiles' commit protocol, with this format's
    // own manifest as the commit step (see StateFiles.publish)
    val writeId = java.util.UUID.randomUUID().toString
    val staged = try pre
      .repartitionByRange(n, col("block"), col("block_hash"))
      .sortWithinPartitions(col("block"), col("block_hash"))
      .select(col("record"))
      .as[Array[Byte]]
      .mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else Iterator.single(StateFiles.stage(dir, writeId,
            org.apache.spark.TaskContext.getPartitionId(), Seq("dat")) {
          out =>
            var blocks = 0L
            var bytes = 0L
            it.foreach { rec =>
              out(0).write(rec); blocks += 1; bytes += rec.length
            }
            (blocks, bytes)
        })
      }.collect() catch {
      case e: Throwable => StateFiles.discard(dir, writeId); throw e
    }
    // the write job above was the exchange's last consumer
    org.apache.spark.sql.graftshim.Bridge.unpersistLocalCheckpoint(pre)
    val blocks = staged.map(_.stats._1).sum
    val bytes = staged.map(_.stats._2).sum
    StateFiles.publish(dir, staged.toSeq, overwrite = true) { parts =>
      // the manifest IS the commit point: its file_list names exactly the
      // part files of this completed write, so a reader never sees orphan
      // parts from a crashed/concurrent attempt
      val fileListJson = parts
        .map(p => "\"" + StateFiles.partName(p._1, "dat") + "\"")
        .mkString("[", ",", "]")
      val manifest =
        s"""{"format":"graft-txbodies","block_start":$blockStart,""" +
          s""""block_end":$blockEnd,"files":${parts.length},""" +
          s""""blocks":$blocks,"bytes":$bytes,"file_list":$fileListJson}"""
      StateFiles.atomicWrite(dir, "_manifest.json",
        manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    (staged.length.toLong, blocks, bytes)
  }

  /** Read a txbodies dataset back: one task per file, sequential decode,
    * rows (block, tx_amount, uncles_rlp, txs).
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // manifest file_list = the committed snapshot; orphan part files from
    // a failed write attempt are invisible. Directory listing only for
    // ad-hoc (manifest-less) dirs.
    val sorted = StateFiles.manifestFileList(dir).getOrElse {
      require(Files.isDirectory(Paths.get(dir)), s"$dir: no such dataset")
      StateFiles.listNames(dir).filter(_.endsWith(".dat")).sorted
    }.map(n => Paths.get(dir, n).toString)
    spark.createDataset(sorted)
      .repartition(math.max(1, sorted.length))
      .flatMap { f =>
        // streamed, not readAllBytes: reference-sized multi-GB files
        // decode in O(record) memory. The stream is closed by a
        // task-completion listener — closing on iterator exhaustion alone
        // leaks the FD when a query stops pulling early (limit/take) or
        // the decoder throws mid-file.
        val path = Paths.get(f)
        val in = new java.io.BufferedInputStream(
          Files.newInputStream(path), 1 << 18)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
        TxBodyCodec.decodeStream(in, maxArray = Files.size(path))
          .map(r => (r.block, r.txAmount, r.unclesRlp, r.txs))
      }
      .toDF("block", "tx_amount", "uncles_rlp", "txs")
  }
}
