package graft.spark

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.codec.{Header, StateReader, StateWriter}
import graft.model.StateItem

/** S7/S8 — the reference's `.dat` file format as a Spark source/sink
  * (erigon_extract.c:1340-1428 reader, 824-1269 writer, 2266-2288 header).
  *
  * Sink: one `part-NNNNN.dat` per non-empty partition, each a 256-byte
  * header plus page-aligned opcode stream (the merge output layout,
  * page_shift 12), committed by [[publish]]. [[write]], [[append]] and
  * [[compact]] save through the DataSource V2 sink
  * ([[graft.spark.datasource.DatDataSource]]), the one `.dat` writer;
  * this object holds its encoder, commit protocol and manifest.
  *
  * Source: files are NOT read sequentially. Because the writer restarts
  * compression state at every 4 KiB page boundary, every page is
  * independently decodable — so the read path explodes (file × page-range)
  * tasks and decodes pages in parallel, which is what makes the format
  * splittable for Spark in exactly the way the reference's O(log N) seek
  * exploits on disk (README.md:36-41).
  */
object StateFiles {

  private val PageShift = 12
  private val PageSize = 1 << PageShift

  /** Content-pairing token binding an `.idx` sidecar to ITS `.dat`: FNV-1a
    * over the first (header + 4 KiB) and last 4 KiB of the file. Renames
    * are per-file atomic but the PAIR is not — after a crash mid-rewrite a
    * new `.dat` can sit next to a stale same-page-count `.idx`, and
    * pruning against stale bounds silently drops rows. The reader verifies
    * (size, checksum) from the sidecar trailer and ignores the index on
    * mismatch (no pruning = correct, just slower).
    */
  private[spark] def pairingChecksum(prefix: Array[Byte],
                                     suffix: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(b: Array[Byte]): Unit = {
      var i = 0
      while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    }
    mix(prefix); mix(suffix)
    h
  }

  private[spark] val PairPrefixLen: Int = Header.Size + PageSize
  private[spark] val PairSuffixLen: Int = PageSize

  /** Write a sorted Dataset[StateItem] as header-prefixed page-aligned .dat
    * files, one per non-empty partition (partition ordering = caller's
    * sort), replacing whatever snapshot `dir` held ([[publish]]).
    *
    * `blockStart`/`blockEnd` declare the dataset's block range, recorded
    * as given. Left negative (the default), no range is declared and the
    * write records its rows' min and max block.
    */
  def write(items: Dataset[StateItem], dir: String, strategy: Int,
            blockStart: Long = -1L, blockEnd: Long = -1L): Unit =
    save(items.toDF(), dir, strategy, overwrite = true,
      blockStart = declared(blockStart), blockEnd = declared(blockEnd))

  /** Incremental APPEND: new part files after the existing ones, manifest
    * totals merged — the daily-increment flow (changesets are an
    * append-only log; each increment converts its block range and lands
    * as additional files). Reads stay pruned and correct because the
    * `.idx` bounds are true per-page min/max for ANY order — overlapping
    * address ranges across increments just mean more splits match.
    * Committed through [[publish]]; single-writer: concurrent appends to
    * one dataset are not supported (no lock service here).
    *
    * `streamBatchId` (optional, for streaming foreachBatch writers):
    * recorded in the manifest ATOMICALLY with the append, so a
    * micro-batch replayed after a crash BETWEEN the manifest commit and
    * the streaming checkpoint commit can be detected via
    * [[lastStreamBatch]] and skipped — exactly-once appends for a
    * linear (monotone-batch-id) stream; an id needs its `streamId`, and
    * another stream's append is refused before any part is staged.
    */
  def append(items: Dataset[StateItem], dir: String, strategy: Int,
             blockStart: Long = -1L, blockEnd: Long = -1L,
             streamBatchId: Long = -1L, streamId: String = ""): Unit =
    save(items.toDF(), dir, strategy, overwrite = false,
      blockStart = declared(blockStart), blockEnd = declared(blockEnd),
      streamBatchId = declared(streamBatchId),
      streamId = Some(streamId).filter(_.nonEmpty))

  /** COMPACTION — the archive-maintenance op the incremental flows
    * eventually need: [[append]] and the streaming sink each land one
    * part-file set per increment/epoch, so a long-lived dataset
    * accumulates many small files (the classic small-files problem; at
    * daily-increment cadence, hundreds of parts whose per-file open and
    * split overhead dominates reads). Compact rewrites the WHOLE dataset
    * as one fresh generation of `targetParts` range-sorted part files:
    *
    *  - the old generation is scanned through the DSv2 source (planned
    *    against the OLD manifest), range-repartitioned on the canonical
    *    (address, isStorage, slot, block) order — restoring the sorted
    *    layout interleaved increments erode, which is what keeps the
    *    `.idx` bounds tight and split pruning effective;
    *  - new part files land in the SAME directory with part numbers
    *    continuing past the old ones (both generations coexist on disk);
    *  - the atomic manifest swap — the dataset's ONE commit point —
    *    switches readers to the new file list and mints a new
    *    `dataset_id`, so a live streaming tail (st08) pinned to the old
    *    generation fails LOUDLY instead of silently re-reading
    *    reshuffled offsets;
    *  - only then is the old generation's files deleted (on an object
    *    store this delete would be a grace-period GC).
    *
    * That is [[publish]]'s overwrite, so crash safety is its contract:
    * death before the swap leaves the old snapshot intact; death after
    * the swap but mid-GC leaves unreferenced old files — harmless
    * garbage, deleted by the next overwrite.
    */
  def compact(spark: SparkSession, dir: String, strategy: Int,
              targetParts: Int = 1): Unit = {
    require(targetParts >= 1, s"compact: targetParts $targetParts")
    if (manifestFileList(dir).isEmpty)
      throw new IllegalStateException(s"compact: no manifest in $dir")
    manifestField(dir, "strategy").foreach(s0 =>
      require(s0 == strategy.toLong,
        s"compact strategy $strategy != dataset strategy $s0"))
    val items = read(spark, dir, strategy)
    val sorted = items
      .repartitionByRange(targetParts, col("address"), col("isStorage"),
        col("slot"), col("block"))
      .sortWithinPartitions(col("address"), col("isStorage"), col("slot"),
        col("block"))
    // a stream-owned dataset keeps its writer identity and replay
    // watermark across the rewrite: the DATA is equivalent, so the
    // exactly-once guard (lastStreamBatch) must survive — dropping the
    // fields would reset the skip and let a replayed epoch double-append.
    // The scan runs inside this job, before the commit; the overwrite
    // REPLACES the snapshot (fresh dataset_id). The rows are the same, so
    // the range and the W1 count measured when they were built carry over.
    save(sorted.toDF(), dir, strategy, overwrite = true,
      blockStart = manifestField(dir, "block_start"),
      blockEnd = manifestField(dir, "block_end"),
      streamBatchId = manifestField(dir, "stream_batch"),
      streamId = manifestStringField(dir, "stream_id"),
      nonAdvancing = manifestField(dir, NonAdvancingField))
  }

  /** A value of the public signatures' "negative means none" form. */
  private def declared(v: Long): Option[Long] = Some(v).filter(_ >= 0L)

  /** The one caller of the DSv2 `.dat` sink's write options: the body of
    * [[write]], [[append]], [[compact]], `Cli.convert` and
    * `CopyFile.convert`. Saves the item columns at their schema types (a
    * typed view may hold upcastable or extra ones) plus the W1
    * `non_advancing` flag when `rows` has it; each option that is set
    * becomes the sink's option of the same name (the sink refuses
    * malformed ones, such as half a range).
    */
  private[graft] def save(rows: DataFrame, dir: String, strategy: Int,
                          overwrite: Boolean,
                          blockStart: Option[Long] = None,
                          blockEnd: Option[Long] = None,
                          streamBatchId: Option[Long] = None,
                          streamId: Option[String] = None,
                          nonAdvancing: Option[Long] = None): Unit = {
    val flag = graft.pipeline.FullHistory.NonAdvancing
    val cols = StateItem.schema.fields.map(f => col(f.name).cast(f.dataType))
    val longs = Seq("blockStart" -> blockStart, "blockEnd" -> blockEnd,
      "streamBatchId" -> streamBatchId, "nonAdvancing" -> nonAdvancing)
    rows.select((cols ++ rows.columns.filter(_ == flag).map(col))
        .toIndexedSeq: _*)
      .write.format("graft.spark.datasource.DatDataSource")
      .option("strategy", strategy.toString)
      .options((longs.collect { case (k, Some(v)) => k -> v.toString } ++
        streamId.map("streamId" -> _)).toMap)
      .mode(if (overwrite) "overwrite" else "append").save(dir)
  }

  /** Small-files POLICY for [[compact]] — the threshold an [[append]] /
    * streaming-sink loop consults after each increment instead of
    * compacting on a human's schedule. Triggers when the committed
    * `.dat` count exceeds `maxParts` (per-file open + split-planning
    * overhead is linear in file count) OR when more than
    * `maxSmallFraction` of the committed files are under
    * `smallFileBytes` (a dataset can hold few-but-tiny files whose
    * per-file fixed cost dominates long before the count trips —
    * the bytes-ratio arm of the policy). A dataset without a manifest
    * has nothing to compact; a single committed file never needs it.
    *
    * Reads the manifest + `Files.size` only — safe to call from inside
    * a foreachBatch or an append loop every increment.
    */
  def needsCompaction(dir: String, maxParts: Int = 64,
                      smallFileBytes: Long = 64L << 20,
                      maxSmallFraction: Double = 0.5): Boolean = {
    require(maxParts >= 1, s"needsCompaction: maxParts $maxParts")
    manifestFileList(dir).map(_.filter(_.endsWith(".dat"))) match {
      case None => false
      case Some(dats) if dats.length <= 1 => false
      case Some(dats) if dats.length > maxParts => true
      case Some(dats) =>
        val sizes = dats.map { f =>
          try Files.size(Paths.get(dir, f))
          catch { case _: java.io.IOException => Long.MaxValue }
        }
        sizes.count(_ < smallFileBytes).toDouble / sizes.length >
          maxSmallFraction
    }
  }

  /** [[compact]] gated by [[needsCompaction]]; returns whether a rewrite
    * ran. The auto-maintenance call for append/streaming loops:
    *
    * {{{
    * StateFiles.append(increment, dir, strategy)
    * StateFiles.compactIfNeeded(spark, dir, strategy, targetParts = 8)
    * }}}
    *
    * RECOVERY RECIPE for streams tailing the dataset (st08-shape):
    * compaction mints a new `dataset_id`, so a tail pinned to the old
    * generation fails LOUDLY at its next trigger ("the dataset was
    * overwritten under a live stream") rather than silently re-reading
    * reshuffled offsets — that failure is the designed signal, not a
    * bug. To recover, restart the tail with a FRESH checkpoint
    * directory: the new stream plans against the compacted manifest
    * from offset zero and re-delivers the full (content-equal) dataset;
    * downstream consumers that must not double-process keep their own
    * idempotence key, exactly as they already must for at-least-once
    * redelivery after any checkpoint loss. A stream-OWNED dataset (the
    * streaming SINK side) is unaffected: the writer identity and replay
    * watermark survive the rewrite, so exactly-once append resumes
    * against the new generation with no operator action.
    */
  def compactIfNeeded(spark: SparkSession, dir: String, strategy: Int,
                      targetParts: Int = 1, maxParts: Int = 64,
                      smallFileBytes: Long = 64L << 20,
                      maxSmallFraction: Double = 0.5): Boolean = {
    val go = needsCompaction(dir, maxParts, smallFileBytes,
      maxSmallFraction)
    if (go) compact(spark, dir, strategy, targetParts)
    go
  }

  /** Highest `streamBatchId` committed to `dir`'s manifest by the stream
    * identified by `streamId` — the replay-skip seam. The batch id is
    * only meaningful within ONE linear stream: if the manifest's recorded
    * `stream_id` differs (the dataset is being appended by a second
    * streaming query, or the original checkpoint was reset so batch ids
    * restarted at 0), a `>= batchId` skip would silently drop data — so
    * an ownership mismatch FAILS LOUDLY instead of answering.
    */
  def lastStreamBatch(dir: String, streamId: String): Option[Long] = {
    val batch = manifestField(dir, "stream_batch").filter(_ >= 0L)
    batch.foreach { _ =>
      val owner = manifestStringField(dir, "stream_id")
      require(owner.contains(streamId),
        s"dataset $dir was stream-appended by " +
          s"${owner.fold("an unidentified stream")(o => s"stream $o")}, " +
          s"not $streamId — batch ids are not comparable across streams " +
          "(second query, or a reset checkpoint restarting at batch 0); " +
          "refusing the replay-skip check rather than losing data")
    }
    batch
  }

  /** Stable identity of one linear streaming writer, persisted IN its
    * checkpoint directory (write-once `graft-stream-id` file): a restart
    * from the same checkpoint reads the same id — batch ids continue one
    * monotone sequence, so the replay-skip applies — while a RESET or
    * different checkpoint mints a fresh id, which [[lastStreamBatch]]
    * then rejects against the manifest instead of silently dropping the
    * restarted batches.
    */
  def streamIdentity(checkpointDir: String): String = {
    val p = Paths.get(checkpointDir, "graft-stream-id")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    if (Files.exists(p)) new String(Files.readAllBytes(p), utf8).trim
    else {
      Files.createDirectories(p.getParent)
      val id = java.util.UUID.randomUUID().toString
      try {
        Files.write(p, id.getBytes(utf8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        id
      } catch { // lost a creation race: the winner's id is the identity
        case _: java.nio.file.FileAlreadyExistsException =>
          new String(Files.readAllBytes(p), utf8).trim
      }
    }
  }

  private def manifestText(dir: String): Option[String] = {
    val p = Paths.get(dir, "_manifest.json")
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8))
  }

  private[graft] def manifestField(dir: String, name: String): Option[Long] =
    manifestText(dir).flatMap(s =>
      s"""\"$name\":(-?\\d+)""".r.findFirstMatchIn(s)
        .map(_.group(1).toLong))

  private[graft] def manifestStringField(dir: String,
                                         name: String): Option[String] =
    manifestText(dir).flatMap(s =>
      s"""\"$name\":\"([^\"]*)\"""".r.findFirstMatchIn(s)
        .map(_.group(1)))

  /** The committed file snapshot, if the dataset has a manifest with one.
    * Readers use it to ignore orphan files from failed appends.
    */
  private[graft] def manifestFileList(dir: String): Option[Seq[String]] =
    manifestText(dir).flatMap { s =>
      """"file_list":\[([^\]]*)\]""".r.findFirstMatchIn(s).map { m =>
        """"([^"]+)"""".r.findAllMatchIn(m.group(1))
          .map(_.group(1)).toSeq
      }
    }

  /** Manifest field of the W1 non-advancing count — present only when a
    * write's frame carried the window's `non_advancing` flag
    * (`Cli.convert`), or a compaction carries a measured count (see
    * [[commitManifest]]).
    */
  private[graft] val NonAdvancingField = "anomaly_non_advancing_block"

  /** Per-part stat bundle carried from the DSv2 `DataWriter` to the
    * manifest commit: row totals, the block range the part's header
    * records, and write-time anomaly counters; `anomNonAdvancing` counts
    * the rows a write's `non_advancing` column flags.
    */
  private[spark] final case class PartStats(bytes: Long,
                                            accounts: Long, slots: Long,
                                            blockStart: Long, blockEnd: Long,
                                            anomIncDecrease: Long,
                                            anomCodeHashNoInc: Long,
                                            anomNonAdvancing: Long)

  /** Encoder of one part: the DSv2 DataWriter feeds it row by row and
    * [[stagePart]] finishes it.
    */
  private[spark] def partWriter(strategy: Int): StateWriter =
    new StateWriter(strategy, PageShift, baseOffset = Header.Size)

  /** Task side: the full `.dat` (a header recording
    * `[blockStart, blockEnd]` + the page-aligned body) and its `.idx`
    * sidecar, [[stage]]d as partition `partition` of write `writeId`.
    */
  private[spark] def stagePart(w: StateWriter, strategy: Int,
                               blockStart: Long, blockEnd: Long,
                               nonAdvancing: Long, dir: String,
                               writeId: String,
                               partition: Int): Staged[PartStats] = {
    val body = w.toArray
    val header = Header.build(
      endOfStates = Header.Size.toLong + body.length, PageShift,
      blockStart, blockEnd, w.countStorageSlots)
    val full = header ++ body
    // sidecar index, 56 bytes/page: min address (20) + max address
    // (20) + min block (8) + max block (8) — TRUE per-page bounds, so
    // split pruning is sound for ANY row order (address-major,
    // block-major, arbitrary), exactly like parquet row-group min/max
    // statistics (the reference's O(log N) seek, README.md:36-41, as
    // source-level pruning). Pages are aligned to ABSOLUTE file
    // offsets (reference layout): page 0 is the header-shortened
    // [256, 4096) region. Empty pages get full-range bounds (never
    // pruned).
    val nPages =
      ((Header.Size + body.length + PageSize - 1) / PageSize).toInt
    // + 16-byte trailer: .dat size + pairing checksum (see
    // pairingChecksum — binds this sidecar to exactly this .dat)
    val idx = new Array[Byte](nPages * 56 + 16)
    var p = 0
    while (p < nPages) {
      val bodyStart = math.max(0, p * PageSize - Header.Size)
      val bodyEnd =
        math.min((p + 1) * PageSize - Header.Size, body.length)
      val r = new StateReader(strategy, body, bodyStart, bodyEnd)
      var minB = Long.MaxValue
      var maxB = Long.MinValue
      var any = false
      val minA = Array.fill[Byte](20)(-1) // 0xff..ff
      val maxA = new Array[Byte](20)      // 0x00..00
      r.foreach { item =>
        any = true
        if (java.util.Arrays.compareUnsigned(item.address, minA) < 0)
          System.arraycopy(item.address, 0, minA, 0, 20)
        if (java.util.Arrays.compareUnsigned(item.address, maxA) > 0)
          System.arraycopy(item.address, 0, maxA, 0, 20)
        if (item.block < minB) minB = item.block
        if (item.block > maxB) maxB = item.block
      }
      if (!any) {
        java.util.Arrays.fill(minA, 0.toByte)
        java.util.Arrays.fill(maxA, -1.toByte)
        minB = 0L; maxB = Long.MaxValue
      }
      System.arraycopy(minA, 0, idx, p * 56, 20)
      System.arraycopy(maxA, 0, idx, p * 56 + 20, 20)
      graft.functions.Bytes.put64be(idx, p * 56 + 40, minB)
      graft.functions.Bytes.put64be(idx, p * 56 + 48, maxB)
      p += 1
    }
    graft.functions.Bytes.put64be(idx, nPages * 56, full.length.toLong)
    graft.functions.Bytes.put64be(idx, nPages * 56 + 8,
      pairingChecksum(
        java.util.Arrays.copyOf(full, math.min(full.length, PairPrefixLen)),
        java.util.Arrays.copyOfRange(full,
          math.max(0, full.length - PairSuffixLen), full.length)))
    stage(dir, writeId, partition, Seq("dat", "idx")) { out =>
      out(0).write(full); out(1).write(idx)
      PartStats(body.length.toLong, w.countAccounts, w.countStorageSlots,
        blockStart, blockEnd, w.anomalyIncarnationDecrease,
        w.anomalyCodeHashNoIncarnation, nonAdvancing)
    }
  }

  private[spark] def atomicWrite(dir: String, name: String,
                                 bytes: Array[Byte]): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes)
    Files.move(tmp, Paths.get(dir, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Write/merge the dataset-level manifest — the multi-file replacement
    * for the reference's single 256-byte header (C11): totals + layout
    * params in one JSON (the per-file headers remain byte-compatible). On
    * merge (append), totals accumulate and the block range widens. The
    * `file_list` snapshot is replaced ATOMICALLY as the last step — this
    * IS the dataset-level commit point, the commit step every `.dat`
    * sink hands to [[publish]]. `parts` are (part number, stats) in
    * publish order.
    *
    * `range` is the write's block range (None for a write with no rows
    * and no declared range: a merge keeps the previous range, any other
    * write records 0/0).
    *
    * `nonAdvancing` is the W1 window's non-advancing count for this
    * snapshot, when the write measured it or carries a measured value;
    * otherwise a merge keeps the previous manifest's value unchanged (an
    * append does not see the window) and any other write omits the field
    * rather than record an unmeasured 0.
    */
  private[spark] def commitManifest(dir: String, strategy: Int,
                                    range: Option[(Long, Long)],
                                    mergeManifest: Boolean,
                                    parts: Seq[(Int, PartStats)],
                                    streamBatchId: Long = -1L,
                                    streamId: String = "",
                                    nonAdvancing: Option[Long] = None): Unit = {
    def prev(name: String): Long =
      if (mergeManifest) manifestField(dir, name).getOrElse(0L) else 0L
    val stats = parts.map(_._2)
    val accounts = stats.map(_.accounts).sum + prev("accounts")
    val slots = stats.map(_.slots).sum + prev("storage_slots")
    val bytes = stats.map(_.bytes).sum + prev("bytes")
    val files = parts.length + prev("files")
    // write-time anomaly telemetry (SURVEY §5 mechanism 3) accumulates
    // across appends exactly like the row totals
    val anomInc = stats.map(_.anomIncDecrease).sum +
      prev("anomaly_incarnation_decrease")
    val anomCh = stats.map(_.anomCodeHashNoInc).sum +
      prev("anomaly_codehash_no_incarnation")
    val nonAdvJson = nonAdvancing
      .orElse(if (mergeManifest) manifestField(dir, NonAdvancingField)
              else None)
      .fold("")(n => s""""$NonAdvancingField":$n,""")
    def prevRange(name: String): Option[Long] =
      if (mergeManifest) manifestField(dir, name) else None
    val bStart =
      (range.map(_._1) ++ prevRange("block_start")).minOption.getOrElse(0L)
    val bEnd =
      (range.map(_._2) ++ prevRange("block_end")).maxOption.getOrElse(0L)
    val newNames = parts.map(p => partName(p._1, "dat"))
    val allNames =
      (if (mergeManifest) manifestFileList(dir).getOrElse(Seq.empty)
       else Seq.empty) ++ newNames
    val fileListJson =
      allNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // dataset GENERATION id: minted at the snapshot's first write,
    // preserved by every append, REPLACED by an overwrite — the streaming
    // source pins it in its offsets, so a stream whose consumed prefix
    // was invalidated by an overwrite fails loudly — [[publish]] gives an
    // overwrite fresh part names, but a dataset deleted and rewritten
    // from scratch numbers from 0 again, so names alone cannot
    // distinguish the generations.
    // Merging into a pre-existing manifest that PREDATES the field keeps
    // it ABSENT rather than minting mid-life: a live stream pinned the
    // absent generation ("") at start, and minting on a legitimate
    // append would false-fail it with an "overwritten" diagnostic.
    val datasetId: Option[String] =
      if (mergeManifest && manifestText(dir).isDefined)
        manifestStringField(dir, "dataset_id")
      else Some(java.util.UUID.randomUUID().toString)
    // streaming appenders carry their batch id forward (monotone max) so
    // a replayed micro-batch is detectable; batch writers omit the field,
    // keeping pre-existing manifests byte-identical in shape. The WRITER
    // IDENTITY travels with the batch id: a second stream (or a reset
    // checkpoint) must not silently adopt another stream's id sequence.
    val prevSid =
      if (mergeManifest) manifestStringField(dir, "stream_id") else None
    val sb = math.max(streamBatchId,
      if (mergeManifest) manifestField(dir, "stream_batch").getOrElse(-1L)
      else -1L)
    val sidOut = if (streamId.nonEmpty) Some(streamId) else prevSid
    val sbJson =
      if (sb >= 0)
        s""""stream_batch":$sb,""" +
          sidOut.fold("")(id => s""""stream_id":"$id",""")
      else ""
    val datasetIdJson =
      datasetId.fold("")(id => s""""dataset_id":"$id",""")
    val manifest =
      s"""{"format":"graft-dat","strategy":$strategy,""" +
        s"""$datasetIdJson"page_shift":$PageShift,""" +
        s""""block_start":$bStart,""" +
        s""""block_end":$bEnd,"files":$files,$sbJson""" +
        s""""accounts":$accounts,"storage_slots":$slots,""" +
        s""""anomaly_incarnation_decrease":$anomInc,""" +
        s""""anomaly_codehash_no_incarnation":$anomCh,$nonAdvJson""" +
        s""""bytes":$bytes,"file_list":$fileListJson}"""
    atomicWrite(dir, "_manifest.json",
      manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** First part number AFTER the existing files (0 for a fresh dir). */
  private[spark] def nextPartBase(dir: String): Int =
    listNames(dir).filter(n => n.startsWith("part-") && n.endsWith(".dat"))
      .flatMap(_.stripPrefix("part-").stripSuffix(".dat").toIntOption)
      .maxOption.fold(0)(_ + 1)

  /** File names in `dir`, empty when it does not exist. */
  private[spark] def listNames(dir: String): Seq[String] = {
    if (!Files.exists(Paths.get(dir))) return Seq.empty
    val stream = Files.list(Paths.get(dir))
    try {
      val it = stream.iterator()
      val names = Seq.newBuilder[String]
      while (it.hasNext) names += it.next().getFileName.toString
      names.result()
    } finally stream.close()
  }

  private[spark] def partName(n: Int, ext: String): String = f"part-$n%05d.$ext"

  // ---- the commit protocol of every archive sink (`.dat` and txbodies:
  // the DSv2 batch and streaming `.dat` writes, and TxBodyFiles) ----
  //
  // The manifest's `file_list` is the authoritative snapshot — readers
  // read exactly those files when a manifest is present — and it is
  // replaced ATOMICALLY as the commit point. So:
  //  - tasks `stage` a part's files under hidden temp names unique to
  //    the attempt: retried or speculative attempts never touch a name
  //    any reader resolves, and never each other's files;
  //  - the driver `publish`es once: it numbers the parts FRESH, past
  //    every part file on disk, renames them into place, commits the
  //    manifest, and only then, on an overwrite, deletes the parts the
  //    new manifest does not list. No rename ever lands on a name a
  //    previous snapshot used, so a reader that resolved the old manifest
  //    keeps reading the old bytes (never new bytes under old pruning
  //    metadata) until the GC removes them — and then fails cleanly
  //    instead of silently mixing snapshots;
  //  - a failed write `discard`s its temps and the previous snapshot
  //    stays as it was, files and manifest.
  // A crash before the manifest commit leaves temps or unlisted parts:
  // invisible to readers, and a retried write numbers past them (no
  // duplicated rows). A crash after it, mid-GC, leaves unlisted old
  // parts, which the next overwrite deletes. Single-writer: concurrent
  // writes to one dataset are not supported (no lock service here).

  /** One part as a task staged it: its files' temp paths by final
    * extension, and the stats the sink's manifest records. `partition`
    * orders the parts when [[publish]] numbers them.
    */
  private[spark] final case class Staged[S](partition: Int,
                                            files: Seq[(String, String)],
                                            stats: S)

  /** Task side: write one part's files, one stream per extension in
    * `exts`, under hidden temp names that carry `writeId` and are unique
    * to this attempt; `write` fills the streams and returns the part's
    * stats. A `write` that throws leaves no temp behind.
    */
  private[spark] def stage[S](dir: String, writeId: String, partition: Int,
                              exts: Seq[String])(
                              write: Seq[java.io.OutputStream] => S)
      : Staged[S] = {
    val attempt = java.util.UUID.randomUUID()
    val files = exts.map(e =>
      e -> Paths.get(dir, s".$writeId-$partition-$attempt.$e.tmp").toString)
    val outs = Seq.newBuilder[java.io.OutputStream]
    try {
      files.foreach(f => outs += new java.io.BufferedOutputStream(
        Files.newOutputStream(Paths.get(f._2)), 1 << 18))
      val stats = write(outs.result())
      outs.result().foreach(_.close())
      Staged(partition, files, stats)
    } catch {
      case e: Throwable =>
        outs.result().foreach(o =>
          try o.close() catch { case _: java.io.IOException => () })
        files.foreach(f => Files.deleteIfExists(Paths.get(f._2)))
        throw e
    }
  }

  /** Driver side, once per write: number `staged` from [[nextPartBase]],
    * contiguously in partition order; rename each file into place;
    * `commit` the sink's manifest for the (part number, stats) list —
    * merged for an append, replaced for an overwrite; then, on an
    * overwrite only, delete every part file the new manifest does not
    * list (best-effort: a leftover is unreferenced garbage).
    */
  private[spark] def publish[S](dir: String, staged: Seq[Staged[S]],
                                overwrite: Boolean)(
                                commit: Seq[(Int, S)] => Unit): Unit = {
    val base = nextPartBase(dir)
    val parts = staged.sortBy(_.partition).zipWithIndex.map {
      case (p, i) =>
        p.files.foreach { case (ext, tmp) =>
          // fresh numbers never name a file any snapshot lists, so
          // REPLACE_EXISTING cannot clobber committed bytes
          Files.move(Paths.get(tmp), Paths.get(dir, partName(base + i, ext)),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        (base + i, p.stats)
    }
    commit(parts)
    if (overwrite) {
      val keep = parts.map(p => partName(p._1, "")).toSet
      listNames(dir)
        .filter(n => n.startsWith("part-") &&
          !keep.contains(n.take(n.indexOf('.') + 1)))
        .foreach(n =>
          try Files.deleteIfExists(Paths.get(dir, n))
          catch { case _: java.io.IOException => () })
    }
  }

  /** Abort: delete every temp staged under `writeId` in `dir`. */
  private[spark] def discard(dir: String, writeId: String): Unit =
    listNames(dir).filter(_.startsWith(s".$writeId-"))
      .foreach(n => Files.deleteIfExists(Paths.get(dir, n)))

  /** The one append guard of every `.dat` sink. A dataset with part files
    * but NO manifest is a torn write — its strategy and committed
    * contents are unknowable — and a strategy mismatch would rewrite the
    * manifest's strategy and make the existing parts decode as garbage;
    * refuse both rather than risk a mixed-strategy dataset. An append
    * from a stream (`streamId`) must come from the dataset's owner.
    */
  private[spark] def requireAppendable(dir: String, strategy: Int,
                                       streamId: String): Unit = {
    val s0 = manifestField(dir, "strategy")
    require(s0.isDefined || nextPartBase(dir) == 0,
      s"$dir has part files but no manifest — cannot append to a torn " +
        "dataset")
    s0.foreach(s => require(s == strategy.toLong,
      s"append strategy $strategy != dataset strategy $s"))
    if (streamId.nonEmpty)
      manifestStringField(dir, "stream_id").foreach(owner =>
        require(owner == streamId, s"dataset $dir is stream-owned by " +
          s"$owner; refusing append from stream $streamId"))
  }

  /** Page-parallel read, delegated to the DataSource V2
    * ([[graft.spark.datasource.DatDataSource]]): ranged `RandomAccessFile`
    * reads with Long offsets (no 2 GiB whole-file buffering), .idx split
    * pruning, and pushdown-aware planning. Kept as the typed convenience
    * entry point so there is exactly ONE read implementation.
    */
  def read(spark: SparkSession, dir: String, strategy: Int): Dataset[StateItem] = {
    import spark.implicits._
    spark.read.format("graft.spark.datasource.DatDataSource")
      .option("strategy", strategy.toString)
      .load(dir)
      .as[StateItem]
  }
}
