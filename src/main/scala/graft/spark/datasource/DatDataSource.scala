package graft.spark.datasource

import java.nio.file.{Files, Paths}
import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.codec.{Header, StateReader}
import graft.model.StateItem

/** DataSource V2 for the reference's `.dat` state-stream format — the
  * §2.1 S7 "custom-format file source" as a first-class Spark source:
  *
  * {{{
  *   spark.read.format("graft.spark.datasource.DatDataSource")
  *     .option("strategy", "0").load("/path/to/dats")
  * }}}
  *
  * Split model: one `InputPartition` per contiguous run of 4 KiB pages
  * (`pagesPerSplit`, default 256 = 1 MiB splits). The writer's
  * page-restart property (erigon_extract.c:802-822) makes every split
  * independently decodable — this source is to the .dat format what
  * parquet's row-group splits are to parquet.
  */
class DatDataSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StateItem.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new DatTable(properties.get("path"),
      Option(properties.get("strategy")).map(_.toInt).getOrElse(0),
      Option(properties.get("pagesPerSplit")).map(_.toInt).getOrElse(256))
}

class DatTable(path: String, strategy: Int, pagesPerSplit: Int)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"dat($path)"
  override def schema(): StructType = StateItem.schema
  // ACCEPT_ANY_SCHEMA: a write may carry the W1 flag beside the item
  // columns, which Spark's byName output resolution would reject, so the
  // sink checks the shape itself (DatWriteSpec)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DatScanBuilder(path, strategy, pagesPerSplit,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("blockGte")).map(_.toLong),
      Option(options.get("blockLte")).map(_.toLong))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var doTruncate = false
      override def truncate() = { doTruncate = true; this }
      override def build() = new DatWrite(path, strategy, doTruncate,
        DatWriteSpec(path, info.schema(), info.options()), info.queryId())
    }
}

class DatScanBuilder(path: String, strategy: Int, pagesPerSplit: Int,
                     maxFilesPerTrigger: Option[Int] = None,
                     optBlockGte: Option[Long] = None,
                     optBlockLte: Option[Long] = None)
    extends ScanBuilder with Scan with Batch
    with SupportsPushDownFilters {

  private var addressBounds: Option[(Array[Byte], Array[Byte])] = None
  private var blockLo: Option[Long] = None
  private var blockHi: Option[Long] = None

  /** Filters are used only to PRUNE splits via the .idx sidecar (per-page
    * first address = the file's sorted order; per-page block min/max =
    * row-group-style statistics); they are all returned as residuals so
    * Spark still evaluates them row-by-row — pruning is a superset, like
    * parquet row-group min/max skipping.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    var lo: Array[Byte] = null
    var hi: Array[Byte] = null
    filters.foreach {
      case EqualTo("address", v: Array[Byte]) => lo = v; hi = v
      case GreaterThanOrEqual("address", v: Array[Byte]) => lo = v
      case GreaterThan("address", v: Array[Byte]) => lo = v
      case LessThanOrEqual("address", v: Array[Byte]) => hi = v
      case LessThan("address", v: Array[Byte]) => hi = v
      case EqualTo("block", v: Long) => blockLo = Some(v); blockHi = Some(v)
      case GreaterThanOrEqual("block", v: Long) => blockLo = Some(v)
      case GreaterThan("block", v: Long) => blockLo = Some(v + 1)
      case LessThanOrEqual("block", v: Long) => blockHi = Some(v)
      case LessThan("block", v: Long) => blockHi = Some(v - 1)
      case _ => ()
    }
    if (lo != null || hi != null) addressBounds = Some((lo, hi))
    filters // all residual
  }

  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan = this
  override def readSchema(): StructType = StateItem.schema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    // the manifest's file_list is the COMMITTED snapshot: when present,
    // read exactly those files, so orphan part files from a failed
    // append are invisible (directory listing is the manifest-less
    // fallback for ad-hoc dirs)
    val files = graft.spark.StateFiles.manifestFileList(path).getOrElse {
      require(Files.isDirectory(Paths.get(path)), s"$path: no such dataset")
      graft.spark.StateFiles.listNames(path)
    }.iterator.map(n => Paths.get(path, n))
    // the blockGte/blockLte OPTIONS prune batch scans too (merged with
    // any pushed filters — intersection of the two ranges), so the same
    // option means the same thing on read and readStream
    val effLo = Seq(blockLo, optBlockGte).flatten.reduceOption(_ max _)
    val effHi = Seq(blockHi, optBlockLte).flatten.reduceOption(_ min _)
    val out = Seq.newBuilder[InputPartition]
    while (files.hasNext) {
      val f = files.next()
      if (f.toString.endsWith(".dat"))
        out ++= DatSplitPlanner.splitsForFile(f, pagesPerSplit,
          addressBounds, effLo, effHi)
    }
    out.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DatReaderFactory(strategy)

  // page-pruning observability in the SQL UI's scan node
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new PagesDecodedMetric, new PagesSkippedMetric)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    // Spark does NOT push filters into streaming DSv2 scans (verified on
    // 4.1.2: MicroBatchExecution builds the scan straight from
    // newScanBuilder, before the optimizer sees any Filter), so
    // streaming split pruning is OPT-IN via the blockGte/blockLte read
    // options — the "tail only blocks ≥ N" case. Pruning is at split
    // granularity (same .idx bounds as the batch scan) and a superset:
    // rows inside kept splits are NOT row-filtered here, compose with
    // .filter() for exact semantics.
    new DatMicroBatchStream(path, strategy, pagesPerSplit,
      maxFilesPerTrigger, optBlockGte, optBlockLte)
}

/** Shared per-file split planning (batch scan + micro-batch stream): one
  * `InputPartition` per `pagesPerSplit`-page run, pruned by the `.idx`
  * sidecar's per-split bounds when filters are present.
  */
private[datasource] object DatSplitPlanner {
  private def cmp(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  def splitsForFile(f: java.nio.file.Path, pagesPerSplit: Int,
      addressBounds: Option[(Array[Byte], Array[Byte])] = None,
      blockLo: Option[Long] = None,
      blockHi: Option[Long] = None): Seq[InputPartition] = {
    val pageSize = 1 << 12
    val size = Files.size(f)
    val ent = DatSidecarCache.validated(f, size, pagesPerSplit)
    val nPages = ent.nPages
    val sb = ent.splits
    val out = Seq.newBuilder[InputPartition]
    var p = 0
    var s = 0
    while (p < nPages) {
      val pages = math.min(pagesPerSplit, nPages - p)
      val keep = sb == null || {
        val b = sb(s)
        val keepAddr = addressBounds match {
          case None => true
          case Some((lo, hi)) =>
            (hi == null || cmp(b.minAddr, hi) <= 0) &&
              (lo == null || cmp(b.maxAddr, lo) >= 0)
        }
        keepAddr && blockLo.forall(_ <= b.maxBlock) &&
          blockHi.forall(_ >= b.minBlock)
      }
      if (keep) {
        // PAGE-level pruning inside the split (the reference's O(log N)
        // page seek, README.md:36-41, carried to its end): when the
        // sidecar is validated and a predicate exists, the READER
        // re-reads this split's 56 B/page bounds (one ~14 KB range read
        // of the .idx — the "1 IOPS" index touch) and decodes ONLY the
        // matching pages. The planner ships the predicate + the
        // sidecar's pairing trailer so the executor can re-verify it is
        // skipping against the exact sidecar the plan validated; any
        // mismatch falls back to full-split decode (superset-safe — all
        // filters stay residual).
        val pred =
          if (sb != null && ent.idxSig.isDefined &&
              (addressBounds.isDefined || blockLo.isDefined ||
                blockHi.isDefined))
            Some(PagePredicate(
              addressBounds.flatMap(b => Option(b._1)).orNull,
              addressBounds.flatMap(b => Option(b._2)).orNull,
              blockLo.getOrElse(Long.MinValue),
              blockHi.getOrElse(Long.MaxValue),
              ent.idxSig.get._1, ent.idxSig.get._2))
          else None
        out += DatInputPartition(f.toString,
          math.max(Header.Size.toLong, p.toLong * pageSize),
          math.min((p + pages).toLong * pageSize, size), pred)
      }
      p += pages
      s += 1
    }
    out.result()
  }
}

/** Split-local page predicate: the pushed bounds plus the validated
  * sidecar's pairing trailer (declared .dat size + checksum) the reader
  * re-checks before trusting page skips.
  */
case class PagePredicate(addrLo: Array[Byte], addrHi: Array[Byte],
                         blockLo: Long, blockHi: Long,
                         idxDeclaredSize: Long, idxDeclaredSum: Long)

/** Executor-side page-pruning counters — a test seam (meaningful in
  * local mode, where tasks share the driver JVM): PipelineSpec bounds
  * `pagesDecoded` on point lookups across dataset scales. The SAME
  * counts also flow through the DSv2 CustomMetric channel
  * ([[PagesDecodedMetric]]/[[PagesSkippedMetric]]) into the SQL UI's
  * scan node, the surface a cluster operator actually watches.
  */
private[graft] object DatPageMetrics {
  val pagesDecoded = new java.util.concurrent.atomic.LongAdder
  val pagesSkipped = new java.util.concurrent.atomic.LongAdder
  private[graft] def reset(): Unit = {
    pagesDecoded.reset(); pagesSkipped.reset()
  }
}

class PagesDecodedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "datPagesDecoded"
  override def description(): String = "dat pages decoded (post-pruning)"
}

class PagesSkippedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "datPagesSkipped"
  override def description(): String = "dat pages skipped by .idx bounds"
}

private[datasource] case class DatTaskMetric(metricName: String,
                                             metricValue: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = metricValue
}

/** Streaming offset into a `.dat` dataset: a PREFIX COUNT of the
  * manifest's `file_list`, plus the name at that prefix's end and the
  * manifest's dataset GENERATION id. The manifest is the commit point
  * and appends only ever EXTEND the list (StateFiles.commitManifest
  * merges `existing ++ new`), so a consumed prefix is immutable for any
  * sequence of appends — the (name, generation) pair pins that: an
  * overwrite publishes fresh part numbers (StateFiles.publish — the name
  * stops matching) and a new generation id (which also catches a dataset
  * deleted and rewritten from part 0), and the stream fails loudly
  * instead of silently treating a new snapshot as a continuation.
  */
case class DatOffset(files: Int, lastFile: String, datasetId: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    s"""{"files":$files,"last":"$lastFile","dataset":"$datasetId"}"""
}

object DatOffset {
  def fromJson(json: String): DatOffset = {
    def str(field: String): String =
      (s""""$field":"([^"]*)"""").r.findFirstMatchIn(json)
        .map(_.group(1))
        .getOrElse(sys.error(s"bad DatOffset json: $json"))
    val files = """"files":(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toInt)
      .getOrElse(sys.error(s"bad DatOffset json: $json"))
    DatOffset(files, str("last"), str("dataset"))
  }
}

/** Micro-batch tail of a `.dat` dataset — the incremental READ side of
  * the §7.5 archival loop (st07 streams in; this streams back out):
  *
  * {{{
  *   spark.readStream.format("graft.spark.datasource.DatDataSource")
  *     .option("strategy", "0").load(dir)
  * }}}
  *
  * New-file discovery is manifest-driven: each `latestOffset` re-reads
  * the committed `file_list`, and a batch is the splits of the files in
  * `(start.files, end.files]` — exactly the increments appended since
  * the last batch, never orphan part files (the manifest is the commit
  * point, so a torn append is invisible here just as in the batch scan).
  * Splits reuse the batch scan's `.idx` machinery (page-restart
  * independence + sidecar cache). Admission control: `maxFilesPerTrigger`
  * caps files per micro-batch; `Trigger.AvailableNow` pins the target at
  * query start and drains up to it in capped batches, then stops.
  *
  * A dataset being streamed must be append-only: an OVERWRITE rewrites
  * the file list (fresh part numbers), the offset's recorded name stops
  * matching the prefix, and planning fails loudly — the same
  * fail-don't-guess stance as the stream-identity check on the write
  * side.
  */
class DatMicroBatchStream(path: String, strategy: Int, pagesPerSplit: Int,
                          maxFilesPerTrigger: Option[Int],
                          blockLo: Option[Long] = None,
                          blockHi: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  private def committedFiles(): Seq[String] =
    graft.spark.StateFiles.manifestFileList(path).getOrElse(
      throw new IllegalStateException(
        s"$path has no manifest — a streaming read needs the committed " +
          "file_list as its offset log (write the dataset via " +
          "StateFiles/DSv2, not ad-hoc files)"))

  private def generation(): String =
    graft.spark.StateFiles.manifestStringField(path, "dataset_id")
      .getOrElse("")

  private def offsetAt(files: Seq[String], n: Int): DatOffset = {
    val last = if (n == 0) "" else files(n - 1)
    // the offset is serialized into the checkpoint log as hand-built
    // JSON with no escaping: generated part-NNNNN.dat names are always
    // clean, but a hand-edited manifest with a quote/backslash in a name
    // must fail HERE, not corrupt the durable offset log
    require(last.forall(c => c != '"' && c != '\\' && c >= ' '),
      s"file name not offset-serializable: $last")
    DatOffset(n, last, generation())
  }

  // Trigger.AvailableNow pins the drain target ONCE at query start: the
  // query then processes exactly the files committed before it started,
  // in maxFilesPerTrigger-sized batches, and terminates — appends racing
  // the drain are picked up by the next run, not chased forever.
  @volatile private var availableNowTarget: Option[DatOffset] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    val files = committedFiles()
    availableNowTarget = Some(offsetAt(files, files.length))
  }

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(
      ReadLimit.allAvailable())

  override def initialOffset(): Offset = DatOffset(0, "", "")

  override def deserializeOffset(json: String): Offset =
    DatOffset.fromJson(json)

  // SupportsTriggerAvailableNow extends SupportsAdmissionControl: the
  // two-arg latestOffset below is the one the engine calls; the legacy
  // zero-arg form must never be reached
  override def latestOffset(): Offset =
    throw new IllegalStateException(
      "latestOffset() should not be called on an admission-controlled " +
        "source — latestOffset(start, limit) is the entry point")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[DatOffset]
    // ONE manifest read per call: the capped branch slices this same
    // snapshot, so an overwrite racing this trigger can never
    // index-out-of-bounds here — it surfaces as requirePrefix's loud
    // diagnostic in planInputPartitions instead
    val files = committedFiles()
    val target = availableNowTarget.getOrElse(offsetAt(files, files.length))
    limit match {
      case mf: ReadMaxFiles if target.files > s.files =>
        val capped = math.min(target.files, s.files + mf.maxFiles())
        if (capped >= target.files || files.length < capped) target
        else offsetAt(files, capped)
      case _ => target
    }
  }

  override def reportLatestOffset(): Offset = {
    val files = committedFiles()
    offsetAt(files, files.length)
  }

  /** The consumed prefix must still be the list's prefix (`files(n-1)`
    * carries the recorded name) AND belong to the same dataset
    * generation — a dataset deleted and rewritten numbers its parts from
    * 0 again, so names alone cannot tell a new snapshot from a
    * continuation.
    * An offset that consumed nothing is compatible with anything.
    */
  private def requirePrefix(files: Seq[String], o: DatOffset): Unit = {
    if (o.files == 0) return
    require(o.datasetId == generation() &&
        files.length >= o.files && files(o.files - 1) == o.lastFile,
      s"$path: offset expects file #${o.files} = '${o.lastFile}' of " +
        s"dataset generation '${o.datasetId}' but the manifest lists " +
        s"${files.length} files of generation '${generation()}'" +
        (if (files.length >= o.files)
           s" with '${files(o.files - 1)}' at that position" else "") +
        " — the dataset was overwritten under a live stream; restart " +
        "from a fresh checkpoint")
  }

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[DatOffset]
    val e = end.asInstanceOf[DatOffset]
    val files = committedFiles()
    requirePrefix(files, s)
    requirePrefix(files, e)
    files.slice(s.files, e.files)
      .filter(_.endsWith(".dat"))
      .flatMap(n => DatSplitPlanner.splitsForFile(
        Paths.get(path, n), pagesPerSplit, blockLo = blockLo,
        blockHi = blockHi))
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DatReaderFactory(strategy)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Per-session cache of plan-time file validation — header magic plus the
  * `.idx` sidecar's pairing-checksum verification. Without it every query
  * re-reads the header and the prefix/suffix checksum region of EVERY file
  * sequentially on the driver (O(files) driver I/O per plan — fine for
  * hundreds of files, a real planning bottleneck at a 100 TB dataset's
  * file count).
  *
  * Retention model: the planner only ever consumes bounds at SPLIT
  * granularity (`pagesPerSplit` pages per split), so per-page tuples are
  * aggregated to per-split bounds before caching — ~150 B per 1 MiB split
  * (~0.015% of data size) instead of ~100 B per 4 KiB page (~2.5%). The
  * cache is capped by ESTIMATED BYTES, not file count: a byte cap bounds
  * driver heap at any file-size mix, and eviction only costs
  * re-validation.
  *
  * Staleness: keyed by (path → size, mtime, pagesPerSplit), and a hit
  * whose cached bounds came from a paired sidecar additionally re-reads
  * the sidecar's 16-byte (size, checksum) trailer — the pairing checksum
  * covers the `.dat`'s content prefix/suffix, so an in-place same-size
  * rewrite landing within the filesystem's mtime granularity still
  * changes the trailer and forces re-validation (16-byte pread per file
  * per plan vs the full prefix/suffix read).
  */
private[graft] object DatSidecarCache {
  /** Aggregated bounds of one split (a run of `pagesPerSplit` pages). */
  final case class SplitBounds(minAddr: Array[Byte], maxAddr: Array[Byte],
                               minBlock: Long, maxBlock: Long)

  /** `idxSig` = the paired sidecar's (declaredSize, declaredSum) trailer,
    * defined iff `splits != null`; `idxSeen` = whether an .idx file (even
    * an unpaired one) existed at validation time.
    */
  final case class Entry(size: Long, mtime: Long, pagesPerSplit: Int,
                         nPages: Int, splits: Array[SplitBounds],
                         idxSig: Option[(Long, Long)], idxSeen: Boolean) {
    /** Rough driver-heap estimate: two 20 B arrays (+16 B headers each) +
      * 2 longs + object/record overhead per split, plus the entry shell.
      */
    def estBytes: Long =
      96L + (if (splits == null) 0L else splits.length * 160L)
  }

  private val MaxBytes = 64L << 20 // 64 MiB of bounds metadata
  private var totalBytes = 0L
  private val cache =
    new java.util.LinkedHashMap[String, Entry](128, 0.75f, true)

  private def put(key: String, ent: Entry): Unit = cache.synchronized {
    val old = cache.put(key, ent)
    if (old != null) totalBytes -= old.estBytes
    totalBytes += ent.estBytes
    val it = cache.entrySet().iterator()
    while (totalBytes > MaxBytes && it.hasNext) {
      val e = it.next()
      if (e.getValue ne ent) { // never evict the entry being returned
        totalBytes -= e.getValue.estBytes
        it.remove()
      }
    }
  }

  /** Test seam: (entries, estimated bytes) currently retained. */
  private[graft] def stats: (Int, Long) =
    cache.synchronized { (cache.size(), totalBytes) }
  private[graft] def clear(): Unit =
    cache.synchronized { cache.clear(); totalBytes = 0L }

  /** The 16-byte pairing trailer of `idxPath` as
    * (idxFileLen, declaredDatSize, declaredChecksum), None when the file
    * is unreadable or shorter than a trailer — the ONE copy of the
    * trailer layout, shared by cache validation and the reader's
    * page-pruning re-verification.
    */
  private[datasource] def readTrailer(
      idxPath: java.nio.file.Path): Option[(Long, Long, Long)] =
    try {
      val raf = new java.io.RandomAccessFile(idxPath.toFile, "r")
      try readTrailerFrom(raf) finally raf.close()
    } catch { case _: java.io.IOException => None }

  /** [[readTrailer]] against an ALREADY-OPEN handle, for callers that
    * must read the trailer and then other bytes of the SAME file
    * version: an open fd pins the inode, so an atomic path replace
    * between validation and use cannot pair a fresh file's bytes with a
    * stale file's validation (the page-pruning TOCTOU). Leaves the
    * handle open; seek position is unspecified afterwards.
    */
  private[datasource] def readTrailerFrom(
      raf: java.io.RandomAccessFile): Option[(Long, Long, Long)] =
    try {
      val len = raf.length()
      if (len < 16) None
      else {
        val t = new Array[Byte](16)
        raf.seek(len - 16)
        raf.readFully(t)
        Some((len, graft.functions.Bytes.get64be(t, 0),
          graft.functions.Bytes.get64be(t, 8)))
      }
    } catch { case _: java.io.IOException => None }

  /** A cached hit is only served if the sidecar situation is provably
    * unchanged: paired bounds re-check the 16-byte trailer; a no-bounds
    * entry is invalidated the moment an .idx appears where none was seen
    * (a persistently-unpaired sidecar keeps serving null bounds — that is
    * always correct, just unpruned).
    */
  private def hitStillValid(f: java.nio.file.Path, hit: Entry): Boolean = {
    val idxPath = Paths.get(f.toString.stripSuffix(".dat") + ".idx")
    hit.idxSig match {
      case Some((dSize, dSum)) =>
        readTrailer(idxPath).exists { case (_, size, sum) =>
          size == dSize && sum == dSum
        }
      case None => hit.idxSeen || !Files.exists(idxPath)
    }
  }

  /** The validated (nPages, per-split-bounds-or-null) of `f`, from cache
    * when unchanged (see class doc for the staleness model). Throws on bad
    * header magic (a corrupt or foreign file must fail the plan, cached or
    * not — only success is cached).
    */
  def validated(f: java.nio.file.Path, size: Long,
                pagesPerSplit: Int): Entry = {
    val pageSize = 1 << 12
    val key = f.toString
    val mtime = Files.getLastModifiedTime(f)
      .to(java.util.concurrent.TimeUnit.NANOSECONDS)
    val hit = cache.synchronized { cache.get(key) }
    if (hit != null && hit.size == size && hit.mtime == mtime &&
        hit.pagesPerSplit == pagesPerSplit && hitStillValid(f, hit))
      return hit
    val hBytes = new Array[Byte](Header.Size)
    val raf = new java.io.RandomAccessFile(f.toFile, "r")
    try raf.readFully(hBytes) finally raf.close()
    val bb = java.nio.ByteBuffer.wrap(hBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bb.getLong(0) == Header.Magic, s"$f: bad magic")
    // absolute-offset pages (reference layout): page 0 is the
    // header-shortened [256, 4096) region
    val nPages = ((size + pageSize - 1) / pageSize).toInt
    // page index: TRUE per-page (minAddr, maxAddr, minBlock, maxBlock)
    // bounds, 56 bytes/page + a 16-byte (size, checksum) trailer that
    // binds the sidecar to THIS .dat (per-file renames are atomic but
    // the pair is not — a stale same-page-count sidecar next to a
    // rewritten .dat would otherwise prune against wrong bounds and
    // silently drop rows). Any mismatch → index ignored (correct,
    // just unpruned).
    val idxPath = Paths.get(key.stripSuffix(".dat") + ".idx")
    val idxSeen = Files.exists(idxPath)
    var idxSig: Option[(Long, Long)] = None
    val splits: Array[SplitBounds] =
      if (idxSeen) {
        val raw = Files.readAllBytes(idxPath)
        val paired = raw.length == nPages * 56 + 16 && {
          val declaredSize =
            graft.functions.Bytes.get64be(raw, nPages * 56)
          val declaredSum =
            graft.functions.Bytes.get64be(raw, nPages * 56 + 8)
          declaredSize == size && {
            val pfx = new Array[Byte](
              math.min(size, graft.spark.StateFiles.PairPrefixLen.toLong)
                .toInt)
            val sfxLen = math.min(size,
              graft.spark.StateFiles.PairSuffixLen.toLong).toInt
            val sfx = new Array[Byte](sfxLen)
            val raf = new java.io.RandomAccessFile(f.toFile, "r")
            try {
              raf.readFully(pfx)
              raf.seek(size - sfxLen)
              raf.readFully(sfx)
            } finally raf.close()
            val ok = graft.spark.StateFiles.pairingChecksum(pfx, sfx) ==
              declaredSum
            if (ok) idxSig = Some((declaredSize, declaredSum))
            ok
          }
        }
        if (paired) {
          // aggregate per-page bounds to per-split ON PARSE — per-page
          // tuples never survive past this stack frame
          val nSplits = (nPages + pagesPerSplit - 1) / pagesPerSplit
          Array.tabulate(nSplits) { s =>
            val p0 = s * pagesPerSplit
            val p1 = math.min(p0 + pagesPerSplit, nPages)
            var minOff = p0 * 56
            var maxOff = p0 * 56 + 20
            var minB = graft.functions.Bytes.get64be(raw, p0 * 56 + 40)
            var maxB = graft.functions.Bytes.get64be(raw, p0 * 56 + 48)
            var p = p0 + 1
            while (p < p1) {
              val o = p * 56
              if (java.util.Arrays.compareUnsigned(
                    raw, o, o + 20, raw, minOff, minOff + 20) < 0)
                minOff = o
              if (java.util.Arrays.compareUnsigned(
                    raw, o + 20, o + 40, raw, maxOff, maxOff + 20) > 0)
                maxOff = o + 20
              val b0 = graft.functions.Bytes.get64be(raw, o + 40)
              val b1 = graft.functions.Bytes.get64be(raw, o + 48)
              if (b0 < minB) minB = b0
              if (b1 > maxB) maxB = b1
              p += 1
            }
            SplitBounds(
              java.util.Arrays.copyOfRange(raw, minOff, minOff + 20),
              java.util.Arrays.copyOfRange(raw, maxOff, maxOff + 20),
              minB, maxB)
          }
        } else null
      } else null
    val ent = Entry(size, mtime, pagesPerSplit, nPages, splits, idxSig,
      idxSeen)
    put(key, ent)
    ent
  }
}

case class DatInputPartition(file: String, startOffset: Long,
                             endOffset: Long,
                             pred: Option[PagePredicate] = None)
    extends InputPartition

class DatReaderFactory(strategy: Int) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[DatInputPartition]
    new PartitionReader[InternalRow] {
      private val pageSize = 1 << 12
      private var decodedPages = 0L
      private var skippedPages = 0L

      // set iff `ranges` came from a validated sidecar's page bounds —
      // only then do decoded-page counters tick (the full-split fallback
      // is "pruning inactive", not "every page pruned-in"). MUST be
      // declared before `ranges`: field initializers run in declaration
      // order, and keptRanges (called from the `ranges` initializer)
      // writes this flag.
      private var pruningActive = false

      /** Byte ranges of this split that can contain matching rows:
        * the whole split when no predicate / no trustable sidecar;
        * otherwise the merged runs of pages whose sidecar bounds
        * intersect the predicate. Every page is independently decodable
        * (the writer's page-restart property), so each run decodes with
        * a fresh StateReader.
        */
      private val ranges: Seq[(Long, Long)] = part.pred match {
        case None => Seq((part.startOffset, part.endOffset))
        case Some(pr) => keptRanges(pr)
      }

      private def keptRanges(pr: PagePredicate): Seq[(Long, Long)] = {
        val idxPath = part.file.stripSuffix(".dat") + ".idx"
        val full = Seq((part.startOffset, part.endOffset))
        try {
          // trailer validation and the bounds read share ONE open handle:
          // the fd pins the file version, so an atomic .idx replace
          // between the two reads cannot pair freshly-written bounds
          // with a stale file's validation (which could silently skip
          // pages that contain matching rows — exactly what this
          // re-verification exists to prevent)
          val raf = new java.io.RandomAccessFile(idxPath, "r")
          try {
            // the sidecar must still be the one the PLANNER validated
            // against this .dat (pairing trailer match, shared reader) —
            // else decode everything, which is always correct
            val len = DatSidecarCache.readTrailerFrom(raf) match {
              case Some((l, size, sum))
                  if size == pr.idxDeclaredSize &&
                    sum == pr.idxDeclaredSum =>
                l
              case _ => return full
            }
            val startPage = (part.startOffset / pageSize).toInt
            val endPage =
              ((part.endOffset + pageSize - 1) / pageSize).toInt
            val nPages = ((len - 16) / 56).toInt
            val last = math.min(endPage, nPages)
            if (startPage >= last) return full
            val bounds = new Array[Byte]((last - startPage) * 56)
            raf.seek(startPage.toLong * 56)
            raf.readFully(bounds)
            val out = Seq.newBuilder[(Long, Long)]
            var runStart = -1L
            var p = startPage
            while (p < last) {
              val o = (p - startPage) * 56
              val keepAddr =
                (pr.addrHi == null ||
                  java.util.Arrays.compareUnsigned(
                    java.util.Arrays.copyOfRange(bounds, o, o + 20),
                    pr.addrHi) <= 0) &&
                (pr.addrLo == null ||
                  java.util.Arrays.compareUnsigned(
                    java.util.Arrays.copyOfRange(bounds, o + 20, o + 40),
                    pr.addrLo) >= 0)
              val keep = keepAddr &&
                pr.blockLo <= graft.functions.Bytes.get64be(bounds, o + 48) &&
                pr.blockHi >= graft.functions.Bytes.get64be(bounds, o + 40)
              if (keep) {
                if (runStart < 0)
                  runStart = math.max(part.startOffset, p.toLong * pageSize)
              } else {
                DatPageMetrics.pagesSkipped.increment()
                skippedPages += 1
                if (runStart >= 0) {
                  out += ((runStart,
                    math.min(part.endOffset, p.toLong * pageSize)))
                  runStart = -1L
                }
              }
              p += 1
            }
            if (runStart >= 0) out += ((runStart, part.endOffset))
            pruningActive = true
            out.result()
          } finally raf.close()
        } catch { case _: java.io.IOException => full }
      }

      private val rangeIt = ranges.iterator
      private var it: StateReader = _
      private var current: StateItem = _

      private def advance(): Boolean = {
        while ((it == null || !it.hasNext) && rangeIt.hasNext) {
          val (s, e) = rangeIt.next()
          val len = (e - s).toInt
          val out = new Array[Byte](len)
          val raf = new java.io.RandomAccessFile(part.file, "r")
          try { raf.seek(s); raf.readFully(out) }
          finally raf.close()
          // decoded-page accounting happens when a range's bytes are
          // ACTUALLY read, not while planning kept ranges: a task that
          // stops early (limit pushdown closing the reader) must not
          // report pages as decoded that were never touched — the
          // telemetry backs the O(log N)-IO claim, so it errs low
          if (pruningActive) {
            val pages = (e + pageSize - 1) / pageSize - s / pageSize
            DatPageMetrics.pagesDecoded.add(pages)
            decodedPages += pages
          }
          it = new StateReader(strategy, out, 0, out.length)
        }
        it != null && it.hasNext
      }

      override def next(): Boolean =
        if (advance()) { current = it.next(); true } else false

      override def get(): InternalRow = {
        val i = current
        InternalRow(i.address, i.block, i.isStorage, i.nonce, i.incarnation,
          i.balance, i.codeHash, i.slot, i.value)
      }

      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        Array(DatTaskMetric("datPagesDecoded", decodedPages),
          DatTaskMetric("datPagesSkipped", skippedPages))

      override def close(): Unit = ()
    }
  }
}

// ---- write path (S8 as a first-class DataSource V2 sink, batch and
// streaming): the only code that encodes a `.dat` part ----
//
//   df.write.format("graft.spark.datasource.DatDataSource")
//     .option("strategy", "1").mode("append").save(dir)
//
//   df.writeStream.format("graft.spark.datasource.DatDataSource")
//     .option("strategy", "0").option("checkpointLocation", ckpt)
//     .start(dir)
//
// StateFiles.save (write/append/compact, Cli.convert, CopyFile) saves
// through it. Each task encodes its (pre-sorted) partition and stages
// the part; the driver's commit publishes the parts (StateFiles.stage/
// publish); abort discards the temps and leaves the previous snapshot
// untouched.
//
// Input: the nine StateItem columns at their types, by name, plus an
// optional `non_advancing: boolean` (the W1 flag), which the tasks count
// into anomaly_non_advancing_block. The table accepts any schema, so
// DatWriteSpec refuses any other shape while the write is planned, and
// the tasks refuse a null in any of these columns.
//
// Options, parsed once by DatWriteSpec, refused when malformed:
//   strategy                 codec strategy (default 0)
//   blockStart, blockEnd     a declared block range, both or neither
//   streamBatchId, streamId  a foreachBatch append's replay watermark
//                            and owner, which factory() checks
//   nonAdvancing             a W1 count to carry (StateFiles.compact)
//
// Block range, one rule in DatWrite's commit: a declared range is
// recorded as given, in every part header and the manifest; otherwise
// each header records its rows' min and max block, the manifest the
// range over the parts (0/0 for no rows). An append widens the
// manifest's range. A declared range is not checked against the rows:
// a pruned convert keeps block-0 rows below its start (the LAG default),
// and a plain-state key listed twice leaves a row at latest + 1 above
// its end, a tolerated anomaly (CliSpec) that CopyFile and compact carry.
//
// A streaming epoch is one append increment, merged into the manifest
// with (stream_batch = epochId, stream_id = the streaming query id,
// which the checkpoint keeps); a replayed epoch is detected via
// lastStreamBatch and discarded.

/** A write's input ordinals (StateItem fields in schema order; `flag` is
  * `non_advancing`'s, -1 when absent) and options, resolved on the driver.
  */
final case class DatWriteSpec(ordinals: Array[Int], flag: Int,
                              range: Option[(Long, Long)],
                              streamBatchId: Long, streamId: String,
                              nonAdvancing: Option[Long])

object DatWriteSpec {
  private val Flag = graft.pipeline.FullHistory.NonAdvancing

  def apply(path: String, schema: StructType,
            options: CaseInsensitiveStringMap): DatWriteSpec = {
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    def refuse(why: String) = throw new IllegalArgumentException(
      s"dat sink $path: $why (input ${schema.simpleString})")
    StateItem.schema.fields.filterNot(f => types.get(f.name)
        .contains(f.dataType)).foreach(f =>
      refuse(s"input must carry ${f.name}: ${f.dataType.simpleString}"))
    val extra = schema.fieldNames.toSet -- StateItem.schema.fieldNames - Flag
    if (extra.nonEmpty) refuse(s"unexpected columns ${extra.mkString(", ")}")
    if (types.get(Flag).exists(_ != BooleanType))
      refuse(s"$Flag must be boolean")
    def long(k: String): Option[Long] = Option(options.get(k)).map(v =>
      v.toLongOption.getOrElse(refuse(s"option $k=$v is not an integer")))
    val range = (long("blockStart"), long("blockEnd")) match {
      case (None, None) => None
      case (Some(s), Some(e)) if s >= 0 && e >= 0 => Some((s, e))
      case r => refuse(s"blockStart and blockEnd declare a range together, " +
        s"both >= 0 (got $r)")
    }
    val streamBatchId = long("streamBatchId").getOrElse(-1L)
    val streamId = Option(options.get("streamId")).getOrElse("")
    // the batch id is only monotone WITHIN one linear stream
    if (streamBatchId >= 0L && streamId.isEmpty)
      refuse("a streamBatchId needs its streamId — use " +
        "StateFiles.streamIdentity(checkpointDir)")
    DatWriteSpec(StateItem.schema.fieldNames.map(schema.fieldIndex),
      if (types.contains(Flag)) schema.fieldIndex(Flag) else -1,
      range, streamBatchId, streamId, long("nonAdvancing"))
  }
}

/** One task's part, or None for an empty input partition (repartitionByRange
  * routinely produces those, so this is the common case, not a corner).
  */
case class DatCommitMessage(
    part: Option[graft.spark.StateFiles.Staged[graft.spark.StateFiles.PartStats]])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class DatWrite(path: String, strategy: Int, truncate: Boolean,
               spec: DatWriteSpec, queryId: String = "")
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite
    with org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write._
  import graft.spark.StateFiles

  /** Every temp this write stages carries this id (a streaming epoch's
    * temps add the epoch), so abort can discard them all.
    */
  private val writeId = java.util.UUID.randomUUID().toString

  override def toBatch: BatchWrite = this

  // both interfaces default this; Spark's coordinator picks one committing
  // attempt per partition for the batch and the streaming write alike
  override def useCommitCoordinator(): Boolean = true

  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    // append-only sink: complete/update modes would truncate per epoch,
    // which the manifest's append-forever contract does not model
    require(!truncate, "dat streaming sink supports append output mode only")
    require(queryId.nonEmpty, "streaming write without a query id")
    require(spec.streamBatchId < 0L && spec.streamId.isEmpty,
      "dat streaming sink: streamBatchId/streamId are the epoch's")
    this
  }

  /** Runs on the driver before the write's (or the epoch's) tasks start:
    * an append's guards must fail before any part is staged.
    */
  private def factory(): DatWriterFactory = {
    Files.createDirectories(Paths.get(path))
    if (!truncate) StateFiles.requireAppendable(path, strategy, spec.streamId)
    new DatWriterFactory(path, strategy, spec, writeId)
  }

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = factory()

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : streaming.StreamingDataWriterFactory = factory()

  /** The one `.dat` commit: the declared range, else the range over the
    * staged parts' headers (none for a write with no rows).
    */
  private def publish(messages: Array[WriterCommitMessage],
                      streamBatchId: Long, streamId: String): Unit = {
    val staged =
      messages.toSeq.flatMap(_.asInstanceOf[DatCommitMessage].part)
    val stats = staged.map(_.stats)
    val range = spec.range.orElse(
      if (stats.isEmpty) None
      else Some((stats.map(_.blockStart).min, stats.map(_.blockEnd).max)))
    StateFiles.publish(path, staged, overwrite = truncate)(parts =>
      StateFiles.commitManifest(path, strategy, range,
        mergeManifest = !truncate, parts, streamBatchId, streamId,
        if (spec.flag >= 0) Some(stats.map(_.anomNonAdvancing).sum)
        else spec.nonAdvancing))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    publish(messages, spec.streamBatchId, spec.streamId)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    StateFiles.discard(path, writeId)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit =
    // replay guard: the manifest carries the last committed epoch FOR
    // THIS QUERY; an older-or-equal epoch re-delivered after a crash
    // must drop its temps, not append twice. A different stream_id in
    // the manifest fails loudly inside lastStreamBatch.
    if (StateFiles.lastStreamBatch(path, queryId).exists(_ >= epochId))
      abort(epochId, messages)
    else publish(messages, epochId, queryId)

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    StateFiles.discard(path, DatWriterFactory.epochWriteId(writeId, epochId))
}

/** The one DataWriter factory of the batch and the streaming write: the
  * streaming form tags its temps with the epoch, so one epoch's abort
  * never discards another's.
  */
class DatWriterFactory(path: String, strategy: Int, spec: DatWriteSpec,
                       writeId: String)
    extends org.apache.spark.sql.connector.write.DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
  import graft.spark.StateFiles

  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    writer(partitionId, writeId)

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    writer(partitionId, DatWriterFactory.epochWriteId(writeId, epochId))

  private def writer(partitionId: Int, id: String) =
    new DataWriter[InternalRow] {
      import DatWriterFactory.Names
      private val w = StateFiles.partWriter(strategy)
      private val o = spec.ordinals
      // the item ordinals, then the flag's when present
      private val checked = o ++ Some(spec.flag).filter(_ >= 0)
      // the block range of the rows written so far; empty while lo > hi
      private var lo = Long.MaxValue
      private var hi = Long.MinValue
      private var flagged = 0L

      override def write(r: InternalRow): Unit = {
        // the table accepts any schema, so Spark adds no not-null check:
        // a null would read as 0, false or a null array
        var i = 0
        while (i < checked.length) {
          require(!r.isNullAt(checked(i)), s"dat sink $path: null ${Names(i)}")
          i += 1
        }
        val block = r.getLong(o(1))
        w.write(StateItem(r.getBinary(o(0)), block, r.getBoolean(o(2)),
          r.getLong(o(3)), r.getLong(o(4)), r.getBinary(o(5)),
          r.getBinary(o(6)), r.getBinary(o(7)), r.getBinary(o(8))))
        if (spec.flag >= 0 && r.getBoolean(spec.flag)) flagged += 1
        lo = math.min(lo, block)
        hi = math.max(hi, block)
      }

      // the header records the declared range, else the rows'
      override def commit(): WriterCommitMessage =
        DatCommitMessage(if (lo > hi) None else {
          val (start, end) = spec.range.getOrElse((lo, hi))
          Some(StateFiles.stagePart(w, strategy, start, end, flagged, path,
            id, partitionId))
        })

      // nothing is on disk before commit(), and a failed stage leaves no
      // temp behind
      override def abort(): Unit = ()

      override def close(): Unit = ()
    }
}

object DatWriterFactory {
  private val Names =
    StateItem.schema.fieldNames :+ graft.pipeline.FullHistory.NonAdvancing

  def epochWriteId(writeId: String, epochId: Long): String =
    s"$writeId-e$epochId"
}
