package graft.spark.datasource

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 read path for WARC archives (the `.dat` source's
  * pruned-scan discipline applied to the paired-corpus format; r18
  * VERDICT stretch item): `spark.read.format("graft.spark.datasource
  * .WarcDataSource").load(dir)` scans every `.warc`/`.warc.gz` under
  * `dir` with
  *
  *   - **one split per archive file** — a gzip-member stream has no
  *     random access, so the file is the smallest independently
  *     decodable unit (the TxBodyFiles stance); read parallelism ==
  *     file count, which is exactly the knob
  *     [[graft.sources.Warc.writeShardedTypedRecords]]'s size-targeted
  *     rotation sets — sharded archives ARE the parallel-scan layout;
  *   - **record-type / url-prefix pushdown** — `rec_type = 'x'`,
  *     `rec_type IN (...)` and `url LIKE 'p%'` predicates reach the
  *     reader, which drops non-matching members BEFORE materializing a
  *     row (the member must still be decompressed to find its
  *     boundary — that is the format — but its payload never becomes a
  *     row, never allocates per-row, never enters the scan's output).
  *     All filters stay residual (Spark re-evaluates them row-by-row),
  *     the superset-safe `.dat` stance;
  *   - **column pruning** — a projection without `payload` (the common
  *     "list the archive" shape) never carries member bytes into rows:
  *     the reader emits only the pruned schema, so a url/type listing
  *     of a media archive is metadata-sized however large the blobs.
  *
  * Schema = [[graft.sources.Warc.readRaw]]'s (file, rec_type, url,
  * warc_date, content_type, n_bytes, payload) — the mixed-archive view
  * whose `warcinfo` members are first-class filterable rows.
  */
class WarcDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WarcTable(properties.get("path"))
}

object WarcDataSource {
  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("rec_type", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("warc_date", StringType, nullable = false),
    StructField("content_type", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** The files directly under `dir` matching the glob `pattern`. */
  private[datasource] def glob(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      pattern: String): Seq[org.apache.hadoop.fs.FileStatus] =
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(dir, pattern)))
      .fold(Seq.empty[org.apache.hadoop.fs.FileStatus])(_.toSeq)

  /** Every `*.warc.gz` / `*.warc` file directly under `path`, by full
    * path in name order — the batch scan's splits and the stream's
    * offset order.
    */
  def listFiles(path: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(
      graft.sources.Warc.sessionHadoopConf(SparkSession.active))
    Seq("*.warc.gz", "*.warc").flatMap(glob(fs, dir, _))
      .filter(_.isFile).map(_.getPath.toString).distinct.sorted
  }
}

class WarcTable(path: String) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"warc($path)"
  override def schema(): StructType = WarcDataSource.schema
  // ACCEPT_ANY_SCHEMA: the write shape (writeTypedRecords' 5 columns,
  // + optional shard_id) is narrower than the read schema, whose
  // `file`/`n_bytes` are scan-derived — Spark's byName output
  // resolution would reject every legitimate write, so the sink
  // validates its own shape (WarcWrite.validate, loud on anything
  // unexpected) — the Kafka-sink pattern.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(path,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new WarcWriteBuilder(path, info.schema(), info.queryId())
}

class WarcScanBuilder(path: String,
                      maxFilesPerTrigger: Option[Int] = None)
    extends ScanBuilder with Scan with Batch
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var recTypes: Option[Set[String]] = None
  private var urlPrefix: Option[String] = None
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = WarcDataSource.schema

  /** Consume rec_type equality/IN and url prefix predicates for
    * reader-side member skipping; EVERYTHING stays residual (Spark
    * re-evaluates row-by-row), so the skip only has to be a superset —
    * the `.dat` source's stance. Conjunctions of the same column
    * intersect (two rec_type equalities with different values read
    * nothing, correctly).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val consumed = Array.newBuilder[Filter]
    filters.foreach {
      case f @ EqualTo("rec_type", v: String) =>
        recTypes = Some(recTypes.fold(Set(v))(_ intersect Set(v)))
        consumed += f
      case f @ In("rec_type", vs) if vs.forall(_.isInstanceOf[String]) =>
        val s = vs.map(_.asInstanceOf[String]).toSet
        recTypes = Some(recTypes.fold(s)(_ intersect s))
        consumed += f
      case f @ StringStartsWith("url", p) =>
        // two prefixes: keep the longer if one extends the other, else
        // nothing can match — represent as an impossible prefix
        urlPrefix = Some(urlPrefix.fold(p) { q =>
          if (p.startsWith(q)) p
          else if (q.startsWith(p)) q
          else "\u0000impossible\u0000"
        })
        consumed += f
      case _ => ()
    }
    pushed = consumed.result()
    filters // all residual (superset-safe)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"warc($path) skip=[${recTypes.fold("")(_.mkString("|"))}" +
      s"${urlPrefix.fold("")(p => s" url^=$p")}] " +
      s"columns=[${required.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] =
    WarcDataSource.listFiles(path)
      .map(f => WarcInputPartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    new WarcReaderFactory(
      new graft.sources.Warc.ShippedConf(
        graft.sources.Warc.sessionHadoopConf(spark)),
      required.fieldNames, recTypes, urlPrefix)
  }

  // Spark does not push filters/pruning into streaming DSv2 scans (the
  // DatDataSource finding, verified on 4.1.2) — the stream reads the
  // full schema and composes with .filter(). The stream's reader
  // factory emits the full 7-column schema unconditionally, so that
  // version-specific behavior is load-bearing: if a future Spark
  // starts pruning/pushing into streaming scans, rows would silently
  // misalign against readSchema(). Fail loudly instead (ADVICE r19).
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(required == WarcDataSource.schema && pushed.isEmpty,
      s"warc($path): streaming scan built with pruned columns " +
        s"[${required.fieldNames.mkString(",")}] or pushed filters " +
        s"(${pushed.length}) — this Spark version prunes streaming " +
        "DSv2 scans, but WarcMicroBatchStream's reader emits the full " +
        "schema; teach createReaderFactory the pruned column list " +
        "before trusting this stream")
    new WarcMicroBatchStream(path, maxFilesPerTrigger)
  }
}

case class WarcInputPartition(file: String) extends InputPartition

case class WarcOffset(files: Int, lastFile: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    s"""{"files":$files,"last":"$lastFile"}"""
}

object WarcOffset {
  def fromJson(json: String): WarcOffset = {
    val files = """"files":(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toInt)
      .getOrElse(sys.error(s"bad WarcOffset json: $json"))
    val last = (""""last":"([^"]*)"""").r.findFirstMatchIn(json)
      .map(_.group(1))
      .getOrElse(sys.error(s"bad WarcOffset json: $json"))
    WarcOffset(files, last)
  }
}

/** Micro-batch tail of a WARC landing directory — the incremental read
  * side of the archive formats' loop, on the `.dat` source's offset
  * model with the directory listing in place of a manifest: offsets are
  * PREFIXES of the name-sorted file list, so the streamed directory
  * must be append-only with lexically-increasing names (the
  * object-store landing-prefix convention — timestamp/sequence-named
  * drops; `writeShardedTypedRecords`' zero-padded shard numbers
  * qualify). A file renamed, removed, or inserted BEFORE the consumed
  * prefix stops the recorded name matching and planning fails loudly —
  * the fail-don't-guess stance, not silent re-reads. `maxFilesPerTrigger`
  * caps admission; `Trigger.AvailableNow` pins the target at query
  * start and drains to it in capped batches.
  */
class WarcMicroBatchStream(path: String, maxFilesPerTrigger: Option[Int])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  private def offsetAt(files: Seq[String], n: Int): WarcOffset = {
    val last = if (n == 0) "" else files(n - 1)
    // hand-built offset JSON, no escaping: a quote/backslash in a file
    // name must fail HERE, not corrupt the durable offset log
    require(last.forall(c => c != '"' && c != '\\' && c >= ' '),
      s"file name not offset-serializable: $last")
    WarcOffset(n, last)
  }

  @volatile private var availableNowTarget: Option[WarcOffset] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    val files = WarcDataSource.listFiles(path)
    availableNowTarget = Some(offsetAt(files, files.length))
  }

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(
      ReadLimit.allAvailable())

  override def initialOffset(): Offset = WarcOffset(0, "")

  override def deserializeOffset(json: String): Offset =
    WarcOffset.fromJson(json)

  override def latestOffset(): Offset =
    throw new IllegalStateException(
      "latestOffset() should not be called on an admission-controlled " +
        "source — latestOffset(start, limit) is the entry point")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[WarcOffset]
    val files = WarcDataSource.listFiles(path)
    val target = availableNowTarget.getOrElse(
      offsetAt(files, files.length))
    limit match {
      case mf: ReadMaxFiles if target.files > s.files =>
        val capped = math.min(target.files, s.files + mf.maxFiles())
        if (capped >= target.files || files.length < capped) target
        else offsetAt(files, capped)
      case _ => target
    }
  }

  override def reportLatestOffset(): Offset = {
    val files = WarcDataSource.listFiles(path)
    offsetAt(files, files.length)
  }

  /** The consumed prefix must still be the sorted listing's prefix —
    * see the class doc's append-only naming contract.
    */
  private def requirePrefix(files: Seq[String], o: WarcOffset): Unit = {
    if (o.files == 0) return
    require(files.length >= o.files && files(o.files - 1) == o.lastFile,
      s"$path: offset expects file #${o.files} = '${o.lastFile}' but " +
        s"the directory lists ${files.length} files" +
        (if (files.length >= o.files)
           s" with '${files(o.files - 1)}' at that position" else "") +
        " — the landing directory was mutated under a live stream " +
        "(non-appending name, removal, or rewrite); restart from a " +
        "fresh checkpoint")
  }

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[WarcOffset]
    val e = end.asInstanceOf[WarcOffset]
    val files = WarcDataSource.listFiles(path)
    requirePrefix(files, s)
    requirePrefix(files, e)
    files.slice(s.files, e.files)
      .map(f => WarcInputPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    new WarcReaderFactory(
      new graft.sources.Warc.ShippedConf(
        graft.sources.Warc.sessionHadoopConf(spark)),
      WarcDataSource.schema.fieldNames, None, None)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Serialized to executors: the session Hadoop conf rides the
  * [[graft.sources.Warc.ShippedConf]] carrier (the same vehicle the
  * mapPartitions readers broadcast), the pruned column list as names.
  */
class WarcReaderFactory(conf: graft.sources.Warc.ShippedConf,
                        columns: Array[String],
                        recTypes: Option[Set[String]],
                        urlPrefix: Option[String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val file = p.asInstanceOf[WarcInputPartition].file
    new PartitionReader[InternalRow] {
      private val it = graft.sources.Warc.parseFileRaw(file, conf.value)
        .filter(r => recTypes.forall(_.contains(r.rec_type)) &&
          urlPrefix.forall(r.url.startsWith))
      private var cur: graft.sources.Warc.RawRecord = _

      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false

      override def get(): InternalRow = {
        val values: Array[Any] = columns.map {
          case "file" => UTF8String.fromString(cur.file)
          case "rec_type" => UTF8String.fromString(cur.rec_type)
          case "url" => UTF8String.fromString(cur.url)
          case "warc_date" => UTF8String.fromString(cur.warc_date)
          case "content_type" => UTF8String.fromString(cur.content_type)
          case "n_bytes" => cur.bytes.length.toLong
          case "payload" => cur.bytes
          case other => throw new IllegalArgumentException(
            s"warc source has no column '$other'")
        }
        InternalRow.fromSeq(values.toIndexedSeq)
      }

      override def close(): Unit = ()
    }
  }
}
// ---- write path (the paired-corpus sink as first-class DSv2; r19
// VERDICT #2) — the ONE writer of WARC files: every graft.sources.Warc
// write entry point is a thin overwrite through it ----
//
//   Warc.writeShardedTypedRecords(df, dir, targetBytes)  // sharded
//     = assignShards + write.format(...).mode("overwrite").save(dir)
//
//   Warc.writeTypedRecords(df, dir)                // plain overwrite
//   df.write.format(...).mode("append").save(dir)  // plain parts
//
//   df.writeStream.format(...).option("checkpointLocation", ckpt)
//     .start(landingDir)                           // landing appends
//
// Input schema is the writeTypedRecords shape — (rec_type, url,
// warc_date, content_type, payload) — plus an OPTIONAL shard_id
// (assignShards' column): its presence switches the sink into
// size-targeted shard rotation. The table declares ACCEPT_ANY_SCHEMA
// (the Kafka-sink pattern: the write shape is narrower than the read
// schema, whose `file`/`n_bytes` are scan-derived), so the builder
// validates the shape itself and fails loudly on anything else.
//
// Commit protocol is the .dat sink's two-phase commit: tasks stream
// their (pre-arranged) partitions into attempt-unique TEMP names and
// send (finalName, tempName) pairs to the driver; BatchWrite.commit
// renames everything into place (truncate additionally GCs the
// previous snapshot's files and any .tmp-* leftover of a killed run
// AFTER the renames); abort deletes temps and leaves the previous files
// untouched, so a failed overwrite keeps the old snapshot readable.
// Empty partitions write no file. The STREAMING sink appends
// one increment per epoch under lexically-INCREASING names
// (stream-<epoch>-<seq>.warc.gz — the micro-batch source's append-only
// landing contract), with a replay guard persisted in a `_warc_stream`
// sidecar (invisible to the *.warc/*.warc.gz read globs): a replayed
// epoch after a crash drops its temps instead of double-appending, and
// a DIFFERENT query's stream id fails loudly (the landing dir has one
// producer — the StateFiles.lastStreamBatch contract).
//
// Shard rotation is NOT writer state: the Write declares
// RequiresDistributionAndOrdering (clustered by shard_id, ordered by
// (shard_id, rec_type, url)) and Spark plans the exchange + sort —
// each shard file is then written whole by exactly one task, rotating
// on the boundary, byte-identical to a driver-side serialization of
// the assignment (WarcSpec-pinned). Sharded mode is a BUILD operation:
// ids restart at 0 for every assignment, so appending into a dir that
// already has shard files would collide — overwrite only — and an
// overwrite's commit REPLACES same-named shard files one by one (names
// carry the id, so they cannot be fresh): a rebuild of a live archive
// is not a reader-isolated snapshot swap; the plain part-* path, whose
// numbers ARE fresh per write, keeps that property. Streaming +
// shard_id is rejected for the same reason (ids would collide across
// epochs).

class WarcWriteBuilder(path: String, schema: StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new WarcWrite(path, schema, doTruncate, queryId)
}

object WarcWrite {
  private val Required: Seq[(String, DataType)] = Seq(
    "rec_type" -> StringType, "url" -> StringType,
    "warc_date" -> StringType, "content_type" -> StringType,
    "payload" -> BinaryType)

  /** ACCEPT_ANY_SCHEMA skips Spark's byName output resolution, so the
    * shape check is OURS to make — and it must fail loudly: an extra
    * column would otherwise be silently dropped from the archive, and
    * a wrong type would corrupt members at write time.
    */
  private[datasource] def validate(path: String,
                                   schema: StructType): Boolean = {
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    Required.foreach { case (n, t) =>
      require(byName.get(n).contains(t),
        s"warc sink $path: input must carry $n: ${t.simpleString} " +
          s"(got schema ${schema.simpleString}) — the " +
          "writeTypedRecords shape, plus an optional shard_id: bigint " +
          "from Warc.assignShards")
    }
    val extra = schema.fieldNames.toSet --
      Required.map(_._1).toSet - "shard_id"
    require(extra.isEmpty,
      s"warc sink $path: unexpected columns ${extra.mkString(", ")} — " +
        "a WARC member has no home for them; drop or fold them into " +
        "the payload before writing")
    if (schema.fieldNames.contains("shard_id")) {
      require(byName("shard_id") == LongType,
        s"warc sink $path: shard_id must be bigint (assignShards' " +
          s"column), got ${byName("shard_id").simpleString}")
      true
    } else false
  }

  private[datasource] def fs(path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(
      graft.sources.Warc.sessionHadoopConf(SparkSession.active)), p)
  }

  /** Largest existing part number + 1 — fresh names for every write
    * (the .dat nextPartBase stance): an overwrite's renames then never
    * land on a name the previous snapshot used, so a reader holding
    * the old listing keeps reading old bytes until the post-commit GC.
    * NOTE this reader-snapshot property holds for PLAIN part names
    * only: shard-NNNNN names carry the assignShards id, which restarts
    * at 0 every assignment — a sharded overwrite is a REBUILD (the
    * writeShardedTypedRecords contract), not an isolated snapshot
    * swap; don't read an archive while rebuilding it in place.
    *
    * The regex accepts ANY digit run, not \d{5}: `%05d` widens past
    * five digits at part 100000, and a 5-digit-only match would make
    * those parts invisible here — the next append would then re-issue
    * their numbers and silently replace data files (review r20).
    */
  private[datasource] def nextPartBase(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Int = {
    val re = "part-(\\d+)\\.warc\\.gz".r
    WarcDataSource.glob(fs, dir, "part-*.warc.gz")
      .map(_.getPath.getName).flatMap {
        case re(n) => Some(n.toInt)
        case _     => None
      }.maxOption.fold(0)(_ + 1)
  }

  /** The publish loop shared by the batch and streaming commits: every
    * (finalName, temp) pair renames into place. An existing dst is
    * deleted first — a RETRIED commit may find its own earlier rename
    * (fresh names mean any existing dst belongs to THIS write), and a
    * REPLAYED streaming epoch supersedes its pre-crash files.
    */
  private[datasource] def publish(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      files: Seq[(String, String)], ctx: String): Unit =
    files.foreach { case (name, tmp) =>
      val dst = new org.apache.hadoop.fs.Path(dir, name)
      if (fs.exists(dst)) fs.delete(dst, false)
      if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dst))
        throw new java.io.IOException(
          s"warc $ctx failed: rename $tmp -> $dst")
    }

  /** Best-effort temp cleanup shared by every abort/replay path. */
  private[datasource] def dropTemps(
      fs: org.apache.hadoop.fs.FileSystem,
      files: Seq[(String, String)]): Unit =
    files.foreach { case (_, tmp) =>
      try fs.delete(new org.apache.hadoop.fs.Path(tmp), false)
      catch { case _: java.io.IOException => () }
    }
}

case class WarcCommitMessage(files: Seq[(String, String)], rows: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

// ---- sink observability (the DatDataSource pages-decoded precedent,
// applied to the WRITE side): members / payload bytes / file
// rotations flow through the DSv2 CustomMetric channel into the SQL
// UI's write node — the surface a cluster operator actually watches
// when an archive build is slow (rotation count says whether the
// size target matches the data; payload bytes say whether the
// bottleneck is encode or commit).

class WarcMembersWrittenMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "warcMembersWritten"
  override def description(): String =
    "warc members written (excl. per-file warcinfo)"
}

class WarcPayloadBytesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "warcPayloadBytes"
  override def description(): String =
    "warc payload bytes written (pre-gzip)"
}

class WarcFilesRotatedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "warcFilesRotated"
  override def description(): String =
    "warc files opened (parts, shard rotations, epoch increments)"
}

class WarcWrite(path: String, schema: StructType, truncate: Boolean,
                queryId: String)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite
    with org.apache.spark.sql.connector.write
      .RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.write._

  private val sharded = WarcWrite.validate(path, schema)

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new WarcMembersWrittenMetric, new WarcPayloadBytesMetric,
      new WarcFilesRotatedMetric)

  override def toBatch: BatchWrite = this

  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!truncate,
      "warc streaming sink supports append output mode only — a " +
        "landing directory only ever EXTENDS (the micro-batch " +
        "source's offset contract)")
    require(!sharded,
      "warc streaming sink cannot rotate shards: assignShards ids " +
        "restart at 0 per batch and would collide across epochs — " +
        "drop shard_id; epochs are the increment unit")
    require(queryId.nonEmpty, "streaming write without a query id")
    new WarcStreamingWrite(path, schema, queryId)
  }

  // shard rotation is planned, not improvised: Spark inserts the
  // clustered exchange + per-partition sort, and the writer only
  // rotates files on the boundary
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (sharded)
      org.apache.spark.sql.connector.distributions.Distributions
        .clustered(Array(
          org.apache.spark.sql.connector.expressions.Expressions
            .identity("shard_id")))
    else org.apache.spark.sql.connector.distributions.Distributions
      .unspecified()

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (!sharded)
      Array.empty // plain mode preserves the caller's row order
    else {
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
      Array("shard_id", "rec_type", "url").map(c =>
        Expressions.sort(Expressions.identity(c),
          SortDirection.ASCENDING))
    }

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val (fs, dir) = WarcWrite.fs(path)
    fs.mkdirs(dir)
    val partBase = if (sharded) 0 else WarcWrite.nextPartBase(fs, dir)
    if (sharded && !truncate) {
      // shard ids restart at 0 per assignment — appending a second
      // assignment into the same dir would collide names/ids
      val existing = WarcDataSource.glob(fs, dir, "shard-*.warc.gz").length
      require(existing == 0,
        s"warc sink $path: cannot append a sharded assignment into a " +
          s"directory with $existing existing shard files (ids would " +
          "collide) — use mode(\"overwrite\") to rebuild the archive")
    }
    new WarcWriterFactory(path, schema,
      new graft.sources.Warc.ShippedConf(
        graft.sources.Warc.sessionHadoopConf(SparkSession.active)),
      sharded, partBase, epochId = -1L)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages
      .collect { case m: WarcCommitMessage => m.files }.flatten
      .sortBy(_._1)
    val (fs, dir) = WarcWrite.fs(path)
    WarcWrite.publish(fs, dir, files, "commit")
    if (truncate) {
      // snapshot is live; files outside the committed set are garbage,
      // and so are the .tmp-* leftovers of a killed run
      val keep = files.map(_._1).toSet
      Seq("part-*.warc.gz", "shard-*.warc.gz", ".tmp-*")
        .flatMap(WarcDataSource.glob(fs, dir, _))
        .foreach { s =>
          if (!keep.contains(s.getPath.getName))
            try fs.delete(s.getPath, false)
            catch { case _: java.io.IOException => () } // best-effort
        }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val (fs, _) = WarcWrite.fs(path)
    WarcWrite.dropTemps(fs,
      messages.collect { case m: WarcCommitMessage => m.files }.flatten
        .toSeq)
  }
}

/** One DataWriter implementation for all three modes — plain parts
  * (one file per non-empty partition), shard rotation (file switch on
  * the pre-sorted shard_id boundary), and streaming epochs (plain
  * parts under epoch-tagged names). Column indices are resolved by
  * NAME at factory build (ACCEPT_ANY_SCHEMA means the input's column
  * order is the caller's); nulls fail loudly — a null member field has
  * no WARC encoding, and writing an empty one would silently diverge
  * from the frame that claimed the row.
  */
class WarcWriterFactory(path: String, schema: StructType,
                        conf: graft.sources.Warc.ShippedConf,
                        sharded: Boolean, partBase: Int, epochId: Long)
    extends org.apache.spark.sql.connector.write.DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {

  private val iRec = schema.fieldIndex("rec_type")
  private val iUrl = schema.fieldIndex("url")
  private val iDate = schema.fieldIndex("warc_date")
  private val iCt = schema.fieldIndex("content_type")
  private val iPay = schema.fieldIndex("payload")
  private val iShard = if (sharded) schema.fieldIndex("shard_id") else -1

  // batch entry point
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    writer(partitionId, taskId, epochId)

  // streaming entry point (epoch rides the name; the factory's own
  // epochId field is the batch sentinel -1)
  override def createWriter(partitionId: Int, taskId: Long, epoch: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    writer(partitionId, taskId, epoch)

  private def writer(partitionId: Int, taskId: Long, epoch: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      private val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(conf.value)
      private var out: org.apache.hadoop.fs.FSDataOutputStream = _
      private var curShard = -1L
      private var rows = 0L
      private var payloadBytes = 0L
      private val committed =
        scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      private var curFinal: String = _
      private var curTmp: org.apache.hadoop.fs.Path = _

      private def open(finalName: String): Unit = {
        curFinal = finalName
        curTmp = new org.apache.hadoop.fs.Path(path,
          s".tmp-$finalName-attempt-$taskId")
        out = fs.create(curTmp, true)
        graft.sources.Warc.writeMember(out, "warcinfo", "",
          "2026-01-01T00:00:00Z", "application/warc-fields",
          "software: graft-warc-fixture/1.0\r\n".getBytes("UTF-8"))
      }

      private def roll(): Unit = if (out != null) {
        out.close()
        committed += ((curFinal, curTmp.toString))
        out = null
      }

      private def str(r: InternalRow, i: Int, n: String): String = {
        require(!r.isNullAt(i), s"warc sink $path: null $n")
        r.getUTF8String(i).toString
      }

      override def write(r: InternalRow): Unit = {
        if (sharded) {
          require(!r.isNullAt(iShard),
            s"warc sink $path: null shard_id")
          val shard = r.getLong(iShard)
          if (shard != curShard) {
            roll()
            curShard = shard
            open(f"shard-$shard%05d.warc.gz")
          }
        } else if (out == null) {
          val name =
            if (epoch >= 0L)
              f"stream-$epoch%012d-${partBase + partitionId}%05d.warc.gz"
            else f"part-${partBase + partitionId}%05d.warc.gz"
          open(name)
        }
        require(!r.isNullAt(iPay), s"warc sink $path: null payload")
        val payload = r.getBinary(iPay)
        graft.sources.Warc.writeMember(out, str(r, iRec, "rec_type"),
          str(r, iUrl, "url"), str(r, iDate, "warc_date"),
          str(r, iCt, "content_type"), payload)
        rows += 1
        payloadBytes += payload.length
      }

      override def commit()
          : org.apache.spark.sql.connector.write.WriterCommitMessage = {
        roll()
        WarcCommitMessage(committed.toSeq, rows)
      }

      override def currentMetricsValues(): Array[
          org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        Array(DatTaskMetric("warcMembersWritten", rows),
          DatTaskMetric("warcPayloadBytes", payloadBytes),
          DatTaskMetric("warcFilesRotated",
            committed.length + (if (out != null) 1L else 0L)))

      override def abort(): Unit = {
        if (out != null) {
          try out.close()
          catch { case _: java.io.IOException => () }
          try fs.delete(curTmp, false)
          catch { case _: java.io.IOException => () }
        }
        committed.foreach { case (_, tmp) =>
          try fs.delete(new org.apache.hadoop.fs.Path(tmp), false)
          catch { case _: java.io.IOException => () }
        }
      }

      override def close(): Unit = ()
    }
}

/** The streaming half: one append increment per epoch under lexically
  * increasing names, replay-guarded by the `_warc_stream` sidecar.
  */
class WarcStreamingWrite(path: String, schema: StructType,
                         queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write._
  import org.apache.spark.sql.connector.write.streaming._

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val (fs, dir) = WarcWrite.fs(path)
    fs.mkdirs(dir)
    // ownership check ONCE at query start: a landing dir has one
    // producer; a second query appending interleaved epochs would
    // corrupt both replay guards
    WarcStreamState.read(fs, dir).foreach { case (owner, _) =>
      require(owner == queryId,
        s"warc landing dir $path is stream-owned by query $owner; " +
          s"refusing appends from query $queryId — reset the sidecar " +
          "or write to a fresh landing dir")
    }
    new WarcWriterFactory(path, schema,
      new graft.sources.Warc.ShippedConf(
        graft.sources.Warc.sessionHadoopConf(SparkSession.active)),
      sharded = false, partBase = 0, epochId = 0L)
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val files = messages
      .collect { case m: WarcCommitMessage => m.files }.flatten
      .sortBy(_._1)
    val (fs, dir) = WarcWrite.fs(path)
    // replay guard: an epoch re-delivered after a crash between THIS
    // commit and the streaming checkpoint's must drop its temps, not
    // append twice (the .dat lastStreamBatch contract)
    WarcStreamState.read(fs, dir) match {
      case Some((owner, last)) =>
        require(owner == queryId,
          s"warc landing dir $path is stream-owned by query $owner; " +
            s"refusing epoch $epochId from query $queryId")
        if (last >= epochId) {
          WarcWrite.dropTemps(fs, files)
          return
        }
      case None => ()
    }
    // a REPLAYED epoch (crash after some/all renames, before the
    // sidecar) may re-plan with a DIFFERENT partition count: the new
    // file set supersedes the pre-crash one, so any epoch-tagged file
    // NOT in this commit's set is a stale orphan that would duplicate
    // rows at the consumer — delete before publishing (review r20)
    locally {
      val keep = files.map(_._1).toSet
      WarcDataSource.glob(fs, dir, f"stream-$epochId%012d-*.warc.gz")
        .foreach { s =>
          if (!keep.contains(s.getPath.getName))
            fs.delete(s.getPath, false)
        }
    }
    WarcWrite.publish(fs, dir, files, "stream commit")
    // the sidecar lands LAST: a crash before this line replays the
    // epoch (the replay supersedes every epoch-tagged file, above); a
    // crash after it skips the replay
    WarcStreamState.write(fs, dir, queryId, epochId)
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val (fs, _) = WarcWrite.fs(path)
    WarcWrite.dropTemps(fs,
      messages.collect { case m: WarcCommitMessage => m.files }.flatten
        .toSeq)
  }
}

/** The `_warc_stream` sidecar: `queryId\nlastEpoch` (starts with `_`,
  * so the read globs never see it). Written atomically (temp + rename)
  * so a reader never parses a torn state.
  */
object WarcStreamState {
  private val Name = "_warc_stream"

  def read(fs: org.apache.hadoop.fs.FileSystem,
           dir: org.apache.hadoop.fs.Path): Option[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir, Name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes =
        try org.apache.commons.io.IOUtils.toByteArray(in)
        finally in.close()
      new String(bytes, "UTF-8").split("\n", 2) match {
        case Array(id, e) => Some((id.trim, e.trim.toLong))
        case _ => throw new java.io.IOException(
          s"torn warc stream sidecar at $p")
      }
    }
  }

  def write(fs: org.apache.hadoop.fs.FileSystem,
            dir: org.apache.hadoop.fs.Path, queryId: String,
            epoch: Long): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$Name.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"$queryId\n$epoch".getBytes("UTF-8"))
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(dir, Name)
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"warc stream sidecar commit failed: rename $tmp -> $dst")
  }
}
