package graft.sources

import java.io.{BufferedInputStream, EOFException, InputStream, PushbackInputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.TaskContext

/** WARC/WET ingestion — the Common Crawl corpus format, the most common
  * real-world input to an LLM training-data pipeline (the reference has
  * no analog: its inputs are MDBX tables, `erigon_extract.c:2683-2687` —
  * this is an extension operator, not reference parity).
  *
  * Format (ISO 28500): a WARC file is a sequence of records, each a
  * CRLF-terminated header block (`WARC/1.0`, `WARC-Type`,
  * `WARC-Target-URI`, `WARC-Date`, `Content-Length`, …), a blank line,
  * exactly `Content-Length` payload bytes, and a `\r\n\r\n` separator.
  * Common Crawl's `.warc.gz`/`.wet.gz` files compress EACH RECORD AS ITS
  * OWN GZIP MEMBER and concatenate the members — the same
  * independently-decodable-unit property the `.dat` format's page
  * restarts provide (`StateCodec.scala:168`), which is what makes the
  * format seekable by byte offset given an external index.
  *
  * Scale shape: a crawl ships tens of thousands of ~1 GiB files, so the
  * FILE is the unit of parallelism (exactly how Common Crawl is consumed
  * in practice); within a file, records decode as a stream with memory
  * bounded by one record. [[read]] lists files through Spark's
  * `binaryFile` source (path column only — content is never
  * materialized into a row) and parses with `mapPartitions`: a narrow,
  * exchange-free plan (PlanSpec pins it). Byte-offset splitting WITHIN
  * a file would need the crawl's cdx/index sidecar to locate member
  * boundaries; with file counts in the tens of thousands per crawl it
  * buys nothing at this granularity, so it is intentionally out of
  * scope.
  *
  * Executor-side filesystem resolution carries the SESSION's Hadoop
  * configuration (shipped via broadcast): a bare `new Configuration()`
  * on an executor picks up core-site.xml but NOT programmatic
  * `spark.hadoop.*` session settings — on a real cluster reading
  * `s3a://commoncrawl/...` with session-set credentials the listing
  * would succeed and every parse task would fail auth. [[read]] and
  * [[readResponses]] broadcast `sessionState.newHadoopConf()`
  * (core-site + `spark.hadoop.*` + SQL-conf overrides, the same merge
  * Spark's own file sources use), and the DSv2 sink ships the same
  * conf in its writer factory.
  *
  * [[write]] exists to produce fixtures and test round-trips: one
  * `warcinfo` member at the head of each part file, then one
  * `conversion` (WET-style) member per row, each its own gzip member.
  * Every writer here is a thin call into the DSv2 sink
  * (`WarcDataSource`, overwrite mode), the one place WARC files are
  * created: tasks stream into hidden attempt-unique temps, and the
  * driver renames them into place only after every task has
  * succeeded, then deletes the previous snapshot's other files. A
  * failed write leaves the previous snapshot as it was.
  */
object Warc {

  /** One parsed record. `text` is the payload decoded as UTF-8 (WET
    * `conversion` payloads are plain text by contract; for `response`
    * records prefer [[readResponses]], which splits the HTTP message
    * and decodes the body by its declared charset).
    */
  final case class Record(file: String, rec_type: String, url: String,
                          warc_date: String, content_type: String,
                          n_bytes: Long, text: String)

  /** A `response` record's payload split as an HTTP message
    * (status-line + headers + body — what real Common Crawl `.warc`
    * files carry, where WET carries pre-extracted text):
    * `http_status` from the status line, `http_content_type` the HTTP
    * `Content-Type` header verbatim, `charset` the charset the body was
    * decoded with (the Content-Type parameter when present and
    * supported, else UTF-8), `content_encoding` the RESIDUAL undecoded
    * content codings ("" when the body is fully decoded — see
    * [[splitHttp]]), `location` the `Location` header verbatim ("" when
    * absent — the redirect-target input to
    * `TextAnalysis.resolveRedirects`), `warc_truncated` the
    * `WARC-Truncated` reason token ("" = payload stored complete; Common
    * Crawl cuts bodies around 1 MiB and records `length` here — gate on
    * it when byte-complete bodies matter), `n_bytes` the DECODED body
    * byte count, `body` the charset-decoded body text.
    */
  final case class HttpRecord(file: String, url: String, warc_date: String,
                              http_status: Int, http_content_type: String,
                              charset: String, content_encoding: String,
                              location: String, warc_truncated: String,
                              n_bytes: Long, body: String)

  /** Parse-side truth: the undecoded payload bytes. [[Record]] is its
    * UTF-8 view; [[HttpRecord]] its HTTP-split view. `truncated` is the
    * `WARC-Truncated` header's reason token ("" when absent) — Common
    * Crawl cuts response payloads around 1 MiB and records the cut here
    * (`length`), so a pipeline can gate on body completeness.
    */
  private[graft] final case class RawRecord(
      file: String, rec_type: String, url: String, warc_date: String,
      content_type: String, bytes: Array[Byte],
      truncated: String = "")

  /** Minimal serializable Hadoop-conf carrier (`Configuration` is a
    * Hadoop `Writable`, not `Serializable`; Spark's own wrapper is
    * `private[spark]`).
    */
  private[graft] final class ShippedConf(
      @transient private var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    def value: org.apache.hadoop.conf.Configuration = conf
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** The Hadoop configuration [[read]]/[[write]] ship to tasks: the
    * session's merged view (core-site + `spark.hadoop.*` + runtime SQL
    * conf), NOT a bare `new Configuration()`. Visible for tests.
    */
  private[graft] def sessionHadoopConf(spark: SparkSession)
      : org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.graftshim.Bridge.sessionHadoopConf(spark)

  // One ShippedConf broadcast per (session, conf-fingerprint), reused by
  // every read/readRaw/readResponses call: a long-running session
  // issuing many WARC operations would otherwise mint a new broadcast
  // per call and accumulate broadcast blocks on driver and executors
  // for the session lifetime (none were ever destroyed — destroying is
  // unsafe for the LAZY readers, whose closures may execute long after
  // the call returns). A replaced cache entry (runtime `spark.hadoop.*`
  // change → new fingerprint) is dropped, not destroyed: in-flight
  // plans may still hold it, and once unreferenced the ContextCleaner
  // reclaims its blocks via GC. WeakHashMap keying lets a stopped
  // session's entry be collected.
  private val confBcCache = new java.util.WeakHashMap[
    SparkSession,
    (Long, org.apache.spark.broadcast.Broadcast[ShippedConf])]()

  private def confFingerprint(
      conf: org.apache.hadoop.conf.Configuration): Long = {
    var h = 0xcbf29ce484222325L // FNV-1a over sorted key=value entries
    val it = conf.iterator()
    val entries = scala.collection.mutable.ArrayBuffer[String]()
    while (it.hasNext) { val e = it.next(); entries += s"${e.getKey}=${e.getValue}" }
    entries.sorted.foreach { s =>
      var i = 0
      while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
      h ^= '\n'; h *= 0x100000001b3L
    }
    h
  }

  private[graft] def shippedConfBc(spark: SparkSession)
      : org.apache.spark.broadcast.Broadcast[ShippedConf] =
    confBcCache.synchronized {
      val conf = sessionHadoopConf(spark)
      val fp = confFingerprint(conf)
      Option(confBcCache.get(spark)) match {
        case Some((`fp`, bc)) => bc
        case _ =>
          val bc = spark.sparkContext.broadcast(new ShippedConf(conf))
          confBcCache.put(spark, (fp, bc))
          bc
      }
    }

  private val Crlf = "\r\n".getBytes("US-ASCII")

  /** Per-record payload cap (bytes). A crafted `Content-Length` header
    * must not be able to demand a multi-GiB allocation before a single
    * payload byte is read — the same untrusted-header stance as the
    * JPEG decoder's dimension cap (`Jpeg` rejects crafted 8-byte
    * headers instead of OOMing). Real WARC records are page-sized;
    * Common Crawl caps around 1 MiB. Oversized records fail the task
    * loudly.
    */
  val MaxRecordBytes: Long = 256L * 1024 * 1024

  /** Header-line length cap. A corrupt stream with no newline must not
    * buffer unboundedly while "reading one line" — WARC header lines
    * are tens of bytes.
    */
  val MaxHeaderLineBytes: Int = 64 * 1024

  // ---- read path ----------------------------------------------------

  /** All WARC records under `path` (a file, directory, or glob of
    * `.warc[.gz]` / `.wet[.gz]` files) as
    * (file, rec_type, url, warc_date, content_type, n_bytes, text).
    * Malformed framing fails the task loudly (a truncated member or a
    * header block without Content-Length is data corruption, not a row
    * to skip silently).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val bc = shippedConfBc(spark)
    listFiles(spark, path).mapPartitions { paths =>
      paths.flatMap(p => parseFile(p, bc.value.value))
    }.toDF()
  }

  /** The `resource` records under `path` with their RAW payload bytes —
    * the archival read path for binary media (images/audio exported as
    * WARC `resource` records, the archive convention for raw objects;
    * [[read]]'s Record is a UTF-8 TEXT view and would mangle binary).
    * Schema: (file, url, warc_date, content_type, n_bytes, payload).
    */
  def readResources(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val bc = shippedConfBc(spark)
    listFiles(spark, path).mapPartitions { paths =>
      paths.flatMap(p => parseFileRaw(p, bc.value.value)
        .filter(_.rec_type == "resource")
        .map(r => (r.file, r.url, r.warc_date, r.content_type,
          r.bytes.length.toLong, r.bytes)))
    }.toDF("file", "url", "warc_date", "content_type", "n_bytes",
      "payload")
  }

  /** EVERY record under `path` with its RAW payload bytes and record
    * type — the read side of [[writeTypedRecords]]'s mixed archives
    * (a paired corpus export interleaves `resource` media with
    * per-pair `metadata` records; [[readResources]] would drop the
    * metadata and [[read]] would mangle the media). Schema:
    * (file, rec_type, url, warc_date, content_type, n_bytes, payload).
    */
  def readRaw(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val bc = shippedConfBc(spark)
    listFiles(spark, path).mapPartitions { paths =>
      paths.flatMap(p => parseFileRaw(p, bc.value.value)
        .map(r => (r.file, r.rec_type, r.url, r.warc_date,
          r.content_type, r.bytes.length.toLong, r.bytes)))
    }.toDF("file", "rec_type", "url", "warc_date", "content_type",
      "n_bytes", "payload")
  }

  /** The `response` records under `path` with their HTTP payloads split
    * — the real Common Crawl `.warc` consumption path (WET's
    * `conversion` records go through [[read]]): status line parsed,
    * Content-Type surfaced, body decoded by its declared charset.
    * Schema: (file, url, warc_date, http_status, http_content_type,
    * charset, n_bytes, body). A `response` payload that is not an HTTP
    * message fails loudly, the [[read]] stance.
    */
  def readResponses(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val bc = shippedConfBc(spark)
    listFiles(spark, path).mapPartitions { paths =>
      paths.flatMap(p => parseFileRaw(p, bc.value.value)
        .filter(_.rec_type == "response")
        .map(splitHttp))
    }.toDF()
  }

  // binaryFile is used ONLY as a distributed file lister (globbing,
  // partitioning, FileIndex caching); selecting just `path` prunes the
  // content column so file bytes never enter a row
  private def listFiles(spark: SparkSession, path: String)
      : Dataset[String] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path).select("path").as[String]
  }

  /** Parse one WARC file with a fresh default Hadoop conf — test /
    * local convenience; distributed callers go through [[read]], which
    * ships the session conf.
    */
  private[graft] def parseFile(uri: String): Iterator[Record] =
    parseFile(uri, new org.apache.hadoop.conf.Configuration())

  private[graft] def parseFile(
      uri: String, conf: org.apache.hadoop.conf.Configuration)
      : Iterator[Record] =
    parseFileRaw(uri, conf).map { r =>
      Record(r.file, r.rec_type, r.url, r.warc_date, r.content_type,
        r.bytes.length.toLong, new String(r.bytes, "UTF-8"))
    }

  /** Parse one WARC file (gzip-member or plain), streaming — memory is
    * bounded by the largest single record. The stream closes at clean
    * EOF and on parse errors; a task-completion listener additionally
    * closes it when the consuming task stops before exhausting the
    * iterator (limit pushdown, `take`, task abort) — otherwise the
    * Hadoop file handle and gzip buffer would leak until GC, a
    * file-descriptor hazard on partitions with many files.
    */
  private[graft] def parseFileRaw(
      uri: String, conf: org.apache.hadoop.conf.Configuration)
      : Iterator[RawRecord] = {
    val hPath = new org.apache.hadoop.fs.Path(uri)
    val fs = hPath.getFileSystem(conf)
    val raw = new PushbackInputStream(
      new BufferedInputStream(fs.open(hPath), 1 << 16), 2)
    // the magic-byte sniff and GZIPInputStream constructor both READ the
    // raw stream (the constructor parses the member header) — if either
    // throws (truncated/corrupt gzip header after a valid 2-byte magic),
    // the already-open file handle must not leak until GC: the
    // closeQuietly wiring and the task-completion listener are only
    // installed after `in` exists
    val in: InputStream =
      try {
        val b0 = raw.read(); val b1 = raw.read()
        if (b1 >= 0) raw.unread(b1)
        if (b0 >= 0) raw.unread(b0)
        if (b0 == 0x1f && b1 == 0x8b)
          // java's GZIPInputStream consumes CONCATENATED members
          // transparently — exactly the multi-member framing
          new BufferedInputStream(new GZIPInputStream(raw, 1 << 16), 1 << 16)
        else raw
      } catch { case e: Throwable =>
        try raw.close() catch { case _: java.io.IOException => () }
        throw e
      }
    var closed = false
    def closeQuietly(): Unit = if (!closed) {
      closed = true
      try in.close() catch { case _: java.io.IOException => () }
    }
    Option(TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => closeQuietly()))
    new Iterator[RawRecord] {
      private var nextRec: RawRecord = null
      private var done = false
      private def fetch(): Unit = {
        if (done || nextRec != null) return
        nextRec =
          try readRecord(uri, in) match {
            case Some(r) => r
            case None => done = true; closeQuietly(); null
          } catch { case e: Throwable =>
            // malformed framing fails the task LOUDLY, but must not
            // leak the stream while doing it
            done = true
            closeQuietly()
            throw e
          }
      }
      override def hasNext: Boolean = { fetch(); nextRec != null }
      override def next(): RawRecord = {
        fetch()
        if (nextRec == null) throw new NoSuchElementException
        val r = nextRec; nextRec = null; r
      }
    }
  }

  /** Read one record off the (decompressed) stream; None at clean EOF. */
  private def readRecord(file: String, in: InputStream)
      : Option[RawRecord] = {
    // skip inter-record blank lines, find the version line
    var line = readLine(in)
    while (line != null && line.isEmpty) line = readLine(in)
    if (line == null) return None
    require(line.startsWith("WARC/"),
      s"$file: expected WARC version line, got '${line.take(40)}'")
    // header block until the blank line
    val headers = scala.collection.mutable.Map[String, String]()
    var h = readLine(in)
    while (h != null && h.nonEmpty) {
      val i = h.indexOf(':')
      require(i > 0, s"$file: malformed WARC header '${h.take(60)}'")
      headers(h.substring(0, i).trim.toLowerCase) = h.substring(i + 1).trim
      h = readLine(in)
    }
    require(h != null, s"$file: EOF inside WARC header block")
    val len = headers.getOrElse("content-length",
      throw new IllegalArgumentException(
        s"$file: WARC record without Content-Length")).toLong
    require(len >= 0 && len <= MaxRecordBytes,
      s"$file: Content-Length $len outside [0, $MaxRecordBytes] — " +
        "corrupt header or a record beyond the configured cap")
    val payload = new Array[Byte](len.toInt)
    var off = 0
    while (off < payload.length) {
      val n = in.read(payload, off, payload.length - off)
      if (n < 0) throw new EOFException(
        s"$file: truncated WARC payload ($off of $len bytes)")
      off += n
    }
    Some(RawRecord(
      file = file,
      rec_type = headers.getOrElse("warc-type", ""),
      url = headers.getOrElse("warc-target-uri", ""),
      warc_date = headers.getOrElse("warc-date", ""),
      content_type = headers.getOrElse("content-type", ""),
      bytes = payload,
      // Gate on header PRESENCE, not value: crawlers emit reasonless
      // `WARC-Truncated:` headers, and the WARC 1.1 reason-token set
      // includes `unspecified` for exactly that case. Collapsing a
      // present-but-empty header to "" would re-enable the loud-failure
      // decode path on a cut body — the job-fatal mode the truncation
      // fallback exists to close.
      truncated = headers.get("warc-truncated") match {
        case Some(v) if v.nonEmpty => v
        case Some(_)               => "unspecified"
        case None                  => ""
      }))
  }

  // ---- HTTP response split -------------------------------------------

  /** Split a `response` record's payload as an HTTP/1.x message. The
    * header section is ASCII by RFC 9112 (decoded ISO-8859-1, the
    * historical HTTP octet view — lossless for any byte). The body is
    * decoded in wire order before the charset pass:
    *
    *  1. `Transfer-Encoding: chunked` (RFC 9112 §7.1) — de-framed:
    *     hex-size lines, chunk data, optional trailers. WARC `response`
    *     records carry the payload AS RECEIVED, so chunk framing is in
    *     the stored bytes. Non-chunked transfer codings (e.g.
    *     `Transfer-Encoding: gzip, chunked`) join the decode chain
    *     below, undone BEFORE the content codings (they were applied
    *     after them on the wire).
    *  2. `Content-Encoding` (RFC 9110 §8.4) — codings undone in reverse
    *     of the listed order: `gzip`/`x-gzip` and `deflate` (both the
    *     RFC's zlib-wrapped form and the bare-deflate form many servers
    *     actually send — sniffed by attempting zlib first). A coding the
    *     JVM cannot undo (e.g. `br`) is NOT a failure: real crawls mix
    *     codings, and killing the task on every brotli page would make
    *     the reader useless — the undecoded codings are surfaced in
    *     `content_encoding` (empty = fully decoded) so a funnel can
    *     gate on it, and the body passes through as latin-1-preserved
    *     octets.
    *  3. charset decode with WHATWG-encoding-standard precedence —
    *     the order every browser and crawl pipeline implements:
    *     a byte-order mark on the decoded body wins over everything
    *     (UTF-8 / UTF-16LE / UTF-16BE, consumed — §6.2 "the BOM is
    *     more authoritative than anything else"); else the
    *     Content-Type `charset` parameter when present and
    *     JVM-supported; else an html `<meta charset=…>` /
    *     `<meta http-equiv=content-type …>` declaration inside the
    *     first 1024 body bytes (the standard's prescan window — real
    *     servers very often send `text/html` with no header charset
    *     and the page declares it inline); else UTF-8 (the WHATWG
    *     default for the web corpus this feeds).
    *
    * CORRUPT framing (truncated chunk, bad chunk-size line, corrupt
    * gzip stream) fails loudly — that is data corruption, distinct from
    * the unsupported-but-valid-coding case above — UNLESS the record is
    * marked `WARC-Truncated`: there the crawler cut the payload mid-wire
    * on purpose (Common Crawl does, around 1 MiB), a cut chunk/gzip
    * stream is the expected shape, and the body falls back to latin-1
    * pass-through with the whole undone chain surfaced in
    * `content_encoding`, so truncation is gatable instead of fatal. A
    * payload without an `HTTP/` status line or header/body separator
    * fails loudly (the cut point is ~1 MiB; headers are bytes).
    */
  private[graft] def splitHttp(r: RawRecord): HttpRecord = {
    val b = r.bytes
    // header/body boundary: first CRLFCRLF (tolerating bare LFLF)
    var i = 0; var boundary = -1; var bodyStart = -1
    while (boundary < 0 && i < b.length) {
      if (b(i) == '\n') {
        if (i + 2 < b.length && b(i + 1) == '\r' && b(i + 2) == '\n') {
          boundary = i; bodyStart = i + 3
        } else if (i + 1 < b.length && b(i + 1) == '\n') {
          boundary = i; bodyStart = i + 2
        }
      }
      i += 1
    }
    require(boundary >= 0,
      s"${r.file}: response payload for '${r.url}' has no HTTP " +
        "header/body separator")
    val head = new String(b, 0, boundary, "ISO-8859-1")
    val lines = head.split("\r?\n")
    val status = lines.headOption.getOrElse("")
    require(status.startsWith("HTTP/"),
      s"${r.file}: response payload for '${r.url}' does not start " +
        s"with an HTTP status line (got '${status.take(40)}')")
    val parts = status.split("\\s+")
    // an HTTP status is exactly three ASCII digits (RFC 9112 §4):
    // Character.isDigit accepts Unicode digit classes and an unbounded
    // length would surface a bare NumberFormatException without the
    // file/url context the surrounding require messages carry
    require(parts.length >= 2 && parts(1).length == 3 &&
        parts(1).forall(c => c >= '0' && c <= '9'),
      s"${r.file}: malformed HTTP status line '${status.take(60)}'")
    val code = parts(1).toInt
    val httpHeaders = lines.iterator.drop(1).flatMap { ln =>
      val j = ln.indexOf(':')
      if (j > 0) Some(ln.substring(0, j).trim.toLowerCase ->
        ln.substring(j + 1).trim)
      else None
    }.toMap
    val contentType = httpHeaders.getOrElse("content-type", "")
    val declared = CharsetParam.findFirstMatchIn(contentType)
      .map(_.group(1).stripPrefix("\"").stripSuffix("\""))
    val ctx = s"${r.file}: response for '${r.url}'"
    // 1. transfer de-framing — "chunked" is only valid as the FINAL
    // transfer coding (RFC 9112 §6.1)
    val teCodings = httpHeaders.getOrElse("transfer-encoding", "")
      .split(",").map(_.trim.toLowerCase)
      .filter(c => c.nonEmpty && c != "identity").toList
    val teChunked = teCodings.lastOption.contains("chunked")
    // 2. remaining codings, undone in reverse of application order. The
    // wire is TE-chain(CE-chain(body)) — content codings applied first,
    // transfer codings after, chunked outermost — so after de-chunking
    // the combined application-ordered list is CE-list ++ residual-TE
    // (e.g. `Transfer-Encoding: gzip, chunked` leaves a gzip layer that
    // must be undone BEFORE any Content-Encoding layer); the loop pops
    // from the END. A leftover the JVM cannot undo surfaces in
    // `content_encoding` with latin-1-preserved octets like any other
    // undecodable coding.
    val codings =
      (httpHeaders.getOrElse("content-encoding", "")
        .split(",").map(_.trim.toLowerCase)
        .filter(c => c.nonEmpty && c != "identity").toList) ++
        (if (teChunked) teCodings.init else teCodings)
    def decodeChain(): (Array[Byte], List[String]) = {
      val framed: Array[Byte] =
        if (teChunked) dechunk(b, bodyStart, ctx)
        else java.util.Arrays.copyOfRange(b, bodyStart, b.length)
      var residual = codings
      var decoded = framed
      var continue = true
      while (continue && residual.nonEmpty) residual.last match {
        case "gzip" | "x-gzip" =>
          decoded = gunzip(decoded, ctx); residual = residual.init
        case "deflate" =>
          decoded = inflate(decoded, ctx); residual = residual.init
        case _ => continue = false // unsupported (e.g. br): surface, keep bytes
      }
      (decoded, residual)
    }
    // A WARC-Truncated record's payload was CUT mid-wire by the crawler
    // (Common Crawl does this around 1 MiB, routinely) — so a truncated
    // chunk frame or gzip stream here is EXPECTED, not data corruption,
    // and must be gatable (on warc_truncated / content_encoding), not
    // fatal: one such record would otherwise kill the whole job on real
    // crawl data. On decode failure the stored octets pass through
    // latin-1 (lossless) with the entire undone chain surfaced —
    // chunked last, since it was the outermost wire layer. Records NOT
    // marked truncated keep the loud-failure stance: there, corrupt
    // framing IS corruption.
    val (decoded, residual) =
      if (r.truncated.isEmpty) decodeChain()
      else try decodeChain() catch {
        case scala.util.control.NonFatal(_) =>
          (java.util.Arrays.copyOfRange(b, bodyStart, b.length),
            if (teChunked) codings :+ "chunked" else codings)
      }
    // WHATWG precedence: BOM > Content-Type header > meta prescan >
    // UTF-8. Sniffing runs on the CODING-DECODED bytes (a gzipped page
    // carries its BOM/meta inside the compressed stream).
    val bom = sniffBom(decoded)
    val effCharset = bom.map(_._1)
      .orElse(declared.filter(cs =>
        try java.nio.charset.Charset.isSupported(cs)
        catch { case _: java.nio.charset.IllegalCharsetNameException =>
          false }))
      .orElse(sniffMetaCharset(decoded))
      .getOrElse("UTF-8")
    val bomLen = bom.map(_._2).getOrElse(0)
    val bodyText =
      if (residual.isEmpty)
        new String(decoded, bomLen, decoded.length - bomLen, effCharset)
      // undecodable coding: latin-1 preserves the octets losslessly so
      // a downstream stage holding the missing codec can recover them
      else new String(decoded, "ISO-8859-1")
    HttpRecord(
      file = r.file, url = r.url, warc_date = r.warc_date,
      http_status = code, http_content_type = contentType,
      charset = if (residual.isEmpty) effCharset else "ISO-8859-1",
      content_encoding = residual.mkString(","),
      location = httpHeaders.getOrElse("location", ""),
      warc_truncated = r.truncated,
      n_bytes = decoded.length.toLong,
      body = bodyText)
  }

  /** De-frame an RFC 9112 §7.1 chunked body starting at `start`:
    * hex chunk-size line (chunk extensions after ';' ignored), chunk
    * data, CRLF, …, a 0-size last chunk, optional trailer fields, blank
    * line. Truncated or malformed framing fails loudly with `ctx`.
    * Tolerates bare-LF line endings (the readLine stance) and EOF
    * immediately after the last-chunk line (stored crawl payloads are
    * routinely cut at the final CRLF).
    */
  private[graft] def dechunk(b: Array[Byte], start: Int,
                             ctx: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      math.min(b.length - start, 1 << 16).max(16))
    var i = start
    def readChunkLine(): String = {
      var j = i
      while (j < b.length && b(j) != '\n') {
        require(j - i <= MaxHeaderLineBytes,
          s"$ctx: chunk-size line exceeds $MaxHeaderLineBytes bytes")
        j += 1
      }
      require(j < b.length, s"$ctx: truncated chunked body (no " +
        "newline after chunk-size at offset " + (i - start) + ")")
      val end = if (j > i && b(j - 1) == '\r') j - 1 else j
      val s = new String(b, i, end - i, "ISO-8859-1")
      i = j + 1
      s
    }
    var done = false
    while (!done) {
      val line = readChunkLine()
      val sizePart = {
        val semi = line.indexOf(';')
        (if (semi >= 0) line.substring(0, semi) else line).trim
      }
      require(sizePart.nonEmpty && sizePart.length <= 8 &&
          sizePart.forall(c => (c >= '0' && c <= '9') ||
            (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')),
        s"$ctx: malformed chunk-size line '${line.take(40)}'")
      // ≤ 8 hex digits (required above) keeps parseLong overflow-free;
      // the byte cap rejects anything past MaxRecordBytes BEFORE the
      // Long→Int narrowing can wrap
      val szL = java.lang.Long.parseLong(sizePart, 16)
      require(out.size.toLong + szL <= MaxRecordBytes,
        s"$ctx: chunked body exceeds $MaxRecordBytes bytes")
      val sz = szL.toInt
      if (sz == 0) {
        // trailer section: zero or more field lines, then a blank line;
        // EOF right here is tolerated (see Scaladoc)
        var trailing = true
        while (trailing && i < b.length) {
          val t = readChunkLine()
          if (t.isEmpty) trailing = false
        }
        done = true
      } else {
        require(i + sz <= b.length,
          s"$ctx: truncated chunk (need $sz data bytes at offset " +
            s"${i - start}, have ${b.length - i})")
        out.write(b, i, sz)
        i += sz
        // CRLF (or LF) terminating the chunk data
        if (i < b.length && b(i) == '\r') i += 1
        require(i < b.length && b(i) == '\n',
          s"$ctx: chunk data not followed by CRLF at offset ${i - start}")
        i += 1
      }
    }
    out.toByteArray
  }

  /** Byte-order-mark sniff (WHATWG encoding §6.2 — the BOM outranks
    * every other charset source): (charset, bom-byte-count), or None.
    * UTF-8 EF BB BF; UTF-16LE FF FE; UTF-16BE FE FF. The BOM is
    * CONSUMED (the standard's behavior; leaving it in would prepend
    * U+FEFF to every downstream tokenization).
    */
  private[graft] def sniffBom(b: Array[Byte]): Option[(String, Int)] =
    if (b.length >= 3 && b(0) == 0xEF.toByte && b(1) == 0xBB.toByte &&
        b(2) == 0xBF.toByte) Some(("UTF-8", 3))
    else if (b.length >= 2 && b(0) == 0xFF.toByte && b(1) == 0xFE.toByte)
      Some(("UTF-16LE", 2))
    else if (b.length >= 2 && b(0) == 0xFE.toByte && b(1) == 0xFF.toByte)
      Some(("UTF-16BE", 2))
    else None

  /** html meta-declaration prescan (WHATWG encoding §6.3 shape, the
    * 1024-byte window): the first `<meta charset=…>` or
    * `<meta http-equiv=content-type content="…charset=…">` whose value
    * names a JVM-supported charset. The window is scanned as latin-1 —
    * ASCII-compatible supersets (everything the prescan is FOR) render
    * the markup identically, and a UTF-16 page never reaches here (its
    * BOM already decided above).
    */
  private[graft] def sniffMetaCharset(b: Array[Byte]): Option[String] = {
    val window = new String(b, 0, math.min(1024, b.length), "ISO-8859-1")
    MetaCharset.findFirstMatchIn(window)
      .map(_.group(1).trim)
      .filter(cs => cs.nonEmpty && (
        try java.nio.charset.Charset.isSupported(cs)
        catch { case _: java.nio.charset.IllegalCharsetNameException =>
          false }))
  }

  /** Inflate one complete gzip stream (multi-member tolerated — the
    * WARC member framing precedent); corrupt data fails loudly.
    */
  private[graft] def gunzip(b: Array[Byte], ctx: String): Array[Byte] =
    try drainCapped(new GZIPInputStream(
      new java.io.ByteArrayInputStream(b), 1 << 16), ctx)
    catch { case e: java.io.IOException =>
      throw new java.io.IOException(
        s"$ctx: corrupt gzip content-encoding: ${e.getMessage}", e) }

  /** Undo `Content-Encoding: deflate`: RFC 9110 says zlib-wrapped
    * (RFC 1950), but a large population of servers sends bare deflate
    * (RFC 1951) — try zlib first, retry raw on failure (the browser
    * behavior).
    */
  private[graft] def inflate(b: Array[Byte], ctx: String): Array[Byte] = {
    def run(raw: Boolean): Array[Byte] =
      drainCapped(new java.util.zip.InflaterInputStream(
        new java.io.ByteArrayInputStream(b),
        new java.util.zip.Inflater(raw), 1 << 16), ctx)
    try run(raw = false)
    catch { case _: java.io.IOException =>
      try run(raw = true)
      catch { case e: java.io.IOException =>
        throw new java.io.IOException(
          s"$ctx: corrupt deflate content-encoding: ${e.getMessage}", e) }
    }
  }

  /** Drain a decompression stream with the [[MaxRecordBytes]] cap — a
    * crafted tiny body must not be able to inflate unboundedly (the
    * zip-bomb stance of the Content-Length cap).
    */
  private def drainCapped(in: InputStream, ctx: String): Array[Byte] =
    try {
      val out = new java.io.ByteArrayOutputStream(1 << 12)
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) {
        require(out.size.toLong + n <= MaxRecordBytes,
          s"$ctx: decompressed body exceeds $MaxRecordBytes bytes")
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } finally in.close()

  private val CharsetParam =
    "(?i)charset\\s*=\\s*(\"[^\"]+\"|[^;,\\s]+)".r

  /** `charset=` inside any `<meta …>` tag — matches both the html5
    * `<meta charset=…>` form and the legacy
    * `<meta http-equiv=content-type content="…; charset=…">` form (the
    * parameter string appears verbatim inside the content attribute).
    */
  private val MetaCharset =
    "(?i)<meta[^>]*charset\\s*=\\s*[\"']?([A-Za-z0-9._:\\-]+)".r

  /** One CRLF- (or LF-) terminated line as a string without the
    * terminator; null at EOF before any byte.
    */
  private def readLine(in: InputStream): String = {
    val buf = new java.io.ByteArrayOutputStream(128)
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') {
      buf.write(c)
      require(buf.size <= MaxHeaderLineBytes,
        s"WARC header line exceeds $MaxHeaderLineBytes bytes — " +
          "corrupt stream (no newline found)")
      c = in.read()
    }
    val bytes = buf.toByteArray
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r')
      bytes.length - 1 else bytes.length
    new String(bytes, 0, n, "UTF-8")
  }

  // ---- write path (fixture generator / round-trip proof) -------------

  /** Write `df` (columns url, warc_date, text) as WET-style
    * `part-NNNNN.warc.gz` files under `dir`, one file per non-empty
    * partition: a `warcinfo` member first, then one `conversion` member
    * per row — EVERY record its own gzip member (the Common Crawl
    * framing). Distributed: each task streams its own partition;
    * nothing passes through the driver.
    */
  def write(df: DataFrame, dir: String): Unit = {
    import org.apache.spark.sql.functions.{col, encode}
    writeRecords(
      df.select(col("url").cast("string"), col("warc_date").cast("string"),
        encode(col("text").cast("string"), "UTF-8").as("payload")),
      dir, recType = "conversion", contentType = "text/plain")
  }

  /** Write `df` (columns url, warc_date, payload: binary) as
    * `part-NNNNN.warc.gz` files of `recType` records (e.g. `response`
    * records whose payloads are full HTTP messages — use
    * `application/http; msgtype=response` as the contentType, the
    * Common Crawl convention). Overwrites `dir` with the
    * [[writeTypedRecords]] commit.
    */
  def writeRecords(df: DataFrame, dir: String, recType: String,
                   contentType: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    writeTypedRecords(
      df.select(lit(recType).as("rec_type"), col("url"),
        col("warc_date"), lit(contentType).as("content_type"),
        col("payload")),
      dir)
  }

  /** Write `df` (columns rec_type, url, warc_date, content_type,
    * payload: binary) as `part-NNNNN.warc.gz` files with PER-ROW record
    * and content types — the paired-corpus archive shape (the
    * WebDataset-tar analog in WARC form: `resource` media members
    * interleaved with `metadata` members describing each kept pair,
    * one self-describing archive instead of two sidecars that can
    * drift). An overwrite through the DSv2 sink: row order within a
    * part is the partition's, part numbers are fresh (after the largest
    * existing one), and the previous snapshot — plus any temp
    * leftover of a killed run — is deleted only after the new parts
    * are published. A failed job publishes nothing.
    */
  def writeTypedRecords(df: DataFrame, dir: String): Unit = {
    import org.apache.spark.sql.functions.col
    // the sink's shape check wants exact types
    df.select(col("rec_type").cast("string"), col("url").cast("string"),
        col("warc_date").cast("string"),
        col("content_type").cast("string"), col("payload").cast("binary"))
      .write.format("graft.spark.datasource.WarcDataSource")
      .mode("overwrite").save(dir)
  }

  /** Deterministic SIZE-TARGETED shard assignment over typed records —
    * the WebDataset-style rotation rule as arithmetic instead of writer
    * state: records are totally ordered by (rec_type, url) (unique
    * across a paired corpus's member classes by construction), each
    * record's byte offset into that ordered stream is computed by the
    * packIdStream two-phase fold (per-partition payload sums → driver
    * offsets map, partition-count-sized — never a global window), and
    * `shard_id = offset_before / targetBytes` — so a shard closes when
    * the running payload mass passes the target (shard sizes land in
    * [target, target + max_record)), and the assignment is a PURE
    * function of the record set: any input partitioning, any arrival
    * order, any cluster size produces byte-identical shards (spec-
    * pinned under repartition). Shard ids are OFFSET-derived, not
    * sequence numbers: a single record larger than the target advances
    * the running mass past whole shard widths, so ids may SKIP (e.g. a
    * 3-target-sized record is followed by id+3) — readers must treat
    * the id as a label, never iterate 0..n (spec-pinned with an
    * oversized record). Input/output schema = writeTypedRecords' plus
    * `shard_id`.
    */
  def assignShards(df: DataFrame, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    import spark.implicits._
    val n = graft.Sessions.shufflePartitions(spark)
    // pre-materialize before the range exchange (the packIdStream r21
    // fix): bounds sampling re-executes its child, and the record
    // construction feeding a sharded write (payload encodes, joins) is
    // the expensive stage — one eager checkpoint, released as soon as
    // the pinned partitioning exists, keeps it single-execution
    val pre = df.select(col("rec_type").cast("string"),
        col("url").cast("string"), col("warc_date").cast("string"),
        col("content_type").cast("string"), col("payload").cast("binary"))
      .localCheckpoint()
    val typed = org.apache.spark.sql.graftshim.Bridge.markOwnedCheckpoint(
      pre.repartitionByRange(n, col("rec_type"), col("url"))
        .sortWithinPartitions(col("rec_type"), col("url"))
        .localCheckpoint()) // pin the sampled ranges across both passes
      .as[(String, String, String, String, Array[Byte])]
    org.apache.spark.sql.graftshim.Bridge.unpersistLocalCheckpoint(pre)
    val perPart: Array[(Int, Long)] = typed.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var s = 0L
      it.foreach(s += _._5.length)
      Iterator.single((pid, s))
    }.collect()
    var acc = 0L
    val offMap = perPart.sortBy(_._1).map { case (pid, s) =>
      val base = pid -> acc; acc += s; base
    }.toMap
    val bc = spark.sparkContext.broadcast(offMap)
    typed.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var off = bc.value.getOrElse(pid, 0L)
      it.map { case (rt, url, date, ct, payload) =>
        val shard = off / targetBytes
        off += payload.length
        (rt, url, date, ct, payload, shard)
      }
    }.toDF("rec_type", "url", "warc_date", "content_type", "payload",
      "shard_id")
  }

  /** Deterministic SHARD-LOCAL sampling (m20) — the QA/eval draw over
    * a sharded archive done the way 100 TB allows: a seeded
    * pseudo-random rank WITHIN each shard (md5(seed ‖ url) — a
    * keyed hash, so the draw changes with the seed but is a pure
    * function of (seed, member set)) and the first `k` ranks per
    * shard. NEVER a global shuffle: the only exchange is the
    * rank window's partition-by-shard hash (parallelism = shard
    * count; a shard is rotation-bounded, so no window partition can
    * outgrow a task). Identical samples under any input partitioning
    * (WarcSpec-pinned); the tie-break on the order column itself makes
    * the rank total — which REQUIRES (shardCol, orderCol) unique: two
    * rows sharing an order value would tie completely, and the window
    * would break the tie arbitrarily per partitioning (review r20).
    * Archive members satisfy this by the (rec_type, url) identity
    * contract; pass a composed column when urls can repeat. Output:
    * the input columns + `rn` (1-based rank, ≤ k).
    */
  def sampleShardLocal(df: DataFrame, k: Int, seed: String,
                       shardCol: String = "shard",
                       orderCol: String = "url"): DataFrame = {
    require(k > 0, s"sample size must be positive: $k")
    import org.apache.spark.sql.functions.{col, concat, lit, md5, row_number}
    df.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(shardCol))
          .orderBy(md5(concat(lit(seed), col(orderCol))), col(orderCol)))
      .cast("long"))
      .filter(col("rn") <= k)
  }

  /** [[writeTypedRecords]] with size-targeted shard ROTATION: the
    * [[assignShards]] assignment, then an overwrite of `dir` with
    * `shard-NNNNN.warc.gz` files through the DSv2 sink, which clusters
    * records by shard and orders them by (shard_id, rec_type, url), so
    * each shard is written whole by one task and the archive bytes are
    * deterministic end-to-end. File names carry the (possibly gapped)
    * shard id — see [[assignShards]] — so never enumerate 0..n.
    */
  def writeShardedTypedRecords(df: DataFrame, dir: String,
                               targetBytes: Long): Unit = {
    val assigned = assignShards(df, targetBytes)
    // the fold's range-partitioned checkpoint is consumed by both
    // passes and the write — release it eagerly (packIdStream hygiene)
    try assigned.write.format("graft.spark.datasource.WarcDataSource")
      .mode("overwrite").save(dir)
    finally org.apache.spark.sql.graftshim.Bridge
      .unpersistOwnedPlanCheckpoints(assigned)
  }

  /** One WARC record as ONE complete gzip member on `out`. */
  private[graft] def writeMember(out: java.io.OutputStream, recType: String,
                          url: String, date: String, contentType: String,
                          payload: Array[Byte]): Unit = {
    // GZIPOutputStream.finish() completes the member WITHOUT closing the
    // underlying stream, so consecutive members concatenate
    val gz = new GZIPOutputStream(out, 1 << 16)
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append("WARC-Type: ").append(recType).append("\r\n")
    if (url.nonEmpty)
      sb.append("WARC-Target-URI: ").append(url).append("\r\n")
    sb.append("WARC-Date: ").append(date).append("\r\n")
    sb.append("WARC-Record-ID: <urn:graft:")
      .append(java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(url + date).toLong
          & 0xffffffffL))
      .append(">\r\n")
    sb.append("Content-Type: ").append(contentType).append("\r\n")
    sb.append("Content-Length: ").append(payload.length).append("\r\n")
    sb.append("\r\n")
    gz.write(sb.toString.getBytes("UTF-8"))
    gz.write(payload)
    gz.write(Crlf); gz.write(Crlf)
    gz.finish()
  }
}
