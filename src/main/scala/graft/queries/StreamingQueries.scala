package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode,
  StreamingQuery, Trigger}
import graft.Tables
import graft.streaming.Streams

/** Streaming-surface queries. w01–w04 check the windowed aggregation
  * logic against DuckDB oracles in batch form (the same plans Structured
  * Streaming executes incrementally). Every st-entry runs a REAL
  * streaming query hash-checked against a DuckDB oracle: 26 of them
  * start through the one AvailableNow [[drain]] (file, binaryFile, .dat
  * or WARC sources into a memory, foreachBatch or DSv2 sink); st11, st26
  * and st29's producer feed MemoryStreams batch by batch. The
  * MemoryStream batch≡streaming equivalence proof lives in StreamingSpec.
  */
object StreamingQueries {

  /** File-source stream over the events table with EXACTLY the batch
    * path's timestamp canonicalization: the inferred schema (whatever
    * form the testdata currently ships — ns-long, µs-NTZ, or already an
    * instant) goes through the ONE shared [[graft.Tables.normalizeTs]],
    * so batch and streaming reads cannot drift (the r8 testdata schema
    * change broke st02/st04 precisely because this site had its own
    * unconditional copy of the conversion).
    */
  private[graft] def eventFileStream(s: SparkSession,
      dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet")
    Tables.normalizeTs(
      s.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** File-source stream over the documents table, with the batch read's
    * schema. */
  private[graft] def documentStream(s: SparkSession,
      dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/documents.parquet")
    s.readStream.schema(raw.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
  }

  /** binaryFile stream over `dir`'s files, or those matching `glob`
    * (st13, st15, st17). */
  private def binaryFileStream(s: SparkSession, dir: String,
      glob: Option[String] = None): DataFrame = {
    val r = s.readStream.format("binaryFile").schema(org.apache.spark.sql
      .execution.datasources.binaryfile.BinaryFileFormat.schema)
    glob.fold(r)(r.option("pathGlobFilter", _)).load(dir)
  }

  /** The one AvailableNow drain, where every st-entry's query that reads
    * a whole source starts (st11, st26 and st29's producer feed
    * MemoryStreams batch by batch instead): `w` runs with an AvailableNow
    * trigger until its source is drained, and the terminated query comes
    * back (its `recentProgress` and `explain()` stay readable). A query
    * that fails rethrows its StreamingQueryException here, stopped.
    *
    * State-store sizing: a streaming query fixes its state-partition
    * count at query start from `spark.sql.shuffle.partitions`, and each
    * micro-batch then pays per-partition task + state-store load/commit
    * overhead regardless of data volume. A fixture-scale keyed stream
    * doesn't need 32 state partitions' worth of that (measured: st04 went
    * 19.6 s → ~1 s median at sf0.1 with 8), so every drained query starts
    * with 8 — the stateful ones (st02–st06, st10, st12, st16, st18, st24,
    * st27) as state partitions, the rest as the shuffle width of their
    * batch-local joins. A production deployment sizes this to keyed-state
    * volume — same knob, bigger number.
    */
  private[graft] def drain(s: SparkSession,
      w: DataStreamWriter[_]): StreamingQuery =
    withStateSizing(s) {
      val q = w.trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      q
    }

  /** [[drain]] `df` into a memory sink named `sink`; returns its table. */
  private[graft] def drain(df: DataFrame, sink: String,
      mode: OutputMode = OutputMode.Append()): DataFrame = {
    drain(df.sparkSession,
      df.writeStream.format("memory").queryName(sink).outputMode(mode))
    df.sparkSession.table(sink)
  }

  /** Runs `body` with `parts` shuffle partitions, then restores the
    * session's count. */
  private def withStateSizing[A](s: SparkSession, parts: Int = 8)
                                (body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** st26's world sizes (1x row count; the 10x world multiplies rows by
    * 10 and distinct keys by only 2 — state must track the latter).
    */
  private[graft] def st26NFor(dir: String): Int =
    if (dir.contains("sf0.1")) 20000 else 4000

  /** The st26 measurement harness — see the entry comment. Returns the
    * shared ScaleRun (sink-row counts + walls + driver-heap delta via
    * PipelineQueries.measureScalePair, ONE copy of the noise protocol)
    * plus the final state-store row totals of each world's query,
    * read from the last micro-batch's StateOperatorProgress. Each
    * world is a fresh MemoryStream + memory sink, 4 micro-batches, so
    * per-batch fixed costs are identical across scales and the ratio
    * isolates the per-key state work.
    */
  def measureStreamScaleStress(s: org.apache.spark.sql.SparkSession,
      dir: String): (PipelineQueries.ScaleRun, Long, Long) = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val n = st26NFor(dir)
    var state1 = -1L
    var state10 = -1L
    def timedRun(rows: Int, keys: Int, tag: String,
                 record: Long => Unit)(): (Long, Double) =
      withStateSizing(s) {
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[Long]
        val sink = s"st26_sink_$tag"
        // payload is KEY-determined (md5 of the key), so which physical
        // row survives the dedup is unobservable — deterministic under
        // any batch placement (the st24 projection discipline)
        val dedup = mem.toDS().toDF("id")
          .select((col("id") % keys).as("key"))
          .select(col("key"),
            md5(col("key").cast("string")).as("payload"))
          .dropDuplicates("key")
        val q = dedup.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        val t0 = System.nanoTime()
        val batches = 4
        (0 until batches).foreach { b =>
          mem.addData((b * rows / batches until
            (b + 1) * rows / batches).map(_.toLong))
          q.processAllAvailable()
        }
        val t = (System.nanoTime() - t0) / 1e9
        record(Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum)
        q.stop()
        (s.table(sink).count(), t)
      }
    val run = PipelineQueries.measureScalePair("st26",
      timedRun(n, n / 5, "1x", state1 = _),
      timedRun(n * 10, 2 * n / 5, "10x", state10 = _))
    (run, state1, state10)
  }

  private def st26Sql(dir: String): String = {
    val n = st26NFor(dir)
    s"""SELECT $n::BIGINT AS docs_1x, ${n * 10}::BIGINT AS docs_10x,
       |  ${n / 5}::BIGINT AS keys_1x, ${2 * n / 5}::BIGINT AS keys_10x,
       |  ${n / 5}::BIGINT AS state_1x,
       |  ${2 * n / 5}::BIGINT AS state_10x""".stripMargin
  }

  /** st17's image-file fixture: the m10 payload battery (BMP / JPEG /
    * PNG / GIF / garbage by id % 5, dims by id arithmetic) written as
    * ONE FILE PER BLOB — the shape a binaryFile stream tails in
    * production (an object-store landing prefix). Write-once at a
    * stable path; ids are seed-deterministic so no drift key is
    * needed (the fixture derives from nothing in the sf dir).
    */
  private[queries] def ensureImageFixture(): String = {
    val n = 200
    graft.Stored.dir(s"target/imagefix/n$n-v1") { dir =>
      val base = new java.io.File(dir)
      base.mkdirs()
      (0 until n).foreach { i =>
        val id = i.toLong
        val w = 16 + (id % 13).toInt
        val h = 16 + (id % 7).toInt
        val rnd = new scala.util.Random(42L + id)
        val rgb = graft.operators.Multimodal.smoothRgb(w, h, rnd)
        val bytes = (id % 5) match {
          case 0 => graft.operators.Multimodal.Codecs.encodeBmp(w, h, rgb)
          case 1 => graft.codec.Jpeg.encode(w, h, rgb)
          case 2 => graft.codec.Png.encode(w, h, rgb)
          case 3 =>
            val pal = Array.tabulate(256)(x => (x << 16) | (x << 8) | x)
            graft.codec.Gif.encode(w, h, pal,
              graft.operators.Multimodal.Codecs.lumaOf(rgb))
          case _ =>
            val junk = new Array[Byte](64); rnd.nextBytes(junk)
            junk(0) = 0x42; junk(1) = 0x00
            junk
        }
        java.nio.file.Files.write(
          new java.io.File(base, f"media-$id%05d.bin").toPath, bytes)
      }
    }
  }

  /** st13's WARC fixture: [[PipelineQueries.warcRows]] encoded ONCE per
    * sf dir at a stable path (the golden/fixture write-once convention —
    * a per-invocation temp dir would re-pay the encode in every bench
    * run, and the entry's subject is streaming INGEST, not the writer
    * p17 already round-trips). The path is keyed by the SOURCE
    * parquet's (size, mtime) — the s17 drift-remint stance with a
    * filesystem stat instead of a content hash — so driver testdata
    * regeneration mints a fresh fixture instead of streaming stale rows
    * against a freshly-recomputed oracle.
    */
  private[queries] def ensureWarcFixture(s: org.apache.spark.sql.SparkSession,
                                dir: String): String =
    graft.Stored.dir(s"target/warcfix/${new java.io.File(dir).getName}-" +
        s"${LlmQueries.docsDriftKey(dir)}-v1")(
      graft.sources.Warc.write(
        PipelineQueries.warcRows(s, dir).repartition(4), _))

  /** Gap-based sessionization oracle (lag + running sum): an event at
    * exactly prev+30min starts a NEW session, matching Spark's half-open
    * [ts, ts+gap) session extent. Shared by the batch (w02) and
    * streaming (st04) session-window entries so the two oracles cannot
    * drift.
    */
  private val sessionOracleSql: String =
    """WITH g AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |          OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM g)
      |SELECT MIN(ts) AS session_start, user_id,
      |  COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** st12's stream-stream interval join: clicks within 12 h after a
    * purchase by the same user. The entry drains it; Explain prints the
    * drained query's plan.
    */
  private[graft] def st12Joined(s: SparkSession, dir: String): DataFrame = {
    val purchases = eventFileStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "0 seconds")
    val clicks = eventFileStream(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"),
        col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "0 seconds")
    clicks.join(purchases,
        expr("c_user = p_user AND c_ts >= p_ts AND " +
          "c_ts <= p_ts + interval 12 hours"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("click_id"))
  }

  /** st23/st24's stream: image-text pairs extracted from the documents
    * stream, scored by the m14 embedding gate (two stream-static
    * joins). The text join is hinted sort-merge: left to adaptive
    * execution, it became a broadcast join with or without a shuffle of
    * the stream side depending on which stage finished first, so a
    * warm run could compile a new plan's classes.
    */
  private def pairGateStream(s: SparkSession, dir: String): DataFrame = {
    val nImg = 40
    val pairs = graft.operators.TextAnalysis.extractImagePairs(
      LlmQueries.m14PagesOver(
        documentStream(s, dir).select(col("doc_id")), nImg))
    graft.operators.Multimodal.pairEmbedGate(pairs,
      LlmQueries.m14ImgEmb(s, dir, nImg),
      LlmQueries.m14TxtEmb(s, dir, nImg).hint("merge"), minScore = 0.9)
  }

  val all: Map[String, QuerySpec] = Map(

    // Tumbling 1-day window over events — the batch form of
    // Streams.eventWindowAgg (window.start == date_trunc for day windows).
    "w01_event_window" -> QuerySpec(
      (s, dir) => {
        Tables(s, dir, "events")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("total_value"))
          .select(col("window.start").as("day"), col("event_type"),
            col("n_events"), col("total_value"))
          .orderBy(col("day"), col("event_type"))
      },
      """SELECT date_trunc('day', ts) AS day, event_type,
        |COUNT(*) AS n_events,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),

    // Session windows over the event stream (gap-based sessionization) —
    // the batch form of the Structured Streaming session_window operator.
    "w02_session_window" -> QuerySpec(
      (s, dir) => {
        Tables(s, dir, "events")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("session_window.start").as("session_start"),
            col("user_id"), col("n_events"))
          .orderBy(col("user_id"), col("session_start"))
      },
      sessionOracleSql),

    // The PRODUCTION ingestion path: a real file-source readStream over
    // the events table (no MemoryStream, no driver collect), windowed
    // aggregation, an AvailableNow drain, memory sink in complete mode.
    // The streaming result equals the w01 batch plan on static input, so
    // the same DuckDB oracle hash-checks an actual streaming execution.
    "st02_file_stream" -> QuerySpec(
      (s, dir) => drain(eventFileStream(s, dir)
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("total_value"))
          .select(col("window.start").as("day"), col("event_type"),
            col("n_events"), col("total_value")),
        "st02_sink", OutputMode.Complete())
        .orderBy(col("day"), col("event_type")),
      """SELECT date_trunc('day', ts) AS day, event_type,
        |COUNT(*) AS n_events,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),

    // STREAM-STREAM interval join — the streaming twin of
    // q17_interval_join (batch oracle-identical by construction): two
    // watermarked event streams join on user_id AND a 12 h event-time
    // range; Spark's stream-stream join keeps both sides' state and
    // uses the range condition + watermarks to derive state EVICTION
    // bounds (a purchase can be dropped once the click watermark passes
    // its ts + 12 h) — the production attribution-window shape, where
    // per-side state is bounded by the window's arrival volume, not
    // stream history. AvailableNow over the fixture file = one batch,
    // so append-mode inner-join output is complete and deterministic.
    "st12_stream_interval_join" -> QuerySpec(
      (s, dir) => drain(st12Joined(s, dir), "st12_sink")
        .orderBy(col("user_id"), col("purchase_id"), col("click_id")),
      DeclaredQueries.attributionWindowOracleSql),

    // Exact per-type value quantiles — Spark's exact `percentile`
    // (sort + linear interpolation) is the same estimator as DuckDB's
    // quantile_cont, decimal-quantized on both sides.
    // SCALE NOTE: exact percentile buffers per-group values in executor
    // memory — right for oracle-exact verification at test scale; a
    // 100 TB deployment uses approx_percentile (bounded sketch) for the
    // same report.
    "w03_quantiles" -> QuerySpec(
      (s, dir) => {
        Tables(s, dir, "events").groupBy(col("event_type"))
          .agg(
            graft.operators.TextAnalysis.quant4(
              expr("percentile(value, 0.5d)")).as("p50"),
            graft.operators.TextAnalysis.quant4(
              expr("percentile(value, 0.9d)")).as("p90"),
            count(lit(1)).as("n"))
          .orderBy(col("event_type"))
      },
      """SELECT event_type,
        |  floor(quantile_cont(value, 0.5) * 10000.0::DOUBLE
        |    + 0.5::DOUBLE) / 10000.0::DOUBLE AS p50,
        |  floor(quantile_cont(value, 0.9) * 10000.0::DOUBLE
        |    + 0.5::DOUBLE) / 10000.0::DOUBLE AS p90,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // MERGEABLE approximate quantiles — the sketch-family member w03's
    // exact percentile can't scale to: `percentile` materializes every
    // group's values, while approx_percentile (Greenwald-Khanna summary)
    // is bounded-memory and partial-aggregable — the 100 TB per-group
    // quantile path. The l11/l27 bounded-error convention: the engine
    // re-derives each approx value's EXACT rank in a second pass and
    // flags |rank − target| ≤ ε·n; the oracle recomputes group sizes and
    // asserts every flag TRUE (at accuracy 100 the GK bound is ε = 1%,
    // loose enough to be merge-order-robust, tight enough that a broken
    // sketch or a swapped percentile flips a flag).
    "w04_approx_quantiles" -> QuerySpec(
      (s, dir) => {
        val eps = 0.01 // = 1/accuracy below
        val ev = Tables(s, dir, "events")
          .select(col("event_type"), col("value"))
        val approx = ev.groupBy(col("event_type"))
          .agg(expr("approx_percentile(value, 0.5d, 100)").as("ap50"),
            expr("approx_percentile(value, 0.9d, 100)").as("ap90"),
            count(lit(1)).as("n"))
        def rankOk(ap: org.apache.spark.sql.Column, pct: Double) = {
          // valid ranks of ap span (cntLt, cntLe]; the GK guarantee
          // holds iff that interval intersects [pct·n − εn, pct·n + εn]:
          // some valid rank ≥ the lower bound (cntLe ≥ ⌈(p−ε)n⌉) AND
          // some valid rank ≤ the upper bound — the smallest valid rank
          // is cntLt + 1, so the conjunct is the STRICT cntLt < ⌊(p+ε)n⌋
          // (a non-strict ≤ would pass when cntLt equals the bound even
          // though no valid rank lies inside the window)
          val cntLt = sum(when(col("value") < ap, 1L).otherwise(0L))
          val cntLe = sum(when(col("value") <= ap, 1L).otherwise(0L))
          (cntLe >= ceil((lit(pct) - eps) * col("n").cast("double")) &&
            cntLt < floor((lit(pct) + eps) * col("n").cast("double")))
        }
        ev.join(broadcast(approx), Seq("event_type"))
          .groupBy(col("event_type"), col("n"))
          .agg(rankOk(col("ap50"), 0.5).as("p50_rank_ok"),
            rankOk(col("ap90"), 0.9).as("p90_rank_ok"))
          .select(col("event_type"), col("n"), col("p50_rank_ok"),
            col("p90_rank_ok"))
          .orderBy(col("event_type"))
      },
      """SELECT event_type, COUNT(*)::BIGINT AS n,
        |  TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // Gap-based SESSIONIZATION through a real file-source stream
    // (complete mode, AvailableNow): the streaming session_window state
    // machine produces the same sessions as the batch plan on static
    // input, so w02's DuckDB lag+running-sum oracle hash-checks a
    // streaming session-window execution.
    "st04_session_stream" -> QuerySpec(
      (s, dir) => drain(eventFileStream(s, dir)
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("session_window.start").as("session_start"),
            col("user_id"), col("n_events")),
        "st04_sink", OutputMode.Complete())
        .orderBy(col("user_id"), col("session_start")),
      sessionOracleSql),

    // Streaming EXACT DEDUP: the l01 operator as a continuous query —
    // file-source stream, per-row digest, streaming dropDuplicates
    // (unbounded state keyed by digest; production bounds it with a
    // watermark on an event-time column). Output restricted to the digest
    // set, which is deterministic under any arrival order, so the DuckDB
    // DISTINCT oracle hash-checks a real streaming dedup execution.
    // NEAR-dup dedup on ingest: MinHash banding over a real file-source
    // stream, bucket membership in per-(band, bhash) keyed state
    // (flatMapGroupsWithState) — each arriving document immediately
    // pairs with every earlier member of its 32 band buckets, with the
    // signature computed ONCE on arrival by the stateless codegen kernel
    // and only (id, band, bhash) rows reaching the state store. A SECOND
    // Append-mode keyed state (pair-keyed) drops cross-band duplicate
    // pairs INSIDE the stream, so the sink is pair-unique with no batch
    // post-processing. The oracle re-derives the same candidate set in
    // DuckDB by direct signature-slice equality over the l02 golden
    // (what the engine's per-band bucket-hash equality encodes); the
    // oracle is CAP-FREE, so the stream runs uncapped too
    // (maxBucketSize = Int.MaxValue) — a >cap degenerate bucket would
    // otherwise make the two sides disagree by design. Production
    // callers keep the default 1000 cap.
    "st06_stream_neardup" -> QuerySpec(
      (s, dir) => Run({
        LlmQueries.ensureMinhashGolden(s, dir)
        drain(graft.operators.Dedup
            .streamingCandidatePairsDistinct(documentStream(s, dir),
              maxBucketSize = Int.MaxValue)
            .toDF("id_a", "id_b"), "st06_sink")
          .orderBy(col("id_a"), col("id_b"))
      }, () => LlmQueries.lshCandSql(LlmQueries.l02GoldenName(dir)))),

    // Streaming frontier discovery (st16) — the crawl loop's feedback
    // edge: pages arrive as a stream, the l61 native outlink extractor
    // runs STATELESSLY inside each micro-batch (zero-exchange codegen
    // stage, streaming-legal by construction), and a stateful
    // cross-batch dropDuplicates on dst_url emits each discovered URL
    // exactly ONCE across the whole stream — the "new frontier" a
    // fetcher would enqueue. Hub links (doc_id % 13) collide massively
    // across documents, so the dedup state is doing real work; the
    // per-doc unique link proves nothing true is dropped. The DISTINCT
    // output set is arrival-order-invariant, so the DuckDB oracle
    // re-derives it from doc_id arithmetic alone (the st03 stance).
    "st16_frontier_stream" -> QuerySpec(
      (s, dir) => {
        val id = col("doc_id")
        val html = concat(
          lit("<a href=\"https://hub.example/p"), id % 13,
          lit("\">h</a><a href=\"/u/"), id, lit("\">u</a>"))
        val pages = documentStream(s, dir).select(
          concat(lit("https://s"), id, lit(".example/x/")).as("url"),
          html.as("html"))
        drain(graft.operators.TextAnalysis.extractOutlinks(pages)
            .select(col("dst_url"))
            .dropDuplicates("dst_url"), "st16_sink")
          .orderBy(col("dst_url"))
      },
      """WITH d AS (SELECT doc_id FROM documents)
        |SELECT DISTINCT dst_url FROM (
        |  SELECT 'https://hub.example/p' || (doc_id % 13)
        |    AS dst_url FROM d
        |  UNION ALL
        |  SELECT 'https://s' || doc_id || '.example/u/' || doc_id
        |  FROM d)
        |ORDER BY dst_url""".stripMargin),

    // Streaming image-gate (st17) — the m10 prune-before-decode sniff
    // over a REAL binaryFile stream (the object-store landing-prefix
    // shape): each micro-batch reads the blob files, sniffs (type,
    // width, height) from the FIRST BYTES — no pixel decode — and
    // gates on dimension floors before any decoder would run; garbage
    // blobs sniff to none and fall out at the same gate. Zero state,
    // plain append; the oracle regenerates the surviving set from id
    // arithmetic alone (the m10 dims battery streamed).
    "st17_image_gate_stream" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        drain(binaryFileStream(s, ensureImageFixture(), Some("*.bin"))
          .select(col("path"), col("content"))
          .as[(String, Array[Byte])]
          .map { case (p, bytes) =>
            val name = p.substring(p.lastIndexOf('-') + 1)
            val id = name.substring(0, name.indexOf('.')).toLong
            val m = graft.operators.Multimodal.Codecs.sniffImageMeta(bytes)
            (id, m.map(_._1).getOrElse(""),
              m.map(_._2).getOrElse(-1), m.map(_._3).getOrElse(-1))
          }.toDF("media_id", "img_type", "width", "height")
          .filter(col("width") >= 20 && col("height") >= 18), "st17_sink")
          .orderBy(col("media_id"))
      },
      """SELECT id AS media_id,
        |  CASE CAST(id % 5 AS INT)
        |    WHEN 0 THEN 'bmp' WHEN 1 THEN 'jpeg'
        |    WHEN 2 THEN 'png' WHEN 3 THEN 'gif' ELSE '' END
        |    AS img_type,
        |  (16 + CAST(id % 13 AS INT))::INT AS width,
        |  (16 + CAST(id % 7 AS INT))::INT AS height
        |FROM range(200) t(id)
        |WHERE id % 5 <> 4 AND id % 13 >= 4 AND id % 7 >= 2
        |ORDER BY media_id""".stripMargin),

    // Streaming politeness gate (st18) — the crawl loop CLOSED: st16's
    // discovered frontier (stateless outlink extraction per batch) is
    // gated by l54 robots semantics as a stream-static BROADCAST join
    // (each host's parsed rules ride one broadcast array row; the RFC
    // 9309 longest-match + Allow-tie-break argmax folds INSIDE the row
    // — no stream aggregation, append-legal), then scheduled by l69's
    // per-host FIFO carried across batches as CUSTOM STATE
    // (flatMapGroupsWithState: state = the host's next slot). Planted
    // world: each page links /pub/N (admitted on h0–h2, denied on
    // deny-all h3) and /private/N (denied everywhere); per-host
    // Crawl-delay 1/2/3 prices the slots. The oracle derives the whole
    // admitted fetch schedule arithmetically — membership from the
    // robots rules by construction, slots from a per-host row_number
    // over the url order, scheduled_at = slot × delay.
    "st18_politeness_gate" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val id = col("doc_id")
        val host = concat(lit("h"), id % 4, lit(".example"))
        val html = concat(
          lit("<a href=\"https://"), host, lit("/pub/"), id,
          lit("\">p</a><a href=\"https://"), host, lit("/private/"),
          id, lit("\">q</a>"))
        val pages = documentStream(s, dir).select(
          concat(lit("https://"), host, lit("/x/")).as("url"),
          html.as("html"))
        val robots = s.createDataFrame(Seq(
          ("h0.example",
            "User-agent: *\nDisallow: /private/\nCrawl-delay: 1\n"),
          ("h1.example",
            "User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n"),
          ("h2.example",
            "User-agent: *\nDisallow: /private/\nCrawl-delay: 3\n"),
          ("h3.example",
            "User-agent: *\nDisallow: /\nCrawl-delay: 1\n")))
          .toDF("domain", "robots_txt")
        val delays = graft.operators.TextAnalysis
          .robotsCrawlDelay(robots, agent = "graftbot")
          .withColumnRenamed("host", "__dhost")
        val admitted = graft.operators.TextAnalysis
          .robotsGate(
            graft.operators.TextAnalysis.extractOutlinks(pages)
              .select(col("dst_url")),
            robots, agent = "graftbot", urlCol = "dst_url")
          .filter(col("allowed"))
          .join(broadcast(delays), col("host") === col("__dhost"),
            "left_outer")
          .select(col("host"), col("dst_url").as("url"),
            coalesce(col("crawl_delay"), lit(1.0)).as("delay"))
          .as[Streams.FetchCandidate]
        drain(Streams.politenessSchedule(admitted).toDF(), "st18_sink")
          .orderBy(col("host"), col("url"))
      },
      """WITH adm AS (
        |  SELECT 'h' || (doc_id % 4) || '.example' AS host,
        |    'https://h' || (doc_id % 4) || '.example/pub/'
        |      || doc_id AS url,
        |    CAST(1 + (doc_id % 4) AS DOUBLE) AS delay
        |  FROM documents WHERE doc_id % 4 <> 3),
        |r AS (SELECT host, url, delay,
        |    CAST(row_number() OVER (PARTITION BY host
        |      ORDER BY url) - 1 AS BIGINT) AS slot
        |  FROM adm)
        |SELECT host, url, slot, delay,
        |  slot * delay AS scheduled_at
        |FROM r ORDER BY host, url""".stripMargin),

    "st03_stream_dedup" -> QuerySpec(
      (s, dir) => drain(documentStream(s, dir)
          .select(md5(col("text")).as("digest"))
          .dropDuplicates("digest"), "st03_sink")
        .orderBy(col("digest")),
      """SELECT DISTINCT md5(text) AS digest
        |FROM documents ORDER BY digest""".stripMargin),

    // The STREAMING corpus-prep funnel — l28's shape composed over a
    // real file-source stream: quality gate (token floor) → Unicode NFC
    // normalization (the l32 native expression, so composed/decomposed
    // spellings dedup identically) → STATEFUL cross-batch exact dedup
    // on the normalized content hash. The state store carries only the
    // 32-hex digest per surviving doc; the DuckDB oracle re-derives the
    // surviving set through its own tokenizer and nfc_normalize.
    "st10_stream_funnel" -> QuerySpec(
      (s, dir) => {
        val nfc = graft.functions.expressions.TextHashExpressions
          .nfc_normalize _
        drain(documentStream(s, dir)
            .filter(size(graft.operators.TextAnalysis.tokens(col("text")))
              >= 5)
            .select(md5(nfc(col("text"))).as("digest"))
            .dropDuplicates("digest"), "st10_sink")
          .orderBy(col("digest"))
      },
      """SELECT DISTINCT md5(nfc_normalize(text)) AS digest
        |FROM documents
        |WHERE len(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'),
        |    t -> length(t) > 0)) >= 5
        |ORDER BY digest""".stripMargin),

    // Streaming WARC ingestion — the l28/st10 corpus funnel fed by the
    // REAL crawl input format: a binaryFile file-source stream tails a
    // directory of multi-member .warc.gz part files (path column only —
    // file bytes never enter a row), each micro-batch parses its files
    // through the same mapPartitions-narrow Warc reader the batch entry
    // uses, filters to conversion records, gates on a token floor, and
    // appends (url, digest). The WARC fixture is built ONCE per sf dir
    // from the SAME warcRows derivation p17 encodes (shared-fixture
    // stance), so the oracle recomputes everything from documents
    // directly. New crawl files landing in the directory would flow
    // through the same query incrementally — the production
    // ingest-as-it-arrives shape.
    // Streaming ingestion of real `.warc` HTTP RESPONSE records (st13's
    // sibling over the l51 fixture): each micro-batch parses its files,
    // splits the HTTP messages (status/headers/charset-decoded body),
    // gates on status 200, and appends (url, http_status, charset,
    // digest-of-body). The oracle reconstructs the body — the full l45
    // page HTML — from documents.parquet and re-derives the md5, so one
    // hash spans streaming admission, gzip framing, HTTP parsing,
    // charset decode, AND body byte-fidelity. Zero state, plain append.
    "st15_http_stream" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val bc = s.sparkContext.broadcast(new graft.sources.Warc
          .ShippedConf(graft.sources.Warc.sessionHadoopConf(s)))
        val parsed = binaryFileStream(s,
            LlmQueries.ensureHttpCrawlFixture(s, dir))
          .select(col("path")).as[String]
          .mapPartitions(paths => paths.flatMap(p =>
            graft.sources.Warc.parseFileRaw(p, bc.value.value)
              .filter(_.rec_type == "response")
              .map(graft.sources.Warc.splitHttp)))
          .toDF()
        drain(parsed
            .filter(col("http_status") === 200)
            .select(col("url"), col("http_status"), col("charset"),
              md5(col("body")).as("digest")), "st15_sink")
          .orderBy(col("url"))
      },
      """WITH p AS (
        |  SELECT doc_id,
        |    'HTTPS://' ||
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN 'WWW.EXAMPLE.ORG'
        |      WHEN 1 THEN 'CDN.SPAM.TRACKER.NET:8443'
        |      WHEN 2 THEN 'News.Site.com'
        |      WHEN 3 THEN 'blog.example.org'
        |      ELSE 'ads.DoubleClick.net' END ||
        |    '/doc/' || doc_id || '?b=2&utm_source=feed&a=1#frag'
        |      AS url,
        |    '<html><head><title>Doc ' || doc_id
        |      || '</title><style>p{color:red}</style>'
        |      || '<script>var x = 1 < 2;</script></head>'
        |      || '<body><!-- boilerplate --><h1>Doc ' || doc_id
        |      || '</h1><p>' || text
        |      || ' &amp;lt; tail &nbsp;&lt;b&gt;</p></body></html>'
        |      AS body
        |  FROM documents
        |  WHERE doc_id % 9 <> 4)
        |SELECT url, 200 AS http_status, 'utf-8' AS charset,
        |  md5(body) AS digest
        |FROM p ORDER BY url""".stripMargin),

    "st13_warc_stream" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        // ship the SESSION's Hadoop conf to the parse tasks (the
        // Warc.read stance — a bare executor Configuration misses
        // programmatic spark.hadoop.* settings)
        val bc = s.sparkContext.broadcast(new graft.sources.Warc
          .ShippedConf(graft.sources.Warc.sessionHadoopConf(s)))
        val parsed = binaryFileStream(s, ensureWarcFixture(s, dir))
          .select(col("path")).as[String]
          .mapPartitions(paths =>
            paths.flatMap(p =>
              graft.sources.Warc.parseFile(p, bc.value.value)))
          .toDF()
        drain(parsed
            .filter(col("rec_type") === "conversion")
            .filter(size(graft.operators.TextAnalysis.tokens(col("text")))
              >= 5)
            .select(col("url"), md5(col("text")).as("digest")),
          "st13_sink")
          .orderBy(col("url"))
      },
      """SELECT 'https://example.org/doc/' || doc_id AS url,
        |  md5(text) AS digest
        |FROM documents
        |WHERE len(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'),
        |    t -> length(t) > 0)) >= 5
        |ORDER BY url""".stripMargin),

    // Streaming INFERENCE — the trained l42 classifier scoring a
    // document stream: weights enter the plan as one dim-sized map
    // literal and the margin folds WITHIN each row
    // (QualityClassifier.scoreUnitsNarrow — no explode, no join, no
    // aggregation), so the streaming query is plain append mode with
    // zero state. The oracle is l42's own SQL (same captured weights,
    // same integer margins) — so the driver hash-proves
    // streaming-narrow ≡ batch-join ≡ DuckDB-recomputed, three
    // independent evaluation strategies on one model.
    "st14_stream_score" -> QuerySpec(
      (s, dir) => {
        val model = LlmQueries.l42ModelCached(s, dir)
        Run(drain(graft.operators.QualityClassifier
              .scoreUnitsNarrow(documentStream(s, dir), model), "st14_sink")
            .orderBy(col("doc_id")),
          () => LlmQueries.l42Sql(model))
      }),

    // Streaming language-ID inference (st19) — the st14 convention
    // applied to the trained multiclass model: the planted-world
    // projection runs over a file-source stream and l77's ONE-KERNEL
    // argmax (LangArgmaxExpr) scores each micro-batch — no state, no
    // aggregation, plain append (the production corpus-gate shape:
    // classify pages as they land). The oracle IS l77's SQL, so one
    // hash proves streaming-narrow ≡ batch-narrow ≡ DuckDB on the same
    // captured weights.
    "st19_langid_stream" -> QuerySpec(
      (s, dir) => {
        val model = LlmQueries.l77ModelCached(s, dir)
        Run(drain(graft.operators.LangClassifier.scoreUnitsNarrow(
              LlmQueries.langWorldOver(documentStream(s, dir)), model),
            "st19_sink")
            .orderBy(col("doc_id")),
          () => LlmQueries.l77Sql(model))
      }),

    // Streaming unigram-LM encode (st20) — the third trained-model
    // streaming twin (l42→st14, l77→st19, unigram→st20): per-doc
    // Viterbi token counts over a file-source stream through the SAME
    // narrow per-row kernel pass as l80 (tokenize → in-kernel Viterbi
    // per word → in-row sum; no state, no aggregation, plain append).
    // The oracle IS l80's (DuckDB corpus join/aggregate against the
    // replay-trained word → n_pieces golden), so one hash proves
    // streaming-narrow ≡ batch-narrow ≡ the independent replay.
    "st20_unigram_stream" -> QuerySpec(
      (s, dir) => Run({
        val model = LlmQueries.unigramModelCached(s, dir)
        LlmQueries.ensureUnigramEncodeGolden(s, dir)
        drain(graft.operators.TextAnalysis.unigramEncodeCounts(
            documentStream(s, dir).select(col("doc_id"), col("text")),
            model), "st20_sink")
          .orderBy(col("doc_id"))
      }, () => LlmQueries.l80OracleSql(dir))),

    // Streaming token-ID emission (st21) — l83's streaming twin (the
    // st14/st19/st20 convention): whole-document id sequences from the
    // UnigramEncodeIdsExpr kernel over a file-source stream — no
    // state, no aggregation, plain append: the production shape where
    // tokenized training shards are written as documents land. The
    // oracle IS l83's (DuckDB re-derives every id string, values AND
    // order, from the replay-trained word → ids golden), so one hash
    // proves streaming-narrow ≡ batch-narrow ≡ the independent replay.
    "st21_ids_stream" -> QuerySpec(
      (s, dir) => Run({
        val model = LlmQueries.unigramModelCached(s, dir)
        LlmQueries.ensureUnigramIdsGolden(s, dir)
        drain(graft.operators.TextAnalysis
            .unigramEncodeIds(
              documentStream(s, dir).select(col("doc_id"), col("text")),
              model)
            .select(col("doc_id"), col("n_tokens"),
              array_join(transform(col("token_ids"),
                i => i.cast("string")), " ").as("ids_str")), "st21_sink")
          .orderBy(col("doc_id"))
      }, () => LlmQueries.l83OracleSql(dir))),

    // Streaming BYTE-FALLBACK token-ID emission (st22) — l93's
    // streaming twin, the st21 convention: the byte-fallback kernel is
    // stateless and append-legal, so the LOSSLESS id stream (UNK never
    // appears; OOV code points emit their UTF-8 bytes) emits per
    // micro-batch with zero state. The planted OOV world projects over
    // the stream frame (l93WorldOver — same arithmetic, same columns),
    // so this entry shares l93's oracle VERBATIM: one hash proves
    // streaming ≡ batch ≡ replay for the byte-fallback id space too.
    "st22_ids_fb_stream" -> QuerySpec(
      (s, dir) => Run({
        val model = LlmQueries.unigramMarkedModelCached(s, dir)
        LlmQueries.ensureUnigramFbGolden(s, dir)
        drain(graft.operators.TextAnalysis
            .unigramEncodeIds(
              LlmQueries.l93WorldOver(
                documentStream(s, dir).select(col("doc_id"), col("text"))),
              model, markWords = true, byteFallback = true)
            .select(col("doc_id"), col("n_tokens"),
              array_join(transform(col("token_ids"),
                i => i.cast("string")), " ").as("ids_str")), "st22_sink")
          .orderBy(col("doc_id"))
      }, () => LlmQueries.l93Sql(dir))),

    // Streaming multimodal pair GATE (st23) — the multimodal ingest
    // front-end as a stream: page extraction (the html_images kernel —
    // stateless narrow) → the m14 embed gate (two STREAM-STATIC
    // equi-joins against the embedding relations + in-row cosine —
    // append-legal, zero state) per micro-batch. Runs PRE-dedup (the
    // stateful stages stay batch — st06/st10 cover streaming dedup
    // semantics elsewhere), so the oracle is pure documents/embeddings
    // arithmetic with NO golden surface: one hash proves the streamed
    // extraction+join+score ≡ batch ≡ DuckDB.
    "st23_pair_gate_stream" -> QuerySpec(
      (s, dir) => Run({
        drain(pairGateStream(s, dir)
            .select(col("src_url"), col("img_idx"), col("clip_score"),
              col("keep")), "st23_sink")
          .orderBy(col("src_url"), col("img_idx"))
      }, () => LlmQueries.st23Sql(40))),

    // Streaming DELETION gate (st25) — right-to-be-forgotten at INGEST
    // time (the other end of the pipeline from s19/l106's stored-state
    // compaction): every arriving document checks against the static
    // tombstone relation (id % 17 = 5 — arithmetic, so the oracle
    // re-derives it; in production the list is exactly such a
    // relation) via a stream-static LEFT OUTER equi-join + null filter
    // — the anti-join spelled in the form Spark's streaming planner
    // admits; append-legal, ZERO state (the static side broadcasts),
    // so the gate costs one narrow pass per micro-batch at any corpus
    // size. One hash proves streamed gate ≡ batch predicate ≡ DuckDB.
    "st25_deletion_gate_stream" -> QuerySpec(
      (s, dir) => Run({
        val tombs = graft.Tables(s, dir, "documents")
          .filter(col("doc_id") % 17 === 5)
          .select(col("doc_id"), lit(1).as("tomb"))
        drain(documentStream(s, dir).select(col("doc_id"), col("text"))
            .join(tombs, Seq("doc_id"), "left_outer")
            .filter(col("tomb").isNull)
            .select(col("doc_id"), md5(col("text")).as("text_md5")),
          "st25_sink")
          .orderBy(col("doc_id"))
      }, () => """SELECT doc_id, md5(text) AS text_md5 FROM documents
          |WHERE doc_id % 17 <> 5 ORDER BY doc_id""".stripMargin)),

    // Streaming POST-gate pair dedup (st24) — the stateful stage st23
    // deliberately leaves to batch, now as the stream's own operator
    // (the r18 handoff item): gate survivors dedup EXACTLY on the
    // (img_url, text) pair key via streaming dropDuplicates — Spark's
    // state-store keyed by the pair key, so state is bounded by the
    // DISTINCT KEY SPACE (the production dedup-key cardinality), not
    // the stream length; at 100 TB the keys partition across executors
    // by hash, the same shuffle the batch groupBy pays. The projection
    // keeps ONLY key-determined columns (clip_score is a function of
    // (img_url, text) through the embedding relations), so which
    // physical row survives is unobservable and the result is
    // deterministic under any partitioning/arrival order. Oracle: the
    // st23 chain reduced to DISTINCT gated keys — pure documents/
    // embeddings arithmetic, no golden surface.
    "st24_pair_dedup_stream" -> QuerySpec(
      (s, dir) => Run({
        drain(pairGateStream(s, dir)
            .filter(col("keep"))
            .select(col("img_url"), col("text"), col("clip_score"))
            .dropDuplicates("img_url", "text"), "st24_sink")
          .orderBy(col("img_url"), col("text"))
      }, () => LlmQueries.st24Sql(40))),

    // WARC landing-directory TAIL (st28) — the WarcDataSource
    // MicroBatchStream, the st08 contract on the crawl-archive format:
    // offsets are name-sorted listing prefixes (the append-only
    // lexical-naming landing convention; mutation under a live stream
    // fails loudly), maxFilesPerTrigger=1 forces real multi-micro-batch
    // admission control, and the checkpoint makes drain 2 a genuine
    // RECOVERY: increment 1 (even doc_ids) drains in run 1; increment 2
    // (odd doc_ids) lands; run 2 resumes and reads ONLY the new files —
    // proven because phase-2 rows are exactly the odd parity class.
    // foreachBatch appends to parquet (a fault-tolerant sink, required
    // for checkpoint recovery); the oracle re-derives both phases from
    // documents parity.
    "st28_warc_tail_stream" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        // a failure anywhere mid-entry (a drain throwing, a malformed
        // landing file) must not leak the landing/checkpoint/sink dirs on
        // every retried bench/verify sweep
        PipelineQueries.withScratchDir("graft-warc-tail") { root =>
          val streamDir = s"$root/landing"
          val ckpt = s"$root/ckpt"
          val outPq = s"$root/out"
          new java.io.File(streamDir).mkdir()
          def addIncrement(tag: String,
              part: org.apache.spark.sql.DataFrame): Unit = {
            val tmp = s"$root/inc-$tag"
            graft.sources.Warc.write(
              PipelineQueries.warcRowsOver(part).repartition(2), tmp)
            // move parts in under lexically-increasing names — the
            // source's append-only landing contract
            new java.io.File(tmp).listFiles()
              .filter(_.getName.endsWith(".warc.gz")).sortBy(_.getName)
              .foreach { f =>
                java.nio.file.Files.move(f.toPath,
                  java.nio.file.Paths.get(streamDir, s"$tag-${f.getName}"))
              }
          }
          def consume(phase: Int): Unit = drain(s, s.readStream
            .format("graft.spark.datasource.WarcDataSource")
            .option("maxFilesPerTrigger", "1")
            .load(streamDir)
            .writeStream
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               _: Long) =>
                b.filter(col("rec_type") === "conversion")
                  .select(lit(phase).as("phase"), col("url"),
                    md5(col("payload")).as("digest"))
                  .write.mode("append").parquet(outPq)
                ()
            }
            .option("checkpointLocation", ckpt))
            addIncrement("inc1", docs.filter(col("doc_id") % 2 === 0))
            consume(1)
            addIncrement("inc2", docs.filter(col("doc_id") % 2 === 1))
            consume(2)
            val result = s.read.parquet(outPq)
              .orderBy(col("phase"), col("url")).collect()
            val schema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("phase",
                org.apache.spark.sql.types.IntegerType, nullable = false),
              org.apache.spark.sql.types.StructField("url",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("digest",
                org.apache.spark.sql.types.StringType)))
            // localize (archive-sized — the fixture corpus) so the temp
            // dirs can be deleted before the frame is consumed
            s.createDataFrame(java.util.Arrays.asList(result: _*), schema)
        }
      },
      """SELECT 1 AS phase,
        |  'https://example.org/doc/' || doc_id AS url,
        |  md5(text) AS digest
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 2, 'https://example.org/doc/' || doc_id, md5(text)
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY phase, url""".stripMargin),

    // Streaming PAIRED-SAMPLE loader (st29) — the multimodal landing
    // loop end-to-end (r19 VERDICT #3): a GROWING paired archive whose
    // increments land through the NATIVE streaming WARC sink
    // (writeStream.format — one epoch per increment, lexically-
    // increasing names, sidecar replay guard), tailed by the
    // WarcMicroBatchStream, with the m18 re-join running PER MICRO-
    // BATCH inside foreachBatch: metadata members parse their own JSON
    // payloads, media members contribute digest/mass, and the two
    // classes re-assemble into samples. The producer derives members
    // on the CLUSTER via a stream-static join of doc IDS against the
    // documents table (never a corpus collect — only ids enter the
    // MemoryStream). The checkpoint makes drain 2 a genuine RECOVERY:
    // phase-2 samples are exactly the odd parity class, proving the
    // resumed consumer read ONLY the new increment and still
    // re-assembled complete pairs (each increment is pair-complete by
    // construction — the landing convention a WebDataset-style
    // producer keeps).
    "st29_paired_stream_loader" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext =
          s.sqlContext
        val docs = Tables(s, dir, "documents")
        val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
        PipelineQueries.withScratchDir("graft-st29") { root =>
          val landing = s"$root/landing"
          val prodCkpt = s"$root/prodckpt"
          val consCkpt = s"$root/consckpt"
          val outPq = s"$root/out"
          new java.io.File(landing).mkdir()
          // the producer handle lives OUTSIDE the try so the finally can
          // stop it: a drain throwing mid-entry would otherwise leak a
          // live streaming query whose landing/checkpoint dirs
          // withScratchDir then deletes under it
          var prod: org.apache.spark.sql.streaming.StreamingQuery = null
          try {
            val mem = org.apache.spark.sql.execution.streaming.runtime
              .MemoryStream[Long]
            val members = mem.toDS().toDF("doc_id")
              .join(docs.select(col("doc_id"), col("text")), "doc_id")
              .select(explode(array(
                struct(lit("metadata").as("rec_type"),
                  concat(lit("meta://"), col("doc_id")).as("url"),
                  to_json(struct(
                    concat(lit("https://example.org/doc/"),
                      col("doc_id")).as("src_url"),
                    lit(0L).as("img_idx"),
                    concat(lit("img://"), col("doc_id")).as("img_url"),
                    col("text").as("text"))).as("body")),
                struct(lit("resource").as("rec_type"),
                  concat(lit("img://"), col("doc_id")).as("url"),
                  concat(lit("IMG:"), col("text")).as("body"))))
                .as("m"))
              .select(col("m.rec_type").as("rec_type"),
                col("m.url").as("url"),
                lit("2026-01-01T00:00:00Z").as("warc_date"),
                when(col("m.rec_type") === "metadata",
                  lit("application/json"))
                  .otherwise(lit("application/octet-stream"))
                  .as("content_type"),
                encode(col("m.body"), "UTF-8").as("payload"))
            prod = members.writeStream
              .format("graft.spark.datasource.WarcDataSource")
              .option("checkpointLocation", prodCkpt)
              .start(landing)
            def produce(parity: Int): Unit = {
              mem.addData((0L to maxId).filter(_ % 2 == parity))
              prod.processAllAvailable()
            }
            val metaSchema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("src_url",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("img_idx",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("img_url",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("text",
                org.apache.spark.sql.types.StringType)))
            def consume(phase: Int): Unit = drain(s, s.readStream
                .format("graft.spark.datasource.WarcDataSource")
                .load(landing)
                .writeStream
                .foreachBatch {
                  (b: org.apache.spark.sql.Dataset[
                     org.apache.spark.sql.Row], _: Long) =>
                    // the m18 re-join, batch-local: the increment is
                    // pair-complete, so the batch is too
                    val meta = b.filter(col("rec_type") === "metadata")
                      .select(from_json(col("payload").cast("string"),
                        metaSchema).as("j0"))
                      // a null struct would silently DROP the sample at
                      // the join while the oracle still emits it (the
                      // m18 loud-parse stance)
                      .select(when(col("j0").isNull,
                          raise_error(lit("st29: metadata payload " +
                            "failed JSON parse")))
                        .otherwise(col("j0")).as("j"))
                      .select(col("j.src_url").as("src_url"),
                        col("j.img_idx").as("img_idx"),
                        col("j.img_url").as("img_url"),
                        col("j.text").as("text"))
                    val media = b.filter(col("rec_type") === "resource")
                      .select(col("url").as("img_url"),
                        md5(col("payload")).as("media_md5"),
                        col("n_bytes").as("media_bytes"))
                    // merge hint: left to adaptive execution, which side
                    // becomes the broadcast build side depends on which
                    // shuffle stage finishes first, so a warm run could
                    // compile a new join class
                    meta.join(media.hint("merge"), "img_url")
                      .select(lit(phase).as("phase"), col("src_url"),
                        col("img_idx"), col("img_url"), col("text"),
                        col("media_md5"), col("media_bytes"))
                      .write.mode("append").parquet(outPq)
                    ()
                }
                .option("checkpointLocation", consCkpt))
            produce(0)
            consume(1)
            produce(1)
            consume(2)
            val result = s.read.parquet(outPq)
              .orderBy(col("phase"), col("src_url")).collect()
            val schema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("phase",
                org.apache.spark.sql.types.IntegerType, nullable = false),
              org.apache.spark.sql.types.StructField("src_url",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("img_idx",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("img_url",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("text",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("media_md5",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("media_bytes",
                org.apache.spark.sql.types.LongType)))
            // localize (archive-sized) so the temp dirs can be deleted
            // before the frame is consumed (the st28 convention)
            s.createDataFrame(
              java.util.Arrays.asList(result: _*), schema)
          } finally {
            if (prod != null)
              try prod.stop() catch { case _: Throwable => () }
          }
        }
      },
      """SELECT 1 AS phase,
        |  'https://example.org/doc/' || doc_id AS src_url,
        |  0::BIGINT AS img_idx,
        |  'img://' || doc_id AS img_url,
        |  text,
        |  md5('IMG:' || text) AS media_md5,
        |  octet_length(encode('IMG:' || text)) AS media_bytes
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 2, 'https://example.org/doc/' || doc_id, 0::BIGINT,
        |  'img://' || doc_id, text, md5('IMG:' || text),
        |  octet_length(encode('IMG:' || text))
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY phase, src_url""".stripMargin),

    // Streaming DRIFT twin (st27) — l105's pipeline-monitoring report
    // fed by a LIVE stream (the r18 VERDICT #6 decision: entry-worthy,
    // shipped in the one form Spark's streaming planner admits): the
    // token-width conditional-count aggregate runs as a COMPLETE-mode
    // streaming query (one aggregation — chaining the totals/division
    // aggregate onto it is disallowed in streaming, which is exactly
    // why the division is a batch POST-STEP over the sink table,
    // through the SAME TextAnalysis.driftReport projection the batch
    // operator uses). State is the distinct-token space — the
    // vocabulary, not the stream; at 100 TB that is the same bound the
    // batch groupBy's shuffle carries. One hash proves streamed counts
    // + batch division ≡ batch operator ≡ DuckDB (shared l105 oracle).
    "st27_drift_stream" -> QuerySpec(
      (s, dir) => {
        val counts = documentStream(s, dir).select(
            (col("doc_id") % 2 === 0).as("in_a"),
            explode(graft.operators.TextAnalysis.tokens(col("text")))
              .as("token"))
          .groupBy(col("token"))
          .agg(count(when(col("in_a"), lit(1))).as("cnt_a"),
            count(when(!col("in_a"), lit(1))).as("cnt_b"))
        graft.operators.TextAnalysis.driftReport(
          drain(counts, "st27_sink", OutputMode.Complete()))
      }, LlmQueries.l105Sql),

    // Measured STREAMING scale stress (st26) — the l21/l108 pattern on
    // the st-family's stateful shape (st24's dropDuplicates state): a
    // 1x world of n rows over n/5 distinct keys and a 10x world of 10n
    // rows over 2n/5 keys drain through streaming dropDuplicates in 4
    // micro-batches each, IN THE SAME INVOCATION. The oracle hashes
    // the design-exact counts INCLUDING the final state-store row
    // counts: rows grow 10x but state ends at EXACTLY the distinct-key
    // count in both worlds (2x) — the state-bounded-by-keys claim st24
    // makes in prose, pinned as a hash. The wall ratio / driver-heap
    // bounds live in StreamingSpec's retrying check (the l108
    // convention: environment-dependent bounds never gate the oracle).
    "st26_stream_scale_stress" -> QuerySpec(
      (s, dir) => Run({
        import s.implicits._
        val n = st26NFor(dir)
        val (m, st1, st10) = measureStreamScaleStress(s, dir)
        Seq((n.toLong, n * 10L, m.rows1, m.rows10, st1, st10))
          .toDF("docs_1x", "docs_10x", "keys_1x", "keys_10x",
            "state_1x", "state_10x")
      }, () => st26Sql(dir))),

    // The TIME-BOUNDED streaming near-dup contract, proven against the
    // exact-global one on the same deterministic schedule (st06 covers
    // the LSH semantics on the real corpus; this entry's subject is the
    // STATE contract, so the fixture is a crafted 4-batch event-time
    // schedule driven through MemoryStream — the only way to pin batch
    // boundaries, and batch boundaries are what eviction observability
    // needs). Group c's two members arrive 660 s apart in event time
    // with an intervening batch that advances the watermark past the
    // 60 s TTL: the windowed stream EVICTS c's band buckets before the
    // second member arrives, so contract 'windowed' misses (301, 302)
    // while contract 'exact' — the batch candidate set over the same
    // docs, which st06 hash-proves the exact-global STREAM
    // ([[graft.operators.Dedup.streamingCandidatePairsDistinct]])
    // equals — emits it: the recall-vs-bounded-state trade made
    // observable. (StreamingSpec runs the exact contract as a REAL
    // second stream and additionally asserts eviction in the
    // state-store metrics; the entry keeps one streaming query so the
    // bench cost is the contract proof, not repeated micro-batch fixed
    // costs.) The oracle re-derives both contracts from the same
    // schedule literals: same-group pairs for 'exact', |Δts| ≤ TTL for
    // 'windowed' (equivalent to bucket-liveness on THIS schedule, where
    // every cross-TTL pair has an eviction batch between its members).
    "st11_stream_neardup_ttl" -> QuerySpec(
      (s, dir) => {
        // even tighter than withStateSizing's 8: a 4-batch streaming
        // query over a 7-doc schedule pays per-batch state-store task
        // overhead as ITS dominant cost (measured 4.2 s at 8
        // partitions, 32 bands, two streams); 2 partitions and 8 bands
        // carry the same proof at a fraction of the fixed cost
        // (identical texts collide in every band, and the oracle is
        // schedule-derived — band count cannot change the output)
        withStateSizing(s, 2) {
        import s.implicits._
        implicit val sqlCtx = s.sqlContext
        val base = 1700000000000L // fixed epoch — event time, not wall
        def ts(sec: Long) = new java.sql.Timestamp(base + sec * 1000L)
        // mutually non-near-dup word sequences (3-word shingles disjoint)
        val tA = "alpha bravo charlie delta echo foxtrot golf hotel india"
        val tB = "juliet kilo lima mike november oscar papa quebec romeo"
        val tC = "sierra tango uniform victor whiskey xray yankee zulu ok"
        val tD = "two three four five six seven eight nine ten eleven"
        val batches: Seq[Seq[(Long, String, java.sql.Timestamp)]] = Seq(
          Seq((101L, tA, ts(0)), (102L, tA, ts(1)), (301L, tC, ts(0))),
          Seq((201L, tB, ts(600)), (202L, tB, ts(601))),
          Seq((401L, tD, ts(630))), // watermark carrier: evicts group c
          Seq((302L, tC, ts(660))))
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String, java.sql.Timestamp)]
        val docs = mem.toDS().toDF("doc_id", "text", "ts")
        val q = graft.operators.Dedup
          .streamingCandidatePairsWindowed(docs, "ts", "0 seconds",
            ttlMs = 60000L, numHashes = 32, numBands = 8)
          .toDF("id_a", "id_b")
          .writeStream.format("memory").queryName("st11_w_sink")
          .outputMode("append").start()
        batches.foreach { b => mem.addData(b); q.processAllAvailable() }
        q.stop()
        // the exact-global contrast comes from the BATCH candidate set
        // over the same docs — st06 already hash-proves the exact
        // STREAM equals the batch set, so re-running a second streaming
        // query here would only re-pay micro-batch fixed costs (it did:
        // 4.2 s → this shape benches ~1.5 s) without adding proof
        val exact = graft.operators.Dedup.lshCandidates(
          batches.flatten.toDF("doc_id", "text", "ts"),
          numHashes = 32, numBands = 8)
        exact.select(lit("exact").as("contract"), col("id_a"), col("id_b"))
          .unionByName(s.table("st11_w_sink")
            .select(lit("windowed").as("contract"), col("id_a"),
              col("id_b")))
          .orderBy(col("contract"), col("id_a"), col("id_b"))
        }
      },
      """WITH sched(id, grp, tsec) AS (VALUES
        |  (101, 'a', 0), (102, 'a', 1), (301, 'c', 0),
        |  (201, 'b', 600), (202, 'b', 601), (401, 'd', 630),
        |  (302, 'c', 660)),
        |p AS (SELECT a.id::BIGINT AS id_a, b.id::BIGINT AS id_b,
        |        abs(a.tsec - b.tsec) AS dt
        |      FROM sched a JOIN sched b
        |        ON a.grp = b.grp AND a.id < b.id)
        |SELECT contract, id_a, id_b FROM (
        |  SELECT 'exact' AS contract, id_a, id_b FROM p
        |  UNION ALL
        |  SELECT 'windowed' AS contract, id_a, id_b FROM p
        |  WHERE dt <= 60)
        |ORDER BY contract, id_a, id_b""".stripMargin),

    // The PRODUCTION shape of the incremental pipeline: the account
    // changeset table as a real FILE-SOURCE readStream (no MemoryStream,
    // no driver collect) → decode → incremental W1 fold
    // (flatMapGroupsWithState) → memory sink. The DuckDB oracle
    // reconstructs the same closed intervals from the INDEPENDENT chain
    // simulation's account oracle (entry (addr, P) with a next touch at B
    // ⇒ interval [P, B); first touch opens from 0) — so a genuine
    // streaming execution of the flagship W1 is hash-checked end-to-end.
    // Fits one micro-batch (files ≪ maxFilesPerTrigger), and the fold
    // sorts each group's batch slice by block, so arrival order within
    // the batch is irrelevant.
    "st05_history_stream" -> QuerySpec(
      (s, dir) => Run({
        import s.implicits._
        val n = PipelineQueries.nFor(dir) // same world as the p-entries
        graft.pipeline.Fixtures.generate(s, n / 4, n) // materialize cache
        val src = s"${graft.pipeline.Fixtures.cacheBase(n / 4, n)}" +
          "/account_changeset"
        val raw = s.read.parquet(src)
        // P1 decode through the native codegen expression — the streaming
        // micro-batch plan codegens it exactly like the batch flagship
        // (the last udf-shaped dispatch in any registry entry, removed)
        val changes = s.readStream.schema(raw.schema)
          .option("pathGlobFilter", "*.parquet").parquet(src)
          .withColumn("d", graft.functions.expressions.StateExpressions
            .account_decode(col("account_blob")))
          .select(hex(col("address")).as("key"), col("block"),
            concat_ws(":", col("d.nonce"), hex(col("d.balance")))
              .as("payload"))
          .as[Streams.Change]
        drain(Streams.incrementalHistory(changes).toDF(), "st05_sink")
          .orderBy(col("key"), col("validFrom"))
      }, () => st05Sql(dir))),

    // (st01_incremental_history retired: the two-micro-batch
    // batch≡streaming proof it ran — MemoryStream fed by a harness-side
    // collect — lives in StreamingSpec ("incremental history == batch
    // pipeline on the same changesets"), and the PRODUCTION ingestion
    // shape of the same fold is st05 above, oracle-green from a real
    // file-source stream. The registry carries no harness-fed entry.)

    // The full streaming ARCHIVAL loop — the reference's one-shot
    // conversion projected onto its naturally-incremental input
    // (SURVEY §7.5): BOTH changeset tables (accounts AND storage, the
    // complete §3.1 input surface) arrive as file-source streams in
    // several micro-batches (maxFilesPerTrigger), each batch decodes
    // through the native expressions (account_decode / pad_value32),
    // interleaves to tagged StateItems, and APPENDS to one .dat dataset
    // via foreachBatch → StateFiles.append — per-batch part files plus
    // the manifest-merge commit, so a crash between batches leaves a
    // readable prefix archive. The readback (DSv2, .idx-pruned) must
    // return every appended row; counts are checked against the
    // independent chain simulation's combined changeset size.
    "st07_stream_archive" -> QuerySpec(
      (s, dir) => Run({
        import s.implicits._
        val n = PipelineQueries.nFor(dir)
        graft.pipeline.Fixtures.generate(s, n / 4, n)
        val base = graft.pipeline.Fixtures.cacheBase(n / 4, n)
        val src = s"$base/account_changeset"
        val srcSto = s"$base/storage_changeset"
        val raw = s.read.parquet(src)
        val rawSto = s.read.parquet(srcSto)
        val nFiles = new java.io.File(src).listFiles()
          .count(_.getName.endsWith(".parquet"))
        // temp archive + checkpoint, deleted once the counts materialize
        // or the entry throws (repeated harness runs leave no garbage)
        PipelineQueries.withScratchDir("graft-stream-archive") { root =>
          val out = s"$root/archive"
          val ckpt = s"$root/ckpt"
          new java.io.File(out).mkdir()
          // writer identity, persisted in the checkpoint: the replay-skip
          // below is only valid for THIS linear stream — a different
          // checkpoint (or a reset one restarting at batch 0) fails the
          // manifest ownership check loudly instead of dropping batches
          val sid = graft.spark.StateFiles.streamIdentity(ckpt)
          val z32 = graft.model.StateItem.zeros(32)
          val perTrigger = math.max(1, nFiles / 3).toString
          val accounts = s.readStream.schema(raw.schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", perTrigger)
            .parquet(src)
            .withColumn("d", graft.functions.expressions.StateExpressions
              .account_decode(col("account_blob")))
            .select(col("address"), col("block"),
              lit(false).as("isStorage"),
              col("d.nonce").as("nonce"),
              col("d.incarnation").as("incarnation"),
              col("d.balance").as("balance"),
              col("d.codeHash").as("codeHash"),
              lit(z32).as("slot"), lit(z32).as("value"))
          val storage = s.readStream.schema(rawSto.schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", perTrigger)
            .parquet(srcSto)
            .select(col("address"), col("block"),
              lit(true).as("isStorage"),
              lit(0L).as("nonce"), col("incarnation"),
              lit(z32).as("balance"), lit(z32).as("codeHash"),
              col("slot"),
              graft.functions.expressions.StateExpressions
                .pad_value32(col("value")).as("value"))
          drain(s, accounts.unionByName(storage).writeStream
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[
                 org.apache.spark.sql.Row], batchId: Long) =>
                // replay guard: a micro-batch whose append already reached
                // the manifest (crash between manifest commit and
                // checkpoint commit) must not append twice — the batch id
                // travels IN the manifest, atomically with the data
                if (!graft.spark.StateFiles.lastStreamBatch(out, sid)
                      .exists(_ >= batchId)) {
                  val items = batch
                    .sortWithinPartitions(col("address"),
                      col("isStorage"), col("block"))
                    .as[graft.model.StateItem]
                  graft.spark.StateFiles.append(items, out, strategy = 0,
                    streamBatchId = batchId, streamId = sid)
                }
                ()
            }
            .option("checkpointLocation", ckpt))
          val readBack = graft.spark.StateFiles.read(s, out, 0).count()
          Seq((raw.count() + rawSto.count(), readBack))
            .toDF("rows_streamed", "rows_read")
        }
      }, () => st07Sql(dir))),

    // The READ side of the §7.5 loop, closing it: a .dat archive is
    // TAILED incrementally by the DSv2 MicroBatchStream — new-file
    // discovery over the manifest's committed file_list (offsets are
    // list prefixes pinned by name + dataset generation), splits reuse
    // the batch scan's .idx machinery, maxFilesPerTrigger=1 forces real
    // multi-micro-batch admission control. Two drains: run 1 reads
    // increment 1; an append lands; run 2 RESUMES from the checkpoint
    // and reads only increment 2. Counts are checked against the
    // independent chain simulation (each increment is the full-history
    // item set) and against the batch DSv2 read of the final dataset.
    // foreachBatch sink: only fault-tolerant sinks may recover from a
    // checkpoint, and the resumed second drain is exactly a recovery.
    "st08_archive_tail" -> QuerySpec(
      (s, dir) => Run({
        import s.implicits._
        val h = PipelineQueries.history(s, dir)
        val items = graft.spark.StateFormat.asItems(
          h.withColumnRenamed("valid_from_block", "block"))
        PipelineQueries.withScratchDir("graft-archive-tail") { root =>
          val out = s"$root/archive"
          val ckpt = s"$root/ckpt"
          new java.io.File(out).mkdir()
          val got = new java.util.concurrent.atomic.AtomicLong
          def consume(): Long = {
            got.set(0L)
            // files/3 per trigger (the st07 convention): a multi-batch
            // drain without paying per-file micro-batch overhead ×32 part
            // files — StreamingSpec's tail test keeps maxFilesPerTrigger=1
            // for strict per-file admission control
            val nFiles = math.max(1, new java.io.File(out).listFiles()
              .count(_.getName.endsWith(".dat")))
            drain(s, s.readStream
              .format("graft.spark.datasource.DatDataSource")
              .option("strategy", "0")
              .option("maxFilesPerTrigger",
                math.max(1, nFiles / 3).toString)
              .load(out)
              .writeStream
              .foreachBatch {
                (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                 _: Long) => got.addAndGet(b.count()); ()
              }
              .option("checkpointLocation", ckpt))
            got.get()
          }
          graft.spark.StateFiles.append(items, out, 0)
          val run1 = consume()
          graft.spark.StateFiles.append(items, out, 0)
          val run2 = consume()
          val batchTotal = s.read
            .format("graft.spark.datasource.DatDataSource")
            .option("strategy", "0").load(out).count()
          Seq((run1, run2, batchTotal))
            .toDF("rows_run1", "rows_run2", "rows_batch")
        }
      }, () => st08Sql(dir))),

    // The whole §7.5 loop in ONE streaming query, both ends native DSv2:
    // tail a .dat archive (MicroBatchStream) and MIRROR it into a second
    // .dat dataset through the STREAMING_WRITE sink — each epoch is one
    // append increment committed with (stream_batch = epochId,
    // stream_id = query id), so a replayed epoch after a crash is
    // skipped, not double-appended. Two runs: run 1 mirrors increment 1;
    // an append lands on the source; run 2 resumes from the checkpoint
    // and mirrors ONLY the new increment. The mirror must batch-read
    // equal to the source — counts sim-exact.
    "st09_archive_mirror" -> QuerySpec(
      (s, dir) => Run({
        import s.implicits._
        val h = PipelineQueries.history(s, dir)
        val items = graft.spark.StateFormat.asItems(
          h.withColumnRenamed("valid_from_block", "block"))
        PipelineQueries.withScratchDir("graft-mirror") { root =>
          val src = s"$root/src"
          val dst = s"$root/dst"
          val ckpt = s"$root/ckpt"
          Seq(src, dst).foreach(new java.io.File(_).mkdir())
          def mirror(): Unit = {
            val nFiles = math.max(1, new java.io.File(src).listFiles()
              .count(_.getName.endsWith(".dat")))
            drain(s, s.readStream
              .format("graft.spark.datasource.DatDataSource")
              .option("strategy", "0")
              .option("maxFilesPerTrigger",
                math.max(1, nFiles / 3).toString)
              .load(src)
              .writeStream
              .format("graft.spark.datasource.DatDataSource")
              .option("strategy", "0")
              .option("path", dst)
              .option("checkpointLocation", ckpt))
          }
          graft.spark.StateFiles.append(items, src, 0)
          mirror()
          graft.spark.StateFiles.append(items, src, 0)
          mirror()
          def datCount(p: String): Long = s.read
            .format("graft.spark.datasource.DatDataSource")
            .option("strategy", "0").load(p).count()
          Seq((datCount(src), datCount(dst)))
            .toDF("rows_src", "rows_mirror")
        }
      }, () => st09Sql(dir))),
  )

  private def st09Sql(dir: String): String = {
    val h = 2 * PipelineQueries.histCount(dir)
    s"SELECT $h::BIGINT AS rows_src, $h::BIGINT AS rows_mirror"
  }

  private def st08Sql(dir: String): String = {
    val h = PipelineQueries.histCount(dir)
    s"""SELECT $h::BIGINT AS rows_run1, $h::BIGINT AS rows_run2,
       |  ${2 * h}::BIGINT AS rows_batch""".stripMargin
  }

  private def st07Sql(dir: String): String = {
    val n = PipelineQueries.nFor(dir)
    val sim = graft.pipeline.Fixtures.simulate(n / 4, n)
    val c = sim.accountChangeset.size + sim.storageChangeset.size
    s"SELECT $c::BIGINT AS rows_streamed, $c::BIGINT AS rows_read"
  }

  private def st05Sql(dir: String): String = {
    // derived from the sf dir exactly as the query fn derives it — no
    // run-time capture, so a subset/reordered Verify run cannot describe
    // a different fixture world than the query used
    val n = PipelineQueries.nFor(dir)
    val b = graft.pipeline.Fixtures.cacheBase(n / 4, n)
    s"""WITH ao AS (SELECT "_2".addressHex AS address, "_2".block AS blk,
       |  "_2".nonce AS nonce, "_2".balance AS bal
       |  FROM read_parquet('$b/account_oracle/*.parquet')),
       |seq AS (SELECT address, blk, nonce, bal,
       |  lead(blk) OVER (PARTITION BY address ORDER BY blk) AS nxt
       |  FROM ao),
       |closed AS (
       |  SELECT upper(address) AS key, blk AS "validFrom", nxt AS block,
       |    nonce::VARCHAR || ':' || upper(lpad(to_hex(bal),64,'0'))
       |      AS payload
       |  FROM seq WHERE nxt IS NOT NULL
       |  UNION ALL
       |  SELECT upper(address), 0::BIGINT, min(blk),
       |    '0:' || repeat('0',64) FROM ao GROUP BY address)
       |SELECT key, "validFrom", block, payload FROM closed
       |ORDER BY key, "validFrom"""".stripMargin
  }
}
