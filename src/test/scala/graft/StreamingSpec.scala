package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Bytes
import graft.pipeline.{Fixtures, FullHistory}
import graft.streaming.Streams

/** Streaming tests: the incremental W1 fold must produce exactly the batch
  * pipeline's changeset-derived history (batch-stream equivalence), and the
  * watermarked window agg must match a batch groupBy on the same data.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.withDefaults(SparkSession.builder())
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("incremental history == batch pipeline on the same changesets") {
    import spark.implicits._
    val world = Fixtures.generate(spark, nAddresses = 20, nBlocks = 120,
      seed = 99L)

    // batch reference: full pipeline, minus the PlainState-derived rows
    // (a stream has no final snapshot); those are each key's last row
    val batch = FullHistory.build(spark, world.accountChangeset,
      world.storageChangeset, world.plainCodeHash,
      world.plainStateAccounts, world.plainStateStorage, world.latestBlock)
    val keyed = batch.withColumn("key",
      concat_ws("/", hex(col("address")), col("isStorage").cast("string"),
        when(col("isStorage"), col("incarnation")).otherwise(lit(0L)),
        when(col("isStorage"), hex(col("slot"))).otherwise(lit(""))))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
    val expected = keyed
      .withColumn("maxVf", max(col("valid_from_block")).over(w))
      .filter(col("valid_from_block") =!= col("maxVf")) // drop snapshot row
      .select(col("key"), col("valid_from_block"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

    // stream the same changesets in two block-ordered micro-batches
    val accounts = FullHistory.decodeAccounts(world.accountChangeset,
      world.plainCodeHash)
    val storage = FullHistory.decodeStorage(world.storageChangeset)
    val changes = accounts.unionByName(storage).withColumn("key",
        concat_ws("/", hex(col("address")), col("isStorage").cast("string"),
          when(col("isStorage"), col("incarnation")).otherwise(lit(0L)),
          when(col("isStorage"), hex(col("slot"))).otherwise(lit(""))))
      .select(col("key"), col("block"),
        concat_ws(":", col("nonce"), hex(col("balance"))).as("payload"))
      .as[Streams.Change].collect().sortBy(_.block)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Change]
    val q = Streams.incrementalHistory(mem.toDS())
      .writeStream.format("memory").queryName("inc_hist")
      .outputMode("append").start()
    val (b1, b2) = changes.splitAt(changes.length / 2)
    mem.addData(b1.toSeq); q.processAllAvailable()
    mem.addData(b2.toSeq); q.processAllAvailable()
    val got = spark.table("inc_hist")
      .select(col("key"), col("validFrom"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    q.stop()

    // batch applies the F3 genesis drop (valid_from==0 && block==0 never
    // occurs here since changeset blocks start at 1) — sets must match
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("windowed event aggregation matches batch groupBy") {
    import spark.implicits._
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
      .select(col("ts"), col("event_type"), col("value"))
    val rows = events.as[(java.sql.Timestamp, String, Double)].collect()

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = Streams.eventWindowAgg(
        mem.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("ev_agg")
      .outputMode("complete").start()
    mem.addData(rows.toSeq)
    q.processAllAvailable()
    val got = spark.table("ev_agg")
      .select(col("window_start"), col("event_type"), col("n_events"))
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    q.stop()

    val expected = events
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    assert(got == expected)
  }

  test("windowed near-dup contract holds on RANDOM schedules: stream " +
      "output equals the schedule-derived eviction simulation (property)") {
    // st11 proves the TTL contract on one crafted schedule; this runs
    // randomized schedules (seeded — deterministic in CI) through the
    // REAL stream and checks the emitted pair set against a direct
    // simulation of the documented contract: watermark = max event time
    // seen (delay 0), a bucket whose (newest-member ts + TTL) falls
    // strictly below the watermark is evicted before the next batch's
    // data (no-data micro-batches make eviction prompt), members of a
    // live bucket always pair, evicted members never re-pair.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // mutually non-near-dup word sequences (3-word shingles disjoint) —
    // same-group docs share a text, so they collide in EVERY band and
    // the owner-band rule reduces to one logical bucket per group
    val groupTexts = Vector(
      "alpha bravo charlie delta echo foxtrot golf hotel india",
      "juliet kilo lima mike november oscar papa quebec romeo",
      "sierra tango uniform victor whiskey xray yankee zulu ok",
      "two three four five six seven eight nine ten eleven",
      "red orange yellow green blue indigo violet silver gold",
      "ant bee crow deer elk fox goat hawk ibex jay koala lynx")
    val ttlMs = 60000L
    val base = 1700000000000L
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try for (seed <- Seq(11L, 23L, 47L)) {
      val rnd = new scala.util.Random(seed)
      val nDocs = 12 + rnd.nextInt(6)
      // ts jitter i*7+1 makes |Δts| == ttl and watermark == timeout
      // unreachable (7*(i2-i1) ≡ 0 mod 1000 has no solution here), so
      // the strict-inequality eviction boundary is never ambiguous
      val docs = (0 until nDocs).map { i =>
        (2000L + i, rnd.nextInt(groupTexts.size),
          base + rnd.nextInt(300) * 1000L + i * 7L + 1L)
      }
      // processing order = event-time order: delay-0 watermark means a
      // genuinely late row would be dropped pre-state, which is the
      // watermark's contract, not the TTL contract under test
      val ordered = docs.sortBy(_._3)
      val nBatches = 3 + rnd.nextInt(3)
      val cuts = (0 until nBatches - 1)
        .map(_ => rnd.nextInt(ordered.size)).sorted
      val batches = ((0 +: cuts) :+ ordered.size).sliding(2)
        .map { case Seq(a, b) => ordered.slice(a, b) }
        .filter(_.nonEmpty).toSeq
      val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
      val sink = s"prop_w_$seed"
      val q = graft.operators.Dedup.streamingCandidatePairsWindowed(
          mem.toDS().toDF("doc_id", "text", "ts"), "ts", "0 seconds",
          ttlMs = ttlMs, numHashes = 32, numBands = 8)
        .toDF("id_a", "id_b")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      batches.foreach { b =>
        mem.addData(b.map { case (id, g, ts) =>
          (id, groupTexts(g), new java.sql.Timestamp(ts)) })
        q.processAllAvailable()
      }
      q.stop()
      val got = spark.table(sink).as[(Long, Long)].collect().toSet
      // --- contract simulation over the same schedule ---
      val buckets = scala.collection.mutable.Map
        .empty[Int, List[(Long, Long)]] // group -> members (id, ts)
      val expected = scala.collection.mutable.Set.empty[(Long, Long)]
      var wm = Long.MinValue
      for (b <- batches) {
        buckets.filterInPlace { case (_, ms) =>
          ms.map(_._2).max + ttlMs >= wm } // strict: evict iff wm > timeout
        for ((id, g, ts) <- b.sortBy(_._1)) {
          val members = buckets.getOrElse(g, Nil)
          members.foreach { case (m, _) =>
            expected += (if (m < id) (m, id) else (id, m)) }
          buckets(g) = members :+ ((id, ts))
        }
        wm = math.max(wm, b.map(_._3).max)
      }
      assert(got == expected.toSet,
        s"seed=$seed batches=${batches.map(_.map(_._1))}\n" +
          s"missing=${(expected.toSet -- got)} extra=${(got -- expected)}")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("windowed streaming near-dup evicts idle bucket state (observable " +
      "in state metrics) and misses only the cross-TTL pair") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    def ts(sec: Long) = new java.sql.Timestamp(base + sec * 1000L)
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val tB = "juliet kilo lima mike november oscar papa quebec romeo"
    val tC = "sierra tango uniform victor whiskey xray yankee zulu ok"
    val tD = "two three four five six seven eight nine ten eleven"
    val batches: Seq[Seq[(Long, String, java.sql.Timestamp)]] = Seq(
      Seq((101L, tA, ts(0)), (102L, tA, ts(1)), (301L, tC, ts(0))),
      Seq((201L, tB, ts(600)), (202L, tB, ts(601))),
      Seq((401L, tD, ts(630))), // no data for group a/c buckets → timeout
      Seq((302L, tC, ts(660))))
    def run(windowed: Boolean, sink: String): (Set[(Long, Long)],
        Seq[Long]) = {
      val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
      val docs = mem.toDS().toDF("doc_id", "text", "ts")
      val pairs =
        if (windowed) graft.operators.Dedup
          .streamingCandidatePairsWindowed(docs, "ts", "0 seconds",
            ttlMs = 60000L)
        else graft.operators.Dedup.streamingCandidatePairsDistinct(docs)
      val q = pairs.toDF("id_a", "id_b")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      // total state rows (both stateful stages) per completed batch
      val stateTotals = q.recentProgress.toSeq
        .filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum)
      q.stop()
      val got = spark.table(sink).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got, stateTotals)
    }
    val (wGot, wState) = run(windowed = true, "ttl_w_sink")
    val (eGot, eState) = run(windowed = false, "ttl_e_sink")
    // the windowed contract loses EXACTLY the pair whose members arrive
    // more than a TTL apart in event time — nothing else
    assert(eGot == Set((101L, 102L), (201L, 202L), (301L, 302L)),
      s"exact contract: $eGot")
    assert(wGot == Set((101L, 102L), (201L, 202L)),
      s"windowed contract: $wGot")
    // eviction is visible in the state store itself: some batch of the
    // windowed run DROPS state rows (group a + c buckets die when the
    // watermark passes their TTL), while the exact run's state only
    // ever grows
    def drops(xs: Seq[Long]) = xs.lazyZip(xs.drop(1)).exists(_ > _)
    assert(wState.nonEmpty && drops(wState),
      s"no state eviction observed: $wState")
    assert(eState.nonEmpty && !drops(eState),
      s"exact-contract state shrank: $eState")
  }

  test("streaming near-dup candidates accumulate across micro-batches " +
      "and equal the batch candidate set") {
    import spark.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.Dedup
      .streamingCandidatePairs(mem.toDS().toDF("doc_id", "text"))
      .toDF("id_a", "id_b")
      .writeStream.format("memory").queryName("nd_sink")
      .outputMode("append").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    mem.addData(b1.toSeq); q.processAllAvailable()
    val afterB1 = spark.table("nd_sink").distinct().count()
    mem.addData(b2.toSeq); q.processAllAvailable()
    val got = spark.table("nd_sink").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    val expected = graft.operators.Dedup.lshCandidates(
        Tables(spark, "/root/testdata/sf0.001", "documents"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the union's candidate set, independent of micro-batch cut: pairs
    // spanning the boundary are emitted when the SECOND member arrives
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(afterB1 < got.size,
      "no cross-batch pairs were emitted in the second batch")
  }

  test("streaming .dat source tails appends incrementally and rejects " +
      "an overwrite under a live offset") {
    import spark.implicits._
    val world = Fixtures.generate(spark, nAddresses = 16, nBlocks = 80,
      seed = 7L)
    val h = FullHistory.build(spark, world.accountChangeset,
      world.storageChangeset, world.plainCodeHash,
      world.plainStateAccounts, world.plainStateStorage, world.latestBlock)
    val items = graft.spark.StateFormat.asItems(
      h.withColumnRenamed("valid_from_block", "block"))
    val n = items.count()
    val dir = java.nio.file.Files.createTempDirectory("graft-tail").toString
    val ckpt = dir + "-ckpt"
    graft.spark.StateFiles.append(items, dir, 0)

    // foreachBatch, not the memory sink: only fault-tolerant sinks may
    // recover from a checkpoint, and the multi-run tail IS a recovery
    val got = new java.util.concurrent.atomic.AtomicLong
    val batches = new java.util.concurrent.atomic.AtomicInteger
    def drain(): Long = {
      got.set(0L); batches.set(0)
      val q = spark.readStream
        .format("graft.spark.datasource.DatDataSource")
        .option("strategy", "0").option("maxFilesPerTrigger", "1")
        .load(dir)
        .writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            got.addAndGet(b.count()); batches.incrementAndGet(); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      got.get()
    }
    // run 1 drains increment 1; maxFilesPerTrigger=1 forces one
    // micro-batch per committed part file (real admission control)
    val nParts = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".dat"))
    assert(drain() == n)
    assert(batches.get() == nParts,
      s"expected $nParts capped micro-batches, got ${batches.get()}")
    // run 2 resumes from the checkpoint and reads ONLY increment 2
    graft.spark.StateFiles.append(items, dir, 0)
    assert(drain() == n)
    // nothing new: an empty drain delivers zero rows
    assert(drain() == 0L)
    // the batch DSv2 read of the same dataset sees both increments
    assert(spark.read.format("graft.spark.datasource.DatDataSource")
      .option("strategy", "0").load(dir).count() == 2 * n)
    // OVERWRITE under the live offset log: fresh part numbers, the
    // consumed prefix no longer matches → the next drain fails loudly
    // instead of silently re-reading renamed data
    graft.spark.StateFiles.write(items, dir, 0)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => Option(c.getMessage)
        .exists(_.contains("overwritten under a live stream"))),
      s"unexpected failure: $ex")
  }

  test("streaming .dat source prunes splits via blockGte/blockLte options") {
    import org.apache.spark.sql.functions.col
    val world = Fixtures.generate(spark, nAddresses = 16, nBlocks = 80,
      seed = 7L)
    val h = FullHistory.build(spark, world.accountChangeset,
      world.storageChangeset, world.plainCodeHash,
      world.plainStateAccounts, world.plainStateStorage, world.latestBlock)
    val items = graft.spark.StateFormat.asItems(
      h.withColumnRenamed("valid_from_block", "block"))
    val mid = world.latestBlock / 2
    val lo = items.filter(col("block") < mid)
    val hi = items.filter(col("block") >= mid)
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString
    // two increments with DISJOINT block ranges → the low increment's
    // files have maxBlock < mid in their .idx bounds and a blockGte=mid
    // tail must prune them entirely (split-granularity, superset — here
    // exact because the ranges are disjoint at file level)
    graft.spark.StateFiles.append(lo, dir, 0)
    graft.spark.StateFiles.append(hi, dir, 0)
    def drained(opts: Map[String, String]): Long = {
      val got = new java.util.concurrent.atomic.AtomicLong
      val q = opts.foldLeft(spark.readStream
          .format("graft.spark.datasource.DatDataSource")
          .option("strategy", "0")) { case (r, (k, v)) => r.option(k, v) }
        .load(dir)
        .writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) => got.addAndGet(b.count()); ()
        }
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft-prune-ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      got.get()
    }
    val nHi = hi.count()
    val nAll = items.count()
    assert(drained(Map.empty) == nAll)
    assert(drained(Map("blockGte" -> mid.toString)) == nHi,
      "blockGte did not prune the low-block increment's splits")
    assert(drained(Map("blockLte" -> (mid - 1).toString)) == nAll - nHi)
  }

  test("DSv2 streaming sink mirrors a .dat archive with exactly-once " +
      "epochs") {
    val world = Fixtures.generate(spark, nAddresses = 16, nBlocks = 80,
      seed = 7L)
    val h = FullHistory.build(spark, world.accountChangeset,
      world.storageChangeset, world.plainCodeHash,
      world.plainStateAccounts, world.plainStateStorage, world.latestBlock)
    val items = graft.spark.StateFormat.asItems(
      h.withColumnRenamed("valid_from_block", "block"))
    val n = items.count()
    val src = java.nio.file.Files.createTempDirectory("graft-msrc").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-mdst").toString
    val ckpt = src + "-ck"
    def mirror(): Unit = {
      val q = spark.readStream
        .format("graft.spark.datasource.DatDataSource")
        .option("strategy", "0").option("maxFilesPerTrigger", "1")
        .load(src)
        .writeStream
        .format("graft.spark.datasource.DatDataSource")
        .option("strategy", "0")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    def datCount(p: String): Long = spark.read
      .format("graft.spark.datasource.DatDataSource")
      .option("strategy", "0").load(p).count()
    graft.spark.StateFiles.append(items, src, 0)
    mirror()
    assert(datCount(dst) == n)
    // each epoch's parts and the manifest record the blocks the mirrored
    // rows hold, with no write option stating them
    val blocks = items.agg(min("block"), max("block")).head()
    SinkCommit.assertBlockRange(dst, (blocks.getLong(0), blocks.getLong(1)))
    // the mirror's manifest records the stream identity: the query id,
    // which Spark persists in the checkpoint
    val qid = graft.spark.StateFiles
      .manifestStringField(dst, "stream_id")
    assert(qid.exists(_.nonEmpty))
    // resume: only the NEW source increment mirrors (no double-append of
    // increment 1 — the epoch guard and the offset log both hold)
    graft.spark.StateFiles.append(items, src, 0)
    mirror()
    assert(datCount(dst) == 2 * n)
    assert(graft.spark.StateFiles
      .manifestStringField(dst, "stream_id") == qid,
      "restart from the same checkpoint must keep the stream identity")
    // nothing new: an empty run appends nothing
    mirror()
    assert(datCount(dst) == 2 * n)
    // a DIFFERENT streaming query (fresh checkpoint) may not silently
    // continue this mirror: the commit path fails loudly on the
    // stream_id mismatch rather than comparing epoch ids across streams
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream
        .format("graft.spark.datasource.DatDataSource")
        .option("strategy", "0").load(src)
        .writeStream
        .format("graft.spark.datasource.DatDataSource")
        .option("strategy", "0")
        .option("checkpointLocation", src + "-ck2")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes(ex).exists(c => Option(c.getMessage)
      .exists(_.contains("not comparable across streams"))),
      s"unexpected failure: $ex")
  }

  test("streaming WARC ingest is incremental: a resumed query processes " +
      "only the crawl files that landed since the checkpoint") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-warc-stream").toString
    val ck = dir + "-ck"
    def writeWarc(ids: Range): Unit =
      graft.sources.Warc.write(
        ids.map(i => (s"https://s.example/$i", "2026-03-01T00:00:00Z",
          s"streamed document body number $i with several tokens"))
          .toDF("url", "warc_date", "text").coalesce(1),
        // distinct part name per batch: the writer names by partition id,
        // so stage a unique subdir then move the file up
        dir + s"/inc-${ids.head}")
    // Warc.write writes into a subdir; flatten so the stream sees files
    // land in ONE watched directory, like crawl output does
    def flatten(): Unit = {
      val root = new java.io.File(dir)
      root.listFiles().filter(_.isDirectory).foreach { sub =>
        // skip Hadoop's dot-prefixed .crc sidecars: Spark's file listing
        // hides dot/underscore files, but a rename that un-hides one
        // would feed checksum bytes to the WARC parser
        sub.listFiles().filter(!_.getName.startsWith(".")).foreach { f =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(root, sub.getName + "-" + f.getName).toPath)
        }
        sub.listFiles().foreach(_.delete())
        sub.delete()
      }
    }
    val binSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    // durable sink (parquet): the memory sink cannot recover from a
    // checkpoint, and checkpoint RESUME is the property under test
    val out = dir + "-out"
    def drain(): Unit = {
      val q = spark.readStream.format("binaryFile").schema(binSchema)
        .load(dir)
        .select(col("path")).as[String]
        .mapPartitions(p => p.flatMap(graft.sources.Warc.parseFile))
        .toDF()
        .filter(col("rec_type") === "conversion")
        .select(col("url"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def urls(): Seq[String] =
      spark.read.parquet(out).as[String].collect().toSeq
    writeWarc(0 until 5); flatten()
    drain()
    assert(urls().sorted ==
      (0 until 5).map(i => s"https://s.example/$i").sorted)
    // second crawl file lands; the RESUMED query (same checkpoint) must
    // ingest ONLY the new records: exactly one output row per id with NO
    // re-ingestion duplicates of the first file (file-source offsets
    // track already-seen files)
    writeWarc(5 until 8); flatten()
    drain()
    assert(urls().sorted ==
      (0 until 8).map(i => s"https://s.example/$i").sorted,
      s"resume re-ingested or missed files: ${urls().sorted}")
  }

  test("politenessSchedule: per-host FIFO slots continue ACROSS " +
      "micro-batches (the custom-state contract), within-batch order " +
      "is by url, hosts are independent, scheduled_at = slot x delay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.FetchCandidate]
    val q = Streams.politenessSchedule(mem.toDS())
      .writeStream.format("memory").queryName("polite_sink")
      .outputMode("append").start()
    // batch 1: two urls on a, one on b (added out of url order)
    mem.addData(Seq(
      Streams.FetchCandidate("a.example", "https://a.example/2", 2.0),
      Streams.FetchCandidate("a.example", "https://a.example/1", 2.0),
      Streams.FetchCandidate("b.example", "https://b.example/1", 1.0)))
    q.processAllAvailable()
    // batch 2: a's queue must CONTINUE at slot 2, not restart at 0
    mem.addData(Seq(
      Streams.FetchCandidate("a.example", "https://a.example/3", 2.0)))
    q.processAllAvailable()
    val got = spark.table("polite_sink")
      .collect().map(r => (r.getString(1), r.getLong(2),
        r.getDouble(4))).toSet
    q.stop()
    assert(got == Set(
      ("https://a.example/1", 0L, 0.0),
      ("https://a.example/2", 1L, 2.0),
      ("https://b.example/1", 0L, 0.0),
      ("https://a.example/3", 2L, 4.0)), got)
  }

  test("robotsGate (streaming-legal per-row form) == robotsFilter " +
      "(batch aggregation form) decision-for-decision on the l54 " +
      "rule battery: prefix rules, longer-Allow override, wildcard, " +
      "$-anchor, agent-specific group, deny-all, missing host") {
    import spark.implicits._
    val robots = Seq(
      ("www.example.org",
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n" +
          "Disallow: /*?sessionid=\nDisallow: /files/*.pdf$\n"),
      ("cdn.tracker.net", "# deny all\nUser-agent: *\nDisallow: /\n"),
      ("news.site.com",
        "User-agent: graftbot\nDisallow: /doc/\n\n" +
          "User-agent: *\nDisallow: /\n"),
      ("ads.doubleclick.net",
        "User-agent: other\nDisallow: /\n\n" +
          "User-agent: *\nAllow: /\n"))
      .toDF("domain", "robots_txt")
    val hosts = Seq("www.example.org", "cdn.tracker.net",
      "news.site.com", "blog.example.org", "ads.doubleclick.net")
    val paths = Seq("/doc/7", "/private/7", "/private/ok/7",
      "/doc/7?sessionid=abc123", "/files/7.pdf", "/files/7.pdfx", "")
    val urls = (for (h <- hosts; p <- paths)
      yield s"https://$h$p").zipWithIndex
      .map { case (u, i) => (i.toLong, u) }.toDF("doc_id", "url")
    val viaFilter = graft.operators.TextAnalysis
      .robotsFilter(urls, robots, agent = "graftbot")
      .collect().map(r => r.getAs[String]("url") ->
        r.getAs[Boolean]("allowed")).toMap
    val viaGate = graft.operators.TextAnalysis
      .robotsGate(urls, robots, agent = "graftbot")
      .collect().map(r => r.getAs[String]("url") ->
        r.getAs[Boolean]("allowed")).toMap
    assert(viaGate.size == hosts.length * paths.length)
    assert(viaGate == viaFilter,
      s"diff: ${viaGate.toSet.diff(viaFilter.toSet).take(5)}")
    // and a spot anchor so both forms can't be wrong together
    assert(!viaGate("https://www.example.org/private/7"))
    assert(viaGate("https://www.example.org/private/ok/7"))
    assert(!viaGate("https://www.example.org/files/7.pdf"))
    assert(viaGate("https://www.example.org/files/7.pdfx"))
    assert(viaGate("https://blog.example.org/doc/7"))
    assert(!viaGate("https://news.site.com/doc/7"))
    assert(!viaGate("https://cdn.tracker.net/doc/7"))
  }

  test("WarcMicroBatchStream: maxFilesPerTrigger=1 admits one file per " +
      "micro-batch, and mutating the landing dir under a live " +
      "checkpoint fails loudly instead of silently re-reading") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val streamDir = java.nio.file.Files
      .createTempDirectory("graft-warc-mbs").toString
    val ckpt = streamDir + "-ckpt"
    def addFiles(tag: String, n: Int): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-warc-mbs-inc").toString
      val rows = (0 until 6).map(i =>
        (s"https://t.ex/$tag/$i", "2026-01-01T00:00:00Z", s"body $tag $i"))
      graft.sources.Warc.write(
        rows.toDF("url", "warc_date", "text").repartition(n), tmp)
      new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".warc.gz")).sortBy(_.getName)
        .foreach { f =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(streamDir, s"$tag-${f.getName}"))
        }
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
    }
    val batches = new java.util.concurrent.atomic.AtomicInteger
    val rowsSeen = new java.util.concurrent.atomic.AtomicLong
    def drain(): Unit = {
      val q = spark.readStream
        .format("graft.spark.datasource.WarcDataSource")
        .option("maxFilesPerTrigger", "1")
        .load(streamDir)
        .writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            batches.incrementAndGet()
            rowsSeen.addAndGet(
              b.filter(col("rec_type") === "conversion").count())
            ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    addFiles("inc1", 3)
    drain()
    assert(batches.get() == 3,
      s"3 files at maxFilesPerTrigger=1 must be 3 batches: ${batches.get()}")
    assert(rowsSeen.get() == 6, s"rows: ${rowsSeen.get()}")
    // non-appending mutation: remove the FIRST consumed file — the
    // resumed stream's offset prefix no longer matches the listing
    val first = new java.io.File(streamDir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).sortBy(_.getName).head
    assert(first.delete())
    addFiles("inc2", 1)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("mutated under a live stream")),
      s"expected the loud mutation diagnostic, got: ${msgs(ex).take(3)}")
    Seq(streamDir, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(d)))
  }

  test("drain: a query whose task throws rethrows, leaves no active " +
      "query and restores the session's shuffle partitions") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val mem = MemoryStream[Long]
    mem.addData(1L, 2L, 3L)
    val failing = mem.toDS().toDF("id")
      .select(when(col("id") === 2L, raise_error(lit("drain spec boom")))
        .otherwise(col("id")).as("id"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      graft.queries.StreamingQueries.drain(failing, "drain_spec_fail"))
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("drain spec boom"))),
      s"the task's error is not in the cause chain: $ex")
    assert(spark.streams.active.isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    // a query that succeeds keeps its state in the drain's 8 partitions
    val ok = MemoryStream[Long]
    ok.addData(1L, 1L, 2L)
    val q = graft.queries.StreamingQueries.drain(spark,
      ok.toDS().toDF("id").dropDuplicates("id")
        .writeStream.format("memory").queryName("drain_spec_ok"))
    assert(spark.table("drain_spec_ok").count() == 2)
    assert(q.recentProgress.flatMap(_.stateOperators)
      .map(_.numShufflePartitions).toSet == Set(8L))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("st26 scale bounds: 10x rows through streaming dedup stays " +
      "sub-linear with flat driver heap, and the state store ends at " +
      "the distinct-key count — keys, not rows seen") {
    // the registry entry oracle-hashes the design-exact counts
    // (including state == keys); the environment-dependent wall/heap
    // bounds live here with retries (the l21/l108 convention)
    val attempts = LazyList.continually(
      graft.queries.StreamingQueries.measureStreamScaleStress(
        spark, "spec")).take(3)
    assert(attempts.exists { case (m, _, _) =>
      m.subquadratic && m.driverHeapFlat },
      "ratio >= 35x or driver heap grew >= 512MB on all 3 attempts")
    val (m, s1, s10) = attempts.head
    val n = graft.queries.StreamingQueries.st26NFor("spec")
    // rows grow 10x; distinct keys (and therefore state) exactly 2x
    assert(s1 == n / 5 && s10 == 2L * n / 5,
      s"state rows off design: ($s1, $s10) vs (${n / 5}, ${2 * n / 5})")
    assert(m.rows1 == n / 5 && m.rows10 == 2L * n / 5,
      s"sink counts off design: ${(m.rows1, m.rows10)}")
  }
}
