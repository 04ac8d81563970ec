package graft

import java.nio.file.Files
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.codec.AccountBlob
import graft.functions.Bytes
import graft.model.StateItem
import graft.pipeline.{Fixtures, FullHistory}
import graft.spark.StateFormat

/** End-to-end tests of the changeset→full-history dataflow (SURVEY.md §3.1)
  * against an independent chain-simulation oracle, plus the Spark-side
  * copy_file equivalence (erigon_extract.c:2043-2100) for the E1 fold.
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.withDefaults(SparkSession.builder())
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  lazy val world: Fixtures.World = Fixtures.generate(spark)

  lazy val history = FullHistory.build(spark,
    world.accountChangeset, world.storageChangeset, world.plainCodeHash,
    world.plainStateAccounts, world.plainStateStorage,
    world.latestBlock).cache()

  test("account blob codec round trip") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val nonce = math.abs(rnd.nextLong()) % 100000
      val bal = new Array[Byte](32)
      if (rnd.nextBoolean()) rnd.nextBytes(bal)
      val inc = rnd.nextInt(4).toLong
      val hash = new Array[Byte](32)
      if (rnd.nextBoolean()) rnd.nextBytes(hash)
      val d = AccountBlob.decode(AccountBlob.encode(nonce, bal, inc, hash))
      assert(d.nonce == nonce && d.incarnation == inc)
      assert(d.balance.sameElements(bal) && d.codeHash.sameElements(hash))
    }
    // empty blob decodes to the zero account (creation pre-state)
    val z = AccountBlob.decode(Array.emptyByteArray)
    assert(z.nonce == 0 && z.incarnation == 0 && Bytes.isZero(z.balance))
  }

  test("full history has no duplicate keys (erigon_extract.c:2153-2155)") {
    assert(FullHistory.duplicateKeys(
      history.withColumnRenamed("valid_from_block", "block")).count() == 0)
  }

  test("anomaly telemetry: nonAdvancingCount counts planted duplicate " +
      "(key, block) rows, skips genesis duplicates, zero on clean data") {
    import spark.implicits._
    def merged(acc: org.apache.spark.sql.DataFrame) =
      FullHistory.mergedStream(acc, world.storageChangeset,
        world.plainCodeHash, world.plainStateAccounts,
        world.plainStateStorage, world.latestBlock)
    // the driver fixture is a well-formed chain: zero anomalies
    assert(FullHistory.nonAdvancingCount(
      merged(world.accountChangeset)) == 0L)
    // plant ONE duplicate (address, block>0) account-changeset row — the
    // reference's "Adjusted block number has not moved backward" case
    // (erigon_extract.c:2426-2433) — and TWO duplicate genesis rows,
    // which the reference skips silently before the warning (:2422-2425)
    val one = world.accountChangeset.filter(col("block") > 0).limit(1)
    val genesisDup = world.accountChangeset.filter(col("block") > 0)
      .limit(1).withColumn("block", lit(0L))
    val planted = world.accountChangeset
      .unionByName(one)
      .unionByName(genesisDup).unionByName(genesisDup)
    val n = FullHistory.nonAdvancingCount(merged(planted))
    assert(n == 1L, s"expected exactly the planted non-genesis dup: $n")
    // the decode-free raw-changeset form counts identically
    assert(FullHistory.nonAdvancingCountRaw(planted,
      world.storageChangeset) == 1L)
    assert(FullHistory.nonAdvancingCountRaw(world.accountChangeset,
      world.storageChangeset) == 0L)
  }

  test("as-of account queries match the chain-simulation oracle") {
    val rnd = new scala.util.Random(13)
    val byAddr = world.accountOracle.groupBy(_.addressHex)
    val checks = rnd.shuffle(byAddr.keys.toList).take(12).flatMap { a =>
      Seq(0L, 1L, world.latestBlock / 2, world.latestBlock,
        rnd.nextInt(world.latestBlock.toInt).toLong).map(b => (a, b))
    }
    for ((addrHex, b) <- checks) {
      val expected = byAddr(addrHex).filter(_.block <= b)
        .sortBy(_.block).lastOption
      val row = FullHistory.accountAsOf(history, Bytes.unhex(addrHex), b)
        .collect().headOption
      expected match {
        case None =>
          // never-changed-by-B: either no row or the all-zero genesis row
          row.foreach { r =>
            assert(r.getAs[Long]("nonce") == 0L)
            assert(Bytes.isZero(r.getAs[Array[Byte]]("balance")))
          }
        case Some(e) =>
          assert(row.isDefined, s"missing row for $addrHex @ $b")
          val r = row.get
          assert(r.getAs[Long]("nonce") == e.nonce, s"$addrHex @ $b nonce")
          assert(Bytes.get64be(r.getAs[Array[Byte]]("balance"), 24) ==
            e.balance, s"$addrHex @ $b balance")
          assert(r.getAs[Long]("incarnation") == e.incarnation)
          assert(Bytes.hex(r.getAs[Array[Byte]]("codeHash")) == e.codeHashHex,
            s"$addrHex @ $b codeHash (J1 lookup join)")
      }
    }
  }

  test("as-of storage queries match the chain-simulation oracle") {
    val rnd = new scala.util.Random(17)
    val byKey = world.storageOracle.groupBy(s => (s.addressHex, s.slotHex))
    val keys = rnd.shuffle(byKey.keys.toList).take(10)
    for ((addrHex, slotHex) <- keys) {
      val b = rnd.nextInt(world.latestBlock.toInt).toLong
      val expected = byKey((addrHex, slotHex)).filter(_.block <= b)
        .sortBy(_.block).lastOption
      val row = FullHistory.storageAsOf(history, Bytes.unhex(addrHex),
        Bytes.unhex(slotHex), b).collect().headOption
      expected match {
        case None => row.foreach { r =>
          assert(Bytes.isZero(r.getAs[Array[Byte]]("value")))
        }
        case Some(e) =>
          assert(row.isDefined, s"missing storage $addrHex/$slotHex @ $b")
          assert(Bytes.get64be(row.get.getAs[Array[Byte]]("value"), 24) ==
            e.value, s"$addrHex/$slotHex @ $b")
      }
    }
  }

  test("batch as-of join resolves many lookups in one pass") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val byAddr = world.accountOracle.groupBy(_.addressHex)
    val lookups = rnd.shuffle(byAddr.keys.toList).take(15).flatMap { a =>
      Seq((Bytes.unhex(a), rnd.nextInt(world.latestBlock.toInt).toLong),
        (Bytes.unhex(a), world.latestBlock))
    }.toDF("address", "block")
    val got = FullHistory.asOfJoinAccounts(history, lookups).collect()
      .map(r => (Bytes.hex(r.getAs[Array[Byte]]("address")),
        r.getAs[Long]("block")) ->
        (Option(r.getAs[Any]("nonce")).map(_.asInstanceOf[Long]),
          Option(r.getAs[Array[Byte]]("balance")).map(Bytes.get64be(_, 24))))
      .toMap
    assert(got.size == lookups.count())
    got.foreach { case ((addrHex, b), (nonce, balance)) =>
      val expected = byAddr(addrHex.toLowerCase)
        .filter(_.block <= b).sortBy(_.block).lastOption
      expected match {
        case Some(e) =>
          assert(nonce.contains(e.nonce), s"$addrHex @ $b nonce")
          assert(balance.contains(e.balance), s"$addrHex @ $b balance")
        case None =>
          // pre-first-change: zero row or null
          assert(nonce.forall(_ == 0L) && balance.forall(_ == 0L))
      }
    }
  }

  test("batch storage as-of join matches the chain-simulation oracle") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val byKey = world.storageOracle.groupBy(s => (s.addressHex, s.slotHex))
    val lookups = rnd.shuffle(byKey.keys.toList).take(12).flatMap {
      case (a, sl) =>
        Seq((Bytes.unhex(a), Bytes.unhex(sl),
          rnd.nextInt(world.latestBlock.toInt).toLong),
          (Bytes.unhex(a), Bytes.unhex(sl), world.latestBlock))
    }.toDF("address", "slot", "block")
    val got = FullHistory.asOfJoinStorage(history, lookups).collect()
      .map(r => (Bytes.hex(r.getAs[Array[Byte]]("address")),
        Bytes.hex(r.getAs[Array[Byte]]("slot")), r.getAs[Long]("block")) ->
        Option(r.getAs[Array[Byte]]("value")).map(Bytes.get64be(_, 24)))
      .toMap
    assert(got.size == lookups.count())
    got.foreach { case ((addrHex, slotHex, b), value) =>
      val expected = byKey((addrHex.toLowerCase, slotHex.toLowerCase))
        .filter(_.block <= b).sortBy(_.block).lastOption
      expected match {
        case Some(e) => assert(value.contains(e.value),
          s"$addrHex/$slotHex @ $b")
        case None => assert(value.forall(_ == 0L))
      }
    }
  }

  test("skew-tolerant W1 equals the clustered-window build (fixture world)") {
    val skew = FullHistory.buildSkewTolerant(spark,
      world.accountChangeset, world.storageChangeset, world.plainCodeHash,
      world.plainStateAccounts, world.plainStateStorage, world.latestBlock)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(hex(col("address")), col("isStorage"), col("incarnation"),
        hex(col("slot")), col("valid_from_block"), col("nonce"),
        hex(col("balance")), hex(col("codeHash")), hex(col("value")))
      .collect().map(_.toString).sorted.toSeq
    assert(canon(skew) == canon(history))
  }

  test("skew-tolerant W1: a planted hot key spanning many partitions " +
      "gets correct chunk-boundary LAG") {
    import spark.implicits._
    // ONE address dominates: 3000 consecutive touches, forcing the range
    // partitioner (on key+block, 8 partitions) to split the group — every
    // partition boundary inside it exercises the seed patch
    val hot = Array.fill(20)(7.toByte)
    val cold = Array.fill(20)(9.toByte)
    def blob(nonce: Long) = graft.codec.AccountBlob.encode(
      nonce, StateItem.zeros(32), 0L, StateItem.zeros(32))
    val accCs = ((1L to 3000L).map(b => (b, hot, blob(b))) ++
        Seq((5L, cold, blob(1L))))
      .toDF("block", "address", "account_blob")
    val stoCs = Seq.empty[(Long, Array[Byte], Long, Array[Byte],
      Array[Byte])].toDF("block", "address", "incarnation", "slot", "value")
    val pch = Seq.empty[(Array[Byte], Long, Array[Byte])]
      .toDF("address", "incarnation", "code_hash")
    val psAcc = Seq((hot, blob(3001L)), (cold, blob(2L)))
      .toDF("address", "account_blob")
    val psSto = Seq.empty[(Array[Byte], Long, Array[Byte], Array[Byte])]
      .toDF("address", "incarnation", "slot", "value")
    val std = FullHistory.build(spark, accCs, stoCs, pch, psAcc, psSto,
      latestBlock = 3000L, shufflePartitions = 8)
    val skew = FullHistory.buildSkewTolerant(spark, accCs, stoCs, pch,
      psAcc, psSto, latestBlock = 3000L, shufflePartitions = 8)
    val stdRows = std.select(hex(col("address")), col("valid_from_block"),
        col("nonce")).collect().map(_.toString).sorted.toSeq
    val skewRows = skew.select(hex(col("address")), col("valid_from_block"),
        col("nonce")).collect().map(_.toString).sorted.toSeq
    assert(skewRows == stdRows)
    // the hot group really has a contiguous LAG chain: 3001 rows
    // (vf 0,1..3000), one per touch plus the plainstate closure
    assert(skew.filter(hex(col("address")) === Bytes.hex(hot).toUpperCase)
      .count() == 3001L)
  }

  test("-P prune: blockStart keeps only the tail history") {
    val pruneFrom = world.latestBlock - 50 + 1
    val pruned = FullHistory.build(spark,
      world.accountChangeset, world.storageChangeset, world.plainCodeHash,
      world.plainStateAccounts, world.plainStateStorage,
      world.latestBlock, blockStart = pruneFrom)
    // every surviving changeset-derived row re-timestamps within the kept
    // range (first-in-group rows get valid_from 0, the "since before the
    // window" marker)
    val vf = pruned.select("valid_from_block").collect().map(_.getLong(0))
    assert(vf.forall(v => v == 0L || v >= pruneFrom))
    assert(pruned.count() < history.count())
    // as-of at the head still resolves (PlainState snapshot is included)
    val someAddr = graft.functions.Bytes.unhex(
      world.accountOracle.last.addressHex)
    assert(FullHistory.accountAsOf(pruned, someAddr, world.latestBlock)
      .count() == 1)
  }

  test("history is globally sorted in O1 order") {
    val rows = history
      .select("address", "isStorage", "incarnation", "slot",
        "valid_from_block").collect()
    val keys = rows.map { r =>
      val inc = if (r.getBoolean(1)) r.getLong(2) else 0L
      val slot = if (r.getBoolean(1)) Bytes.hex(r.getAs[Array[Byte]](3))
                 else "00" * 32
      (Bytes.hex(r.getAs[Array[Byte]](0)), r.getBoolean(1), inc, slot,
        r.getLong(4))
    }
    // collect() preserves partition order; range partitioning makes that
    // the global order
    assert(keys.zip(keys.tail).forall { case (a, b) =>
      implicitly[Ordering[(String, Boolean, Long, String, Long)]].lteq(a, b)
    })
  }

  test("Spark-side encode/decode round trip (copy_file equivalence)") {
    import spark.implicits._
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    val chunks = StateFormat.encode(items, strategy = 1, pageShift = 12)
      .cache()
    val decoded = StateFormat.decode(chunks, strategy = 1)

    val orig = items.collect().map(i =>
      (Bytes.hex(i.address), i.block, i.isStorage, i.nonce, i.incarnation,
        Bytes.hex(i.balance), Bytes.hex(i.codeHash), Bytes.hex(i.slot),
        Bytes.hex(i.value))).sortBy(t => (t._1, t._3, t._5, t._8, t._2))
    val back = decoded.collect().map(i =>
      (Bytes.hex(i.address), i.block, i.isStorage, i.nonce, i.incarnation,
        Bytes.hex(i.balance), Bytes.hex(i.codeHash), Bytes.hex(i.slot),
        Bytes.hex(i.value))).sortBy(t => (t._1, t._3, t._5, t._8, t._2))
    assert(orig.length == back.length && orig.length > 1000)
    orig.zip(back).foreach { case (a, b) => assert(a == b) }

    // compression sanity: the strategy-1 stream should be much smaller than
    // the raw fixed-width row size (~133 B/row)
    val bytes = chunks.collect().map(_.bytes.length.toLong).sum
    assert(bytes < orig.length * 133L / 2)
  }

  test("delta strategy 1 beats absolute strategy 0 on sorted history " +
      "(the reference's measured delta savings)") {
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    def encodedBytes(strategy: Int): Long =
      StateFormat.encode(items, strategy, pageShift = 12)
        .collect().map(_.bytes.length.toLong).sum
    val b0 = encodedBytes(0)
    val b1 = encodedBytes(1)
    assert(b1 < b0,
      s"delta coding must shrink sorted input: s1=$b1 vs s0=$b0")
    info(f"strategy-1 saves ${(b0 - b1) * 100.0 / b0}%.1f%% vs absolute " +
      s"($b0 -> $b1 bytes)")
  }

  test("S7/S8 .dat file sink + page-parallel source round trip") {
    import spark.implicits._
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    val dir = Files.createTempDirectory("graft-dat").toString
    graft.spark.StateFiles.write(items, dir, strategy = 0,
      blockStart = 0L, blockEnd = world.latestBlock)
    val files = new java.io.File(dir).listFiles().filter(
      _.getName.endsWith(".dat"))
    assert(files.nonEmpty)
    // header sanity
    val h = java.nio.ByteBuffer.wrap(
      java.nio.file.Files.readAllBytes(files.head.toPath).take(256))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(h.getLong(0) == graft.codec.Header.Magic)
    assert(h.getLong(24) == 12L) // page_shift
    // page-parallel read returns exactly the written rows
    val back = graft.spark.StateFiles.read(spark, dir, strategy = 0)
    def key(i: graft.model.StateItem) =
      (Bytes.hex(i.address), i.isStorage, i.incarnation, Bytes.hex(i.slot),
        i.block, i.nonce, Bytes.hex(i.balance), Bytes.hex(i.codeHash),
        Bytes.hex(i.value))
    val a = items.collect().map(key).sorted
    val b = back.collect().map(key).sorted
    assert(b.length == a.length && b.sameElements(a))
    // and the read is genuinely page-split: more input tasks than files
    val nPages = files.map(f => (f.length - 256 + 4095) / 4096).sum
    assert(nPages > files.length)
    // dataset manifest totals agree with the data
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest.json")))
    assert(mf.contains("\"format\":\"graft-dat\""))
    val nAccounts = items.filter(!col("isStorage")).count()
    val nSlots = items.filter(col("isStorage")).count()
    assert(mf.contains(s"\"accounts\":$nAccounts"), mf)
    assert(mf.contains(s"\"storage_slots\":$nSlots"), mf)
  }

  test("incremental append: two increments read back as the union, pruned reads stay complete") {
    import spark.implicits._
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    val mid = world.latestBlock / 2
    val first = items.filter(col("block") <= mid).as[graft.model.StateItem]
    val second = items.filter(col("block") > mid).as[graft.model.StateItem]
    val dir = Files.createTempDirectory("graft-append").toString
    graft.spark.StateFiles.write(first, dir, strategy = 0,
      blockStart = 0L, blockEnd = mid)
    graft.spark.StateFiles.append(second, dir, strategy = 0,
      blockStart = mid + 1, blockEnd = world.latestBlock)
    val back = graft.spark.StateFiles.read(spark, dir, strategy = 0)
    assert(back.count() == items.count())
    // address-filtered read over the merged dataset loses nothing
    val addr = items.head().address
    val want = items.filter(_.address.sameElements(addr)).count()
    val got = back.toDF().filter(col("address") === lit(addr)).count()
    assert(got == want && got > 0)
    // manifest merged: widened block range, summed files
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest.json")))
    assert(mf.contains("\"block_start\":0"), mf)
    assert(mf.contains(s"\"block_end\":${world.latestBlock}"), mf)
    // appending with a mismatched strategy is refused
    assertThrows[IllegalArgumentException](
      graft.spark.StateFiles.append(second, dir, strategy = 1))

    // ORPHAN from a failed append (a part file never committed to the
    // manifest's file_list) is invisible to reads — the previous
    // snapshot stays consistent, no duplicated rows
    val aPart = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".dat")).head.toPath
    java.nio.file.Files.copy(aPart,
      java.nio.file.Paths.get(dir, "part-99999.dat"))
    assert(graft.spark.StateFiles.read(spark, dir, strategy = 0).count()
      == items.count(), "orphan part file leaked into the read")

    // a TORN dataset (part files, no manifest) refuses appends
    val torn = Files.createTempDirectory("graft-torn").toString
    java.nio.file.Files.copy(aPart,
      java.nio.file.Paths.get(torn, "part-00000.dat"))
    assertThrows[IllegalArgumentException](
      graft.spark.StateFiles.append(second, torn, strategy = 0))
  }

  test("page-level point lookup: pages decoded stays O(matching pages) " +
      "while the dataset scales 10x (the reference's O(log N) page seek, " +
      "README.md:36-41, at PAGE granularity)") {
    import spark.implicits._
    val fmt = "graft.spark.datasource.DatDataSource"
    def addrOf(i: Int): Array[Byte] = {
      val a = new Array[Byte](20); Bytes.put64be(a, 0, i.toLong); a
    }
    def mkDataset(nAddresses: Int): String = {
      val items = (0 until nAddresses).flatMap { i =>
        (1 to 4).map { v =>
          val bal = new Array[Byte](32); bal(31) = v.toByte
          StateItem.account(addrOf(i), v * 10L, v.toLong, 1L, bal,
            StateItem.zeros(32))
        }
      }
      val dir = Files.createTempDirectory(s"graft-pagelookup-$nAddresses")
        .toString
      // address-major global order (the O1/O2 layout every converted
      // dataset has); one part file keeps the page count deterministic
      graft.spark.StateFiles.write(
        spark.createDataset(items).coalesce(1), dir, strategy = 1)
      dir
    }
    val dir1 = mkDataset(5000)   // ~20k items
    val dir10 = mkDataset(50000) // ~200k items, ~10x the pages
    val probe = addrOf(1234)
    def lookup(dir: String): (Long, Seq[(Long, Long)]) = {
      graft.spark.datasource.DatPageMetrics.reset()
      val rows = spark.read.format(fmt).option("strategy", "1").load(dir)
        .filter(col("address") === lit(probe) && !col("isStorage") &&
          col("block") <= 25L)
        .collect().map(r => (r.getAs[Long]("block"), r.getAs[Long]("nonce")))
        .toSeq.sorted
      (graft.spark.datasource.DatPageMetrics.pagesDecoded.sum(), rows)
    }
    val (pages1, rows1) = lookup(dir1)
    val (pages10, rows10) = lookup(dir10)
    // correctness first: both scales return exactly versions 1 and 2
    assert(rows1 == Seq((10L, 1L), (20L, 2L)), s"1x rows: $rows1")
    assert(rows10 == rows1, s"10x rows: $rows10")
    // the file really is ~10x the pages
    def datBytes(dir: String): Long = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".dat")).map(_.length()).sum
    assert(datBytes(dir10) > 5L * datBytes(dir1),
      s"10x fixture not actually bigger: ${datBytes(dir1)} -> ${datBytes(dir10)}")
    // the point of the test: decoded pages are O(matching pages) — a
    // handful, FLAT across the 10x scale-up (split pruning handles the
    // coarse cut; page pruning finishes the job inside the split)
    assert(pages1 >= 1L && pages1 <= 4L, s"1x decoded $pages1 pages")
    assert(pages10 <= pages1 + 2L,
      s"page pruning not flat: $pages1 -> $pages10 pages decoded")
    // fallback safety: with the sidecar gone the reader decodes the
    // whole split (no pruning, no metric) and still answers correctly
    new java.io.File(dir1).listFiles()
      .filter(_.getName.endsWith(".idx")).foreach(_.delete())
    graft.spark.datasource.DatSidecarCache.clear()
    val (pagesNoIdx, rowsNoIdx) = lookup(dir1)
    assert(rowsNoIdx == rows1, s"no-idx rows: $rowsNoIdx")
    assert(pagesNoIdx == 0L, "metric counted without a validated sidecar")
  }

  test("DSv2 write path: df.write append/overwrite with manifest commit") {
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    val df = items.toDF()
    val dir = Files.createTempDirectory("graft-dsv2-write").toString
    val fmt = "graft.spark.datasource.DatDataSource"
    val total = df.count()
    val mid = world.latestBlock / 2
    // the block range the rows of `d` hold: the write derives its range
    // from its rows, no option states it
    def range(d: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = d.agg(min("block"), max("block")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (lowHalf, highHalf) =
      (df.filter(col("block") <= mid), df.filter(col("block") > mid))

    // increment 1 + increment 2 via mode("append") — the daily-increment
    // flow through the standard writer API
    lowHalf.write.format(fmt).option("strategy", "1").mode("append").save(dir)
    SinkCommit.assertBlockRange(dir, range(lowHalf))
    highHalf.write.format(fmt).option("strategy", "1").mode("append").save(dir)
    // the append widens the manifest's range over both increments
    SinkCommit.assertBlockRange(dir, range(df))
    assert(range(highHalf)._1 > 0L)
    val back = spark.read.format(fmt).option("strategy", "1").load(dir)
    assert(back.count() == total, "append increments must union")
    val mf = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest.json")))
    assert(mf.contains("\"file_list\"") && mf.contains("\"strategy\":1"), mf)

    // an orphan temp from a simulated failed attempt stays invisible
    Files.write(java.nio.file.Paths.get(dir, "part-99998.dat"),
      Array[Byte](1, 2, 3))
    assert(spark.read.format(fmt).option("strategy", "1").load(dir)
      .count() == total, "orphan part leaked into the committed snapshot")

    // overwrite publishes a fresh snapshot and GCs the old increment's
    // files after the new manifest lands; its range is the new rows' alone
    highHalf.write.format(fmt).option("strategy", "1").mode("overwrite")
      .save(dir)
    SinkCommit.assertBlockRange(dir, range(highHalf))
    val after = spark.read.format(fmt).option("strategy", "1").load(dir)
    assert(after.count() == highHalf.count())
    val mf2 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest.json")))
    assert(!mf2.contains("\"files\":0"), mf2)
    // a write with no rows saw no block: it records 0/0
    df.limit(0).write.format(fmt).option("strategy", "1").mode("overwrite")
      .save(dir)
    assert(Seq("block_start", "block_end")
      .map(graft.spark.StateFiles.manifestField(dir, _)) ==
      Seq(Some(0L), Some(0L)))
  }

  test("DSv2 write: empty input partitions commit cleanly") {
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    val fmt = "graft.spark.datasource.DatDataSource"
    // 10 rows over 64 range partitions: most partitions are EMPTY — the
    // empty DataWriters commit pid=-1 sentinels that the driver commit
    // must drop (unfiltered, Files.move(Paths.get(""), …) throws and the
    // manifest records a bogus part--0001.dat)
    val tiny = items.toDF().limit(10)
      .repartitionByRange(64, col("address"), col("block"))
    val dir = Files.createTempDirectory("graft-dsv2-empty").toString
    tiny.write.format(fmt).option("strategy", "0")
      .mode("append").save(dir)
    val back = spark.read.format(fmt).option("strategy", "0").load(dir)
    assert(back.count() == 10, "rows lost through empty-partition write")
    val mf = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest.json")))
    assert(!mf.contains("part--"), s"sentinel leaked into manifest: $mf")
    // only non-empty partitions produced files
    val nFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".dat"))
    assert(nFiles > 0 && nFiles <= 10, s"expected <=10 part files, $nFiles")
  }

  // every `.dat` front-end's overwrite, as (name, rewrite of the dir's
  // snapshot returning the row count it leaves); each starts from the same
  // two-increment snapshot
  private def datOverwrites: Seq[(String, String => Long)] = {
    def items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    def half = items.filter(col("block") <= world.latestBlock / 2)
    Seq(
      "DSv2" -> { dir =>
        half.toDF().write.format("graft.spark.datasource.DatDataSource")
          .option("strategy", "0").mode("overwrite").save(dir)
        half.count()
      },
      "StateFiles.write" -> { dir =>
        graft.spark.StateFiles.write(half, dir, strategy = 0)
        half.count()
      },
      "StateFiles.compact" -> { dir =>
        val rows = graft.spark.StateFiles.read(spark, dir, 0).count()
        graft.spark.StateFiles.compact(spark, dir, strategy = 0,
          targetParts = 2)
        rows
      })
  }

  // the min and max block of the rows `dir` holds
  private def blockRange(dir: String): (Long, Long) = {
    val r = graft.spark.StateFiles.read(spark, dir, 0)
      .agg(min("block"), max("block")).head()
    (r.getLong(0), r.getLong(1))
  }

  for ((writer, overwrite) <- datOverwrites)
    test(s"$writer overwrite: fresh part names, old snapshot never " +
        "rewritten") {
      val items = StateFormat.asItems(
        history.withColumnRenamed("valid_from_block", "block"))
      val dir = Files.createTempDirectory("graft-overwrite-iso").toString
      // a write and an append that declare no range record their rows'
      graft.spark.StateFiles.write(items, dir, strategy = 0)
      graft.spark.StateFiles.append(items, dir, strategy = 0)
      SinkCommit.assertBlockRange(dir, blockRange(dir))
      assert(blockRange(dir)._2 > 0L)
      var expected = 0L
      SinkCommit.assertOverwriteIsolated(dir) { expected = overwrite(dir) }
      assert(graft.spark.StateFiles.read(spark, dir, 0).count() == expected)
      SinkCommit.assertBlockRange(dir, blockRange(dir))
    }

  // a rewrite whose last task throws after partition 0's task finished
  for ((writer, rewrite) <- Seq[(String, (Dataset[StateItem], String) => Unit)](
      "StateFiles.write" -> ((ds, dir) =>
        graft.spark.StateFiles.write(ds, dir, strategy = 0)),
      "StateFiles.append" -> ((ds, dir) =>
        graft.spark.StateFiles.append(ds, dir, strategy = 0)),
      "DSv2" -> ((ds, dir) =>
        ds.toDF().write.format("graft.spark.datasource.DatDataSource")
          .option("strategy", "0").mode("overwrite").save(dir))))
    test(s"$writer: a failed rewrite leaves the committed snapshot intact") {
      import spark.implicits._
      val items = StateFormat.asItems(
        history.withColumnRenamed("valid_from_block", "block"))
      val dir = Files.createTempDirectory("graft-failed-write").toString
      graft.spark.StateFiles.write(items, dir, strategy = 0)
      def rows = graft.spark.StateFiles.read(spark, dir, 0).toDF().collect()
        .map(_.toSeq.map {
          case b: Array[Byte] => Bytes.hex(b)
          case v => String.valueOf(v)
        }.mkString(",")).sorted
      val before = rows
      SinkCommit.assertFailedWriteLeavesSnapshot(dir) {
        rewrite(SinkCommit.failingLastTask(items, 2), dir)
      }
      assert(rows.sameElements(before), "the old snapshot reads back changed")
    }

  test("DSv2 append guards: strategy mismatch and torn dir refused") {
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    val fmt = "graft.spark.datasource.DatDataSource"
    val dir = Files.createTempDirectory("graft-dsv2-guards").toString
    items.toDF().write.format(fmt).option("strategy", "1")
      .mode("append").save(dir)
    // appending with a different strategy would rewrite the manifest's
    // strategy field and make the existing parts decode as garbage
    val e1 = intercept[Exception] {
      items.toDF().write.format(fmt).option("strategy", "0")
        .mode("append").save(dir)
    }
    assert(exceptionChain(e1).exists(_.getMessage != null) &&
      exceptionChain(e1).exists(m => Option(m.getMessage)
        .exists(_.contains("strategy"))), e1.toString)
    // a torn dir (part files, no manifest) has unknowable contents
    val torn = Files.createTempDirectory("graft-dsv2-torn").toString
    val aPart = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".dat")).head.toPath
    java.nio.file.Files.copy(aPart,
      java.nio.file.Paths.get(torn, "part-00000.dat"))
    val e2 = intercept[Exception] {
      items.toDF().write.format(fmt).option("strategy", "1")
        .mode("append").save(torn)
    }
    assert(exceptionChain(e2).exists(m => Option(m.getMessage)
      .exists(_.contains("torn"))), e2.toString)
    // overwrite of the torn dir is fine (fresh snapshot semantics)
    items.toDF().write.format(fmt).option("strategy", "0")
      .mode("overwrite").save(torn)
    assert(spark.read.format(fmt).option("strategy", "0").load(torn)
      .count() == items.count())
    // a frame that is not the item shape (plus the optional W1 flag) is
    // refused while the write is planned: any task of `noTask` throws
    import spark.implicits._
    def taskRan(it: Iterator[StateItem]): Iterator[StateItem] =
      throw new IllegalStateException("a task ran")
    val noTask = items.mapPartitions(taskRan _).toDF()
    for ((shape, msg) <- Seq(
        noTask.withColumn("extra", lit(1)) -> "unexpected columns extra",
        noTask.withColumn("nonce", col("nonce").cast("int")) ->
          "nonce: bigint",
        noTask.withColumn("non_advancing", lit(1)) ->
          "non_advancing must be boolean")) {
      val e = intercept[Exception](shape.write.format(fmt)
        .option("strategy", "0").mode("overwrite").save(torn))
      assert(exceptionChain(e).exists(m => Option(m.getMessage)
        .exists(_.contains(msg))), e.toString)
    }
    assert(spark.read.format(fmt).option("strategy", "0").load(torn)
      .count() == items.count())
    // a null item column or flag is refused by the tasks, not read as 0,
    // false or a null array, and the committed snapshot stays as it was
    for ((name, typ) <- Seq("block" -> "bigint", "slot" -> "binary",
        "non_advancing" -> "boolean")) {
      var e: Throwable = null
      SinkCommit.assertFailedWriteLeavesSnapshot(torn) {
        try items.toDF().withColumn(name, lit(null).cast(typ))
          .write.format(fmt).option("strategy", "0").mode("append")
          .save(torn)
        catch { case t: Throwable => e = t; throw t }
      }
      assert(exceptionChain(e).exists(m => Option(m.getMessage)
        .exists(_.contains(s"null $name"))), e.toString)
    }
  }

  private def exceptionChain(e: Throwable): List[Throwable] =
    if (e == null) Nil else e :: exceptionChain(e.getCause)

  test("DSv2 sidecar cache invalidates on in-place rewrite") {
    import spark.implicits._
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    val dir = Files.createTempDirectory("graft-dsv2-cache").toString
    val mid = world.latestBlock / 2
    val half = items.filter(col("block") <= mid).as[graft.model.StateItem]
    graft.spark.StateFiles.write(half.coalesce(1), dir, strategy = 0)
    val c1 = graft.spark.StateFiles.read(spark, dir, 0).count()
    assert(c1 == half.count())
    // rewrite a live part IN PLACE (same name, new bytes/size/mtime — a
    // tool outside the commit protocol, which never reuses names): copy
    // a different dataset's same-named part over it. The plan-time
    // validation cache must re-validate, not serve the old page
    // count/bounds.
    val other = Files.createTempDirectory("graft-dsv2-cache-other").toString
    graft.spark.StateFiles.write(items.coalesce(1), other, strategy = 0)
    for (ext <- Seq("dat", "idx"))
      Files.copy(java.nio.file.Paths.get(other, s"part-00000.$ext"),
        java.nio.file.Paths.get(dir, s"part-00000.$ext"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val c2 = graft.spark.StateFiles.read(spark, dir, 0).count()
    assert(c2 == items.count(),
      s"stale sidecar cache: read $c2 of ${items.count()} after rewrite")
  }

  test("DSv2 sidecar cache retains per-SPLIT bounds and re-keys on the " +
      "idx trailer (same-size same-mtime rewrite)") {
    import graft.spark.datasource.DatSidecarCache
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    val dir = Files.createTempDirectory("graft-cache-model").toString
    // one partition → one many-page part file (the aggregation target)
    graft.spark.StateFiles.write(items.coalesce(1), dir, strategy = 0)
    val dat = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".dat")).head.toPath
    val size = Files.size(dat)
    val pps = 4
    DatSidecarCache.clear()
    val ent = DatSidecarCache.validated(dat, size, pps)
    assert(ent.splits != null && ent.idxSig.isDefined)
    // retention is one bounds record per SPLIT, never per page
    val expSplits = (ent.nPages + pps - 1) / pps
    assert(ent.nPages > pps, "fixture too small to exercise aggregation")
    assert(ent.splits.length == expSplits)
    assert(ent.estBytes == 96L + expSplits * 160L)
    assert(DatSidecarCache.stats == ((1, ent.estBytes)))
    // cached split bounds equal an independent per-page aggregation of
    // the raw sidecar
    val idxP = java.nio.file.Paths.get(
      dat.toString.stripSuffix(".dat") + ".idx")
    val raw = Files.readAllBytes(idxP)
    for (s <- 0 until expSplits) {
      val ps = (s * pps) until math.min((s + 1) * pps, ent.nPages)
      val minA = ps.map(p => java.util.Arrays.copyOfRange(
        raw, p * 56, p * 56 + 20)).minBy(Bytes.hex)
      val maxA = ps.map(p => java.util.Arrays.copyOfRange(
        raw, p * 56 + 20, p * 56 + 40)).maxBy(Bytes.hex)
      assert(ent.splits(s).minAddr.sameElements(minA), s"split $s minAddr")
      assert(ent.splits(s).maxAddr.sameElements(maxA), s"split $s maxAddr")
      assert(ent.splits(s).minBlock ==
        ps.map(p => Bytes.get64be(raw, p * 56 + 40)).min)
      assert(ent.splits(s).maxBlock ==
        ps.map(p => Bytes.get64be(raw, p * 56 + 48)).max)
    }
    // unchanged file: the hit serves the SAME entry (no re-parse)
    assert(DatSidecarCache.validated(dat, size, pps) eq ent)
    // a rewrite the (size, mtime) key cannot see — e.g. the function
    // sink rewriting the same part names within the filesystem's mtime
    // granularity — still changes the sidecar's pairing-checksum
    // trailer; simulate by flipping one trailer bit with both mtimes
    // pinned. The hit must NOT be served: re-validation finds the pair
    // broken and degrades to null bounds (unpruned, never wrong).
    val datMt = Files.getLastModifiedTime(dat)
    val idxMt = Files.getLastModifiedTime(idxP)
    raw(raw.length - 1) = (raw(raw.length - 1) ^ 0x01).toByte
    Files.write(idxP, raw)
    Files.setLastModifiedTime(dat, datMt)
    Files.setLastModifiedTime(idxP, idxMt)
    val ent2 = DatSidecarCache.validated(dat, size, pps)
    assert(!(ent2 eq ent) && ent2.splits == null)
  }

  test("streaming append replay guard: a re-delivered batch id cannot " +
      "duplicate rows") {
    // the st07 crash window: manifest commit succeeded, streaming
    // checkpoint commit did not — on restart the SAME batch id is
    // re-delivered. The id travels in the manifest atomically with the
    // append, so the foreachBatch guard (lastStreamBatch >= batchId)
    // skips the replay instead of double-appending.
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    val dir = Files.createTempDirectory("graft-replay").toString
    val ckpt = Files.createTempDirectory("graft-replay-ckpt").toString
    val sid = graft.spark.StateFiles.streamIdentity(ckpt)
    // identity is persisted: a restart from the same checkpoint reads
    // the same id
    assert(graft.spark.StateFiles.streamIdentity(ckpt) == sid)
    graft.spark.StateFiles.append(items, dir, 0, streamBatchId = 0L,
      streamId = sid)
    val c1 = graft.spark.StateFiles.read(spark, dir, 0).count()
    assert(graft.spark.StateFiles.lastStreamBatch(dir, sid).contains(0L))
    // replayed batch 0 — the entry's guard condition must skip it
    if (!graft.spark.StateFiles.lastStreamBatch(dir, sid).exists(_ >= 0L))
      graft.spark.StateFiles.append(items, dir, 0, streamBatchId = 0L,
        streamId = sid)
    assert(graft.spark.StateFiles.read(spark, dir, 0).count() == c1)
    // the NEXT batch appends and advances the recorded id
    graft.spark.StateFiles.append(items, dir, 0, streamBatchId = 1L,
      streamId = sid)
    assert(graft.spark.StateFiles.lastStreamBatch(dir, sid).contains(1L))
    assert(graft.spark.StateFiles.read(spark, dir, 0).count() == 2 * c1)
    // a DIFFERENT stream (second query, or a reset checkpoint restarting
    // at batch 0) must not silently compare batch ids against this
    // dataset: the ownership check fails loudly on both read and append
    val sid2 = graft.spark.StateFiles.streamIdentity(
      Files.createTempDirectory("graft-replay-ckpt2").toString)
    assert(sid2 != sid)
    intercept[IllegalArgumentException] {
      graft.spark.StateFiles.lastStreamBatch(dir, sid2)
    }
    intercept[IllegalArgumentException] {
      graft.spark.StateFiles.append(items, dir, 0, streamBatchId = 0L,
        streamId = sid2)
    }
    // a streaming append without an identity is rejected outright
    intercept[IllegalArgumentException] {
      graft.spark.StateFiles.append(items, dir, 0, streamBatchId = 2L)
    }
    // plain batch writes never record a batch id
    val dir2 = Files.createTempDirectory("graft-replay2").toString
    graft.spark.StateFiles.write(items, dir2, 0)
    assert(graft.spark.StateFiles.lastStreamBatch(dir2, sid).isEmpty)
  }

  test("sidecar metadata stays a bounded fraction of data at 10x scale") {
    // the S7 driver-retention claim, MEASURED on a 10x world (2,000
    // blocks vs the suite's 200): after a full DSv2 read, the sidecar
    // cache's live bytes must stay under the hard 64 MiB cap AND under
    // 0.1% of the data it describes (per-split bounds at the default 256
    // pages/split are ~0.015%; the max() term absorbs the 96-byte fixed
    // entry overhead on small files). A per-page (or per-row) retention
    // regression fails the fraction bound long before the cap.
    import graft.spark.datasource.DatSidecarCache
    val w10 = Fixtures.generate(spark, nAddresses = 500, nBlocks = 2000)
    val h10 = FullHistory.build(spark, w10.accountChangeset,
      w10.storageChangeset, w10.plainCodeHash, w10.plainStateAccounts,
      w10.plainStateStorage, w10.latestBlock)
    val items = StateFormat.asItems(
      h10.withColumnRenamed("valid_from_block", "block"))
    val dir = Files.createTempDirectory("graft-scale-dat").toString
    graft.spark.StateFiles.write(items, dir, strategy = 0)
    val fmt = "graft.spark.datasource.DatDataSource"
    DatSidecarCache.clear()
    val back = spark.read.format(fmt).option("strategy", "0").load(dir)
    assert(back.count() == items.count())
    val datBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".dat")).map(_.length).sum
    val (entries, metaBytes) = DatSidecarCache.stats
    assert(entries > 0, "read path did not populate the sidecar cache")
    assert(metaBytes <= 64L * 1024 * 1024, s"cap breached: $metaBytes")
    assert(metaBytes <= math.max(4096L, datBytes / 1000),
      s"metadata $metaBytes bytes for $datBytes data bytes " +
        f"(${metaBytes.toDouble / datBytes * 100}%.3f%%)")
  }

  test("copy_file strategy conversion: 0 -> 1 -> read-back equality") {
    import spark.implicits._
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    val in = Files.createTempDirectory("graft-copy-in").toString
    val out = Files.createTempDirectory("graft-copy-out").toString
    graft.spark.StateFiles.write(items, in, strategy = 0,
      blockStart = 0L, blockEnd = world.latestBlock)
    graft.spark.CopyFile.convert(spark, in, out,
      strategyIn = 0, strategyOut = 1)
    val back = graft.spark.StateFiles.read(spark, out, strategy = 1)
    def key(i: graft.model.StateItem) =
      (Bytes.hex(i.address), i.isStorage, i.incarnation, Bytes.hex(i.slot),
        i.block, i.nonce, Bytes.hex(i.balance), Bytes.hex(i.codeHash),
        Bytes.hex(i.value))
    val a = items.collect().map(key).sorted
    val b = back.collect().map(key).sorted
    assert(b.length == a.length && b.sameElements(a))
    // the converted manifest carries the input's block range
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_manifest.json")))
    assert(mf.contains("\"strategy\":1"), mf)
    assert(mf.contains(s"\"block_end\":${world.latestBlock}"), mf)
    // an input without a manifest declares no range: the output records
    // its rows'
    Files.delete(java.nio.file.Paths.get(in, "_manifest.json"))
    val bare = Files.createTempDirectory("graft-copy-bare").toString
    graft.spark.CopyFile.convert(spark, in, bare,
      strategyIn = 0, strategyOut = 0)
    SinkCommit.assertBlockRange(bare, blockRange(bare))
    assert(blockRange(bare)._2 > 0L)
  }

  test("compact: three increments collapse to one sorted generation, " +
      "content-identical, old files GC'd, dataset_id reminted") {
    import spark.implicits._
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    val dir = Files.createTempDirectory("graft-compact").toString
    val third = math.max(world.latestBlock / 3, 1L)
    graft.spark.StateFiles.write(
      items.filter(col("block") <= third).as[graft.model.StateItem],
      dir, strategy = 0, blockStart = 0L, blockEnd = third)
    graft.spark.StateFiles.append(
      items.filter(col("block") > third && col("block") <= 2 * third)
        .as[graft.model.StateItem],
      dir, strategy = 0, blockStart = third + 1, blockEnd = 2 * third)
    graft.spark.StateFiles.append(
      items.filter(col("block") > 2 * third).as[graft.model.StateItem],
      dir, strategy = 0, blockStart = 2 * third + 1,
      blockEnd = world.latestBlock)
    val genBefore = graft.spark.StateFiles
      .manifestStringField(dir, "dataset_id")
    val filesBefore = graft.spark.StateFiles
      .manifestFileList(dir).get
    assert(filesBefore.size >= 3, s"want >=3 increments: $filesBefore")

    graft.spark.StateFiles.compact(spark, dir, strategy = 0,
      targetParts = 2)

    def key(i: graft.model.StateItem) =
      (Bytes.hex(i.address), i.isStorage, i.incarnation, Bytes.hex(i.slot),
        i.block, i.nonce, Bytes.hex(i.balance), Bytes.hex(i.codeHash),
        Bytes.hex(i.value))
    val back = graft.spark.StateFiles.read(spark, dir, strategy = 0)
    val a = items.collect().map(key).sorted
    val b = back.collect().map(key).sorted
    assert(b.length == a.length && b.sameElements(a),
      s"content changed across compaction: ${a.length} vs ${b.length}")
    val filesAfter = graft.spark.StateFiles.manifestFileList(dir).get
    assert(filesAfter.size == 2, s"files after: $filesAfter")
    // block range survives the rewrite; generation id does not
    assert(graft.spark.StateFiles.manifestField(dir, "block_end")
      .contains(world.latestBlock))
    assert(graft.spark.StateFiles.manifestStringField(dir, "dataset_id")
      != genBefore, "dataset_id must be reminted by compaction")
    // the old generation is gone from disk (dat AND idx)
    filesBefore.foreach { f =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, f)),
        s"old part $f survived GC")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir,
        f.stripSuffix(".dat") + ".idx")), s"old idx for $f survived GC")
    }
  }

  test("compact preserves a stream owner's identity and replay watermark") {
    import spark.implicits._
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    val dir = Files.createTempDirectory("graft-compact-stream").toString
    graft.spark.StateFiles.write(items, dir, strategy = 0,
      blockStart = 0L, blockEnd = world.latestBlock)
    // a streaming appender commits an epoch with its identity
    graft.spark.StateFiles.append(
      items.limit(5).as[graft.model.StateItem], dir, strategy = 0,
      blockStart = 0L, blockEnd = world.latestBlock,
      streamBatchId = 7L, streamId = "stream-A")
    graft.spark.StateFiles.compact(spark, dir, strategy = 0)
    // the rewrite must not reset the exactly-once guard: the same
    // stream's replayed epoch 7 is still skippable, a second stream is
    // still rejected
    assert(graft.spark.StateFiles.lastStreamBatch(dir, "stream-A")
      .contains(7L), "replay watermark lost across compaction")
    val e = intercept[Exception](
      graft.spark.StateFiles.append(
        items.limit(1).as[graft.model.StateItem], dir, strategy = 0,
        blockStart = 0L, blockEnd = 1L,
        streamBatchId = 0L, streamId = "stream-B"))
    assert(e.getMessage.contains("stream-owned"), e.getMessage)
  }

  test("auto-compaction policy: an append loop trips the threshold, a " +
      "stale tail fails loudly, a fresh checkpoint re-tails cleanly") {
    import spark.implicits._
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
      .as[graft.model.StateItem].coalesce(1).cache()
    val n = items.count()
    val dir = Files.createTempDirectory("graft-autocompact").toString
    val ckptA = dir + "-ckptA"
    val ckptB = dir + "-ckptB"
    val sf = graft.spark.StateFiles

    def drain(ckpt: String): Long = {
      val got = new java.util.concurrent.atomic.AtomicLong
      val q = spark.readStream
        .format("graft.spark.datasource.DatDataSource")
        .option("strategy", "0").load(dir)
        .writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) => got.addAndGet(b.count()); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      got.get()
    }

    // the append loop: one single-part increment at a time, consulting
    // the policy after each — exactly the compactIfNeeded scaladoc shape
    val third = math.max(world.latestBlock / 3, 1L)
    val slices = Seq(
      items.filter(col("block") <= third),
      items.filter(col("block") > third && col("block") <= 2 * third),
      items.filter(col("block") > 2 * third))
    sf.write(slices.head.as[graft.model.StateItem], dir, 0,
      blockStart = 0L, blockEnd = third)
    assert(drain(ckptA) == slices.head.count()) // tail of generation 1
    assert(!sf.needsCompaction(dir, maxParts = 2, smallFileBytes = 1L),
      "policy must not trip on a single committed file")
    var compactions = 0
    slices.tail.zipWithIndex.foreach { case (s, i) =>
      sf.append(s.as[graft.model.StateItem], dir, 0,
        blockStart = 0L, blockEnd = world.latestBlock)
      // smallFileBytes = 1 mutes the bytes-ratio arm (fixture parts are
      // all tiny) so this loop exercises the COUNT arm deterministically
      if (sf.compactIfNeeded(spark, dir, 0, targetParts = 1,
          maxParts = 2, smallFileBytes = 1L)) compactions += 1
    }
    // 2 files → no, 3 files (> maxParts=2) → compact once
    assert(compactions == 1, s"policy fired $compactions times")
    assert(sf.manifestFileList(dir).get.count(_.endsWith(".dat")) == 1)
    assert(!sf.needsCompaction(dir, maxParts = 2, smallFileBytes = 1L),
      "policy must be quiet right after compaction")
    assert(sf.read(spark, dir, 0).count() == n,
      "content lost across auto-compaction")

    // the stale tail (checkpoint A, pinned to the pre-compaction
    // generation) fails loudly — the designed signal
    val ex = intercept[
      org.apache.spark.sql.streaming.StreamingQueryException](drain(ckptA))
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes(ex).exists(c => Option(c.getMessage)
        .exists(_.contains("overwritten under a live stream"))),
      s"unexpected stale-tail failure: $ex")
    // the documented recovery: a FRESH checkpoint re-tails the compacted
    // generation from offset zero and delivers the full dataset
    assert(drain(ckptB) == n, "fresh-checkpoint re-tail incomplete")

    // bytes-ratio arm: every committed file is tiny, so a small-file
    // threshold above their size trips the policy even under the count
    // cap; a threshold below it stays quiet
    assert(sf.needsCompaction(dir, maxParts = 64,
      smallFileBytes = Long.MaxValue, maxSmallFraction = 0.5) ||
      sf.manifestFileList(dir).get.count(_.endsWith(".dat")) <= 1)
    sf.append(items.limit(3).as[graft.model.StateItem], dir, 0,
      blockStart = 0L, blockEnd = world.latestBlock)
    assert(sf.needsCompaction(dir, maxParts = 64,
        smallFileBytes = Long.MaxValue, maxSmallFraction = 0.5),
      "bytes-ratio arm must trip on two tiny files")
    assert(!sf.needsCompaction(dir, maxParts = 64, smallFileBytes = 1L,
        maxSmallFraction = 0.5),
      "bytes-ratio arm tripped below the size threshold")
    items.unpersist()
  }

  test("DataSource V2: spark.read.format over .dat matches the items") {
    import spark.implicits._
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    val dir = Files.createTempDirectory("graft-dsv2").toString
    graft.spark.StateFiles.write(items, dir, strategy = 1)
    val df = spark.read
      .format("graft.spark.datasource.DatDataSource")
      .option("strategy", "1")
      .option("pagesPerSplit", "2") // force many splits
      .load(dir)
    assert(df.schema == graft.model.StateItem.schema)
    def key(r: org.apache.spark.sql.Row) =
      (Bytes.hex(r.getAs[Array[Byte]]("address")),
        r.getAs[Boolean]("isStorage"), r.getAs[Long]("incarnation"),
        Bytes.hex(r.getAs[Array[Byte]]("slot")), r.getAs[Long]("block"))
    val got = df.collect().map(key).sorted
    val want = items.toDF().collect().map(key).sorted
    assert(got.length == want.length && got.sameElements(want))
    // pushdown-free full count must also agree through SQL
    df.createOrReplaceTempView("dat_v")
    assert(spark.sql("SELECT COUNT(*) FROM dat_v").collect()(0).getLong(0)
      == want.length)
  }

  test("DSv2: address filter on a BLOCK-major file loses no rows") {
    // regression for the unsorted-idx pruning hazard: a file written in
    // block-major order has non-monotonic per-page first-addresses; the
    // source must detect that and disable address pruning (filters are
    // residual, so wrongly pruned splits would just silently drop rows)
    import spark.implicits._
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
      .orderBy(col("block"), col("address"))
    val dir = Files.createTempDirectory("graft-blockmajor").toString
    graft.spark.StateFiles.write(items, dir, strategy = 0)
    def rd = spark.read.format("graft.spark.datasource.DatDataSource")
      .option("strategy", "0").option("pagesPerSplit", "1").load(dir)
    val addr = items.head().address
    val want = rd.collect().count(r => java.util.Arrays.equals(
      r.getAs[Array[Byte]]("address"), addr))
    val got = rd.filter(col("address") === lit(addr)).count()
    assert(got == want && got > 0, s"block-major filtered read lost rows")
  }

  test("DSv2 address pushdown prunes splits via the .idx sidecar") {
    import spark.implicits._
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    val dir = Files.createTempDirectory("graft-push").toString
    graft.spark.StateFiles.write(items, dir, strategy = 0)
    // pick an address present in the data
    val addr = items.head().address

    // end-to-end: filtered read equals full-scan filter
    def rd = spark.read.format("graft.spark.datasource.DatDataSource")
      .option("strategy", "0").option("pagesPerSplit", "1").load(dir)
    val want = rd.collect()
      .filter(r => java.util.Arrays.equals(
        r.getAs[Array[Byte]]("address"), addr)).map(_.getLong(1)).sorted
    val got = rd.filter(col("address") === lit(addr)).collect()
      .map(_.getLong(1)).sorted
    assert(got.length == want.length && got.sameElements(want) &&
      got.nonEmpty)

    // split pruning: the builder plans strictly fewer partitions with the
    // address filter than without
    val sbAll = new graft.spark.datasource.DatScanBuilder(dir, 0, 1)
    val all = sbAll.planInputPartitions().length
    val sbEq = new graft.spark.datasource.DatScanBuilder(dir, 0, 1)
    sbEq.pushFilters(Array(
      org.apache.spark.sql.sources.EqualTo("address", addr)))
    val pruned = sbEq.planInputPartitions().length
    info(s"splits: $all -> $pruned")
    assert(pruned < all && pruned >= 1)
  }

  test("DSv2 block-range pushdown prunes via per-page block stats") {
    import spark.implicits._
    // block-major layout (strategy-0 extract order): sort by block so
    // per-page block ranges are tight and pruning is effective
    val items = StateFormat.asItems(
        history.withColumnRenamed("valid_from_block", "block"))
      .orderBy(col("block"), col("address"), col("isStorage"), col("slot"))
      .as[graft.model.StateItem]
    val dir = Files.createTempDirectory("graft-blockidx").toString
    graft.spark.StateFiles.write(items, dir, strategy = 0)
    def rd = spark.read.format("graft.spark.datasource.DatDataSource")
      .option("strategy", "0").option("pagesPerSplit", "1").load(dir)
    val cutoff = world.latestBlock - 10
    val want = rd.collect().count(_.getLong(1) >= cutoff)
    val got = rd.filter(col("block") >= cutoff).count()
    assert(got == want && got > 0)
    val sbAll = new graft.spark.datasource.DatScanBuilder(dir, 0, 1)
    val all = sbAll.planInputPartitions().length
    val sbBlk = new graft.spark.datasource.DatScanBuilder(dir, 0, 1)
    sbBlk.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("block", cutoff)))
    val pruned = sbBlk.planInputPartitions().length
    info(s"block-prune splits: $all -> $pruned")
    assert(pruned < all && pruned >= 1)
  }

  test("DSv2 pruning is result-identical under random predicate bounds") {
    import spark.implicits._
    val items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    val dir = Files.createTempDirectory("graft-prune-prop").toString
    graft.spark.StateFiles.write(items, dir, strategy = 0)
    def rd = spark.read.format("graft.spark.datasource.DatDataSource")
      .option("strategy", "0").option("pagesPerSplit", "1").load(dir)
    val full = rd.collect()
    val addrs = full.map(_.getAs[Array[Byte]]("address"))
    val rnd = new scala.util.Random(41)
    for (_ <- 1 to 8) {
      val a = addrs(rnd.nextInt(addrs.length))
      val bLo = rnd.nextInt(world.latestBlock.toInt).toLong
      val wantA = full.count(r => java.util.Arrays.equals(
        r.getAs[Array[Byte]]("address"), a))
      val gotA = rd.filter(col("address") === lit(a)).count()
      assert(gotA == wantA, s"address prune mismatch ${Bytes.hex(a)}")
      val wantB = full.count(_.getAs[Long]("block") >= bLo)
      val gotB = rd.filter(col("block") >= bLo).count()
      assert(gotB == wantB, s"block prune mismatch >= $bLo")
      val wantBoth = full.count(r => r.getAs[Long]("block") >= bLo &&
        java.util.Arrays.equals(r.getAs[Array[Byte]]("address"), a))
      val gotBoth = rd.filter(col("address") === lit(a) &&
        col("block") >= bLo).count()
      assert(gotBoth == wantBoth, "combined prune mismatch")
    }
  }

  test("hand-computed golden: LAG re-timestamping + genesis drop") {
    import spark.implicits._
    val addr = Bytes.unhex("aa" * 20)
    // account changed at blocks 5 and 9; PlainState at latest=10
    val cs = Seq(
      Fixtures.AccountChangesetRow(5L, addr, Array.emptyByteArray),
      Fixtures.AccountChangesetRow(9L, addr,
        AccountBlob.encode(1L, StateItem.zeros(32), 0L, StateItem.zeros(32))))
      .toDF()
    val ps = Seq(Fixtures.PlainAccountRow(addr,
      AccountBlob.encode(2L, StateItem.zeros(32), 0L, StateItem.zeros(32))))
      .toDF()
    val empty = spark.emptyDataFrame
    val h = FullHistory.build(spark, cs,
      Seq.empty[Fixtures.StorageChangesetRow].toDF(),
      Seq.empty[Fixtures.CodeHashRow].toDF(), ps,
      Seq.empty[Fixtures.PlainStorageRow].toDF(), latestBlock = 10L)
    val rows = h.select("valid_from_block", "nonce").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // entry@5 (pre: zero state) -> valid_from 0, nonce 0
    // entry@9 (pre: nonce 1)    -> valid_from 5, nonce 1
    // plainstate@11 (nonce 2)   -> valid_from 9, nonce 2
    assert(rows.toSeq == Seq((0L, 0L), (5L, 1L), (9L, 2L)))
  }

  test("p13 scale bounds: 10x blocks stays sub-quadratic with flat driver heap") {
    // The p13 registry entry oracle-hashes only the sim-exact row counts;
    // the environment-dependent ratio/heap BOUNDS live here, where a GC
    // pause or noisy co-tenant can be absorbed by a retry instead of
    // failing the correctness artifact (ADVICE r6). Three attempts: a
    // genuine quadratic stage fails all of them (ratio would sit ~100x,
    // nowhere near the 35x line).
    // LazyList: memoized + lazy, so .exists stops at the first passing
    // attempt and .head below reuses attempt 1 instead of re-running
    val attempts = LazyList.continually(
      graft.queries.PipelineQueries.measureScaleStress(spark, "spec"))
      .take(3)
    assert(attempts.exists(m => m.subquadratic && m.driverHeapFlat),
      "ratio >= 35x or driver heap grew >= 512MB on all 3 attempts")
    // counts are deterministic regardless of timing
    val first = attempts.head
    assert(first.rows1 > 0 && first.rows10 > first.rows1)
  }

  test("p15 CSV leg is lossless on nulls, empties, newlines, quotes") {
    // the adversarial contents ADVICE r7 flagged as latent in the p15
    // documents fixture: null vs empty string, embedded newlines (and
    // CRLF), quotes, commas, leading/trailing whitespace, unicode —
    // all must survive the csvWriteLossless/csvReadLossless pair
    // byte-for-byte (the literal `\N` sentinel is the one documented
    // non-goal)
    import spark.implicits._
    val tricky = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "plain"),
      (4L, "embedded\nnewline"),
      (5L, "crlf\r\nline"),
      (6L, "quote\"comma,semi;"),
      (7L, "  padded  "),
      (8L, "ünïcødé — πλ"),
      (9L, "trailing newline\n"),
      (10L, "\ttab\tseparated\t")
    ).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-csv-lossless").toString
    graft.queries.PipelineQueries.csvWriteLossless(tricky, s"$dir/csv")
    val back = graft.queries.PipelineQueries
      .csvReadLossless(spark, tricky.schema, s"$dir/csv")
    val wantRows = tricky.collect().map(r => (r.getLong(0), r.getString(1)))
      .toMap
    val gotRows = back.collect().map(r => (r.getLong(0), r.getString(1)))
      .toMap
    assert(gotRows.keySet == wantRows.keySet)
    for ((id, want) <- wantRows)
      assert(gotRows(id) == want, s"doc $id: ${gotRows(id)} != $want")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
