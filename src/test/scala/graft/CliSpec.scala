package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Fixtures

/** End-to-end CLI conversion tests: the reference's -M/-P flow (tables →
  * full-history .dat dataset; bodies → txbodies dataset) driven through
  * graft.Cli's library entry points on fixture tables laid out exactly as
  * the ingest contract documents.
  */
class CliSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.withDefaults(SparkSession.builder())
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def writeTables(dir: String): Fixtures.World = {
    val w = Fixtures.generate(spark, nAddresses = 12, nBlocks = 40)
    w.accountChangeset.write.mode("overwrite")
      .parquet(s"$dir/account_changeset")
    w.storageChangeset.write.mode("overwrite")
      .parquet(s"$dir/storage_changeset")
    w.plainCodeHash.write.mode("overwrite").parquet(s"$dir/plain_code_hash")
    w.plainStateAccounts.write.mode("overwrite")
      .parquet(s"$dir/plain_state_accounts")
    w.plainStateStorage.write.mode("overwrite")
      .parquet(s"$dir/plain_state_storage")
    w
  }

  test("convert: tables -> full-history .dat dataset, read-back equality") {
    val tables = java.nio.file.Files
      .createTempDirectory("graft-cli-tables").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-cli-out").toString
    val w = writeTables(tables)
    val (latest, start) = Cli.convert(spark, tables, out)
    assert(latest == w.latestBlock && start == 0L)
    val back = graft.spark.StateFiles.read(spark, out, strategy = 0)
    val expected = graft.spark.StateFormat.asItems(
      pipeline.FullHistory.build(spark, w.accountChangeset,
        w.storageChangeset, w.plainCodeHash, w.plainStateAccounts,
        w.plainStateStorage, w.latestBlock)
        .withColumnRenamed("valid_from_block", "block"))
    assert(back.count() == expected.count())
    // manifest records the conversion block range
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_manifest.json")))
    assert(mf.contains(s"\"block_end\":$latest"), mf)
    // anomaly telemetry (SURVEY §5 mechanism 3) rides the manifest and
    // is ZERO on the well-formed fixture chain
    assert(mf.contains("\"anomaly_incarnation_decrease\":0") &&
      mf.contains("\"anomaly_codehash_no_incarnation\":0") &&
      mf.contains("\"anomaly_non_advancing_block\":0"), mf)
    assert(pipeline.FullHistory.nonAdvancingCount(
      pipeline.FullHistory.mergedStream(w.accountChangeset,
        w.storageChangeset, w.plainCodeHash, w.plainStateAccounts,
        w.plainStateStorage, w.latestBlock)) == 0L)
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def bytes(dir: String, name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, name))

  test("convert: manifest non-advancing count equals nonAdvancingCountRaw " +
      "on planted duplicates, unpruned and pruned; later writes never " +
      "record an unmeasured count") {
    import graft.spark.StateFiles
    val w = Fixtures.generate(spark, nAddresses = 12, nBlocks = 40)
    // keepBlocks = 10 on latest 40 keeps blocks 31..40. Planted: an
    // account duplicate before that window, a storage duplicate inside
    // it, two genesis duplicates (skipped, erigon_extract.c:2422-2425)
    // and a duplicated plain-state row (at latest + 1, never a changeset
    // key)
    val accDup = w.accountChangeset
      .filter(col("block") > 0 && col("block") < 31).limit(1)
    val stoDup = w.storageChangeset.filter(col("block") >= 31).limit(1)
    val genesis = w.accountChangeset.filter(col("block") > 0).limit(1)
      .withColumn("block", lit(0L))
    val tables = tmp("graft-cli-nonadv-t")
    w.accountChangeset.unionByName(accDup).unionByName(genesis)
      .unionByName(genesis).write.parquet(s"$tables/account_changeset")
    w.storageChangeset.unionByName(stoDup)
      .write.parquet(s"$tables/storage_changeset")
    w.plainCodeHash.write.parquet(s"$tables/plain_code_hash")
    w.plainStateAccounts.unionByName(w.plainStateAccounts.limit(1))
      .write.parquet(s"$tables/plain_state_accounts")
    w.plainStateStorage.write.parquet(s"$tables/plain_state_storage")
    val acc = spark.read.parquet(s"$tables/account_changeset")
    val sto = spark.read.parquet(s"$tables/storage_changeset")
    def nonAdv(dir: String): Option[Long] =
      StateFiles.manifestField(dir, "anomaly_non_advancing_block")

    val out = tmp("graft-cli-nonadv-o")
    Cli.convert(spark, tables, out)
    val raw = pipeline.FullHistory.nonAdvancingCountRaw(acc, sto)
    assert(raw == 2L && nonAdv(out).contains(raw),
      new String(bytes(out, "_manifest.json")))

    val pruned = tmp("graft-cli-nonadv-p")
    assert(Cli.convert(spark, tables, pruned, prune = true,
      keepBlocks = 10L)._2 == 31L)
    val rawPruned = pipeline.FullHistory.nonAdvancingCountRaw(acc, sto, 31L)
    assert(rawPruned == 1L && nonAdv(pruned).contains(rawPruned))

    // an append does not see the W1 window: it carries the value as is,
    // and so does a compaction, which rewrites the same rows
    val more = StateFiles.read(spark, pruned, 0).limit(5)
      .localCheckpoint()
    StateFiles.append(more, out, 0)
    assert(nonAdv(out).contains(2L))
    StateFiles.compact(spark, out, 0)
    assert(nonAdv(out).contains(2L))
    assert(Cli.anomalies(out).contains("non_advancing_block=2"))
    // a plain write measures nothing and records nothing
    val plain = tmp("graft-cli-nonadv-w")
    StateFiles.write(more, plain, 0)
    assert(nonAdv(plain).isEmpty)
    assert(Cli.anomalies(plain) == "incarnation_decrease=0 " +
      "codehash_no_incarnation=0 non_advancing_block=n/a")
  }

  test("convert: .dat and .idx bytes equal StateFiles.write of build on " +
      "the same tables") {
    val tables = tmp("graft-cli-bytes-t")
    val w = writeTables(tables)
    // one shuffle partition: range bounds are sampled, so with several
    // the part boundaries of two runs may differ
    val key = "spark.sql.shuffle.partitions"
    val was = spark.conf.get(key)
    spark.conf.set(key, "1")
    try {
      val out = tmp("graft-cli-bytes-o")
      Cli.convert(spark, tables, out)
      val ref = tmp("graft-cli-bytes-r")
      def t(name: String) = spark.read.parquet(s"$tables/$name")
      graft.spark.StateFiles.write(graft.spark.StateFormat.asItems(
        pipeline.FullHistory.build(spark, t("account_changeset"),
          t("storage_changeset"), t("plain_code_hash"),
          t("plain_state_accounts"), t("plain_state_storage"),
          w.latestBlock).withColumnRenamed("valid_from_block", "block")),
        ref, 0, blockStart = 0L, blockEnd = w.latestBlock)
      val files = graft.spark.StateFiles.manifestFileList(out).get
        .flatMap(f => Seq(f, f.stripSuffix(".dat") + ".idx"))
      assert(files.nonEmpty &&
        graft.spark.StateFiles.manifestFileList(ref).get ==
          graft.spark.StateFiles.manifestFileList(out).get)
      files.foreach(f =>
        assert(java.util.Arrays.equals(bytes(out, f), bytes(ref, f)), f))
    } finally spark.conf.set(key, was)
  }

  test("convert --prune: only the keep-window tail survives") {
    val tables = java.nio.file.Files
      .createTempDirectory("graft-cli-tables2").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-cli-out2").toString
    val w = writeTables(tables)
    // fixture latest (40) < 90,000 keep window -> prune keeps everything
    val (latest, start) = Cli.convert(spark, tables, out, prune = true)
    assert(start == 0L && latest == 40L)
    assert(Cli.PruneKeepBlocks == 90000L)

    // the REAL keep-window branch, with a window smaller than the chain:
    // keepBlocks=10 on latest=40 -> blockStart = 31
    val out2 = java.nio.file.Files
      .createTempDirectory("graft-cli-out3").toString
    val (latest2, start2) = Cli.convert(spark, tables, out2, prune = true,
      keepBlocks = 10L)
    assert(latest2 == 40L && start2 == 31L)
    // read-back equals a direct pruned build
    val back = graft.spark.StateFiles.read(spark, out2, strategy = 0)
    val expected = graft.spark.StateFormat.asItems(
      pipeline.FullHistory.build(spark, w.accountChangeset,
        w.storageChangeset, w.plainCodeHash, w.plainStateAccounts,
        w.plainStateStorage, w.latestBlock, blockStart = 31L)
        .withColumnRenamed("valid_from_block", "block"))
    assert(back.count() == expected.count())
    assert(back.count() < graft.spark.StateFiles.read(spark, out,
      strategy = 0).count(), "pruned dataset must be smaller than full")
    // no changeset-derived row below the window (PlainState rows carry
    // latest+1; changeset rows pruned to >= blockStart keep their blocks)
    val minBlock = back.toDF().agg(min(col("block"))).collect()(0).getLong(0)
    assert(minBlock >= 31L || minBlock == 0L)
  }

  test("asof: flagship point read on a converted dataset matches the " +
      "chain oracle (account, storage, pre-existence)") {
    val tables = java.nio.file.Files
      .createTempDirectory("graft-cli-asof-tables").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-cli-asof-out").toString
    val w = writeTables(tables)
    Cli.convert(spark, tables, out)
    // mid-chain account probe: as-of AT a touch block must return exactly
    // that oracle entry (history row valid FROM it)
    val (addr, touches) = w.accountOracle.groupBy(_.addressHex)
      .maxBy(_._2.size)
    val sorted = touches.sortBy(_.block)
    val probe = sorted(sorted.size / 2)
    val res = Cli.asOf(spark, out, 0, addr, probe.block)
      .getOrElse(fail("account probe found nothing"))
    assert(!res.isStorage && res.block == probe.block)
    assert(res.nonce == probe.nonce && res.incarnation == probe.incarnation)
    assert(BigInt(graft.functions.Bytes.hex(res.balance), 16) ==
      BigInt(probe.balance))
    // storage probe through the same dataset
    val (_, stTouches) = w.storageOracle
      .groupBy(o => (o.addressHex, o.slotHex)).maxBy(_._2.size)
    val stSorted = stTouches.sortBy(_.block)
    val sp = stSorted(stSorted.size / 2)
    val sres = Cli.asOf(spark, out, 0, sp.addressHex, sp.block,
        Some(sp.slotHex))
      .getOrElse(fail("storage probe found nothing"))
    assert(sres.isStorage && sres.block == sp.block)
    assert(BigInt(graft.functions.Bytes.hex(sres.value), 16) ==
      BigInt(sp.value))
    // before the first touch the zero-state row answers (account did not
    // exist yet): valid_from 0, zeroed fields
    if (sorted.head.block > 1) {
      val r0 = Cli.asOf(spark, out, 0, addr, sorted.head.block - 1)
        .getOrElse(fail("pre-existence probe found nothing"))
      assert(r0.block == 0L && r0.nonce == 0L &&
        BigInt(graft.functions.Bytes.hex(r0.balance), 16) == 0)
    }
  }

  test("check: decoded totals match the manifest after convert") {
    val tables = java.nio.file.Files
      .createTempDirectory("graft-cli-check-t").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-cli-check-o").toString
    writeTables(tables)
    Cli.convert(spark, tables, out)
    // the check command's core comparison, invoked as a library call
    val items = graft.spark.StateFiles.read(spark, out, strategy = 0)
    val counts = items.toDF().groupBy(col("isStorage")).count()
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_manifest.json")))
    assert(mf.contains(s""""accounts":${counts.getOrElse(false, 0L)}"""),
      mf)
    assert(mf.contains(
      s""""storage_slots":${counts.getOrElse(true, 0L)}"""), mf)
  }

  test("compact after convert: one generation, totals and content intact") {
    val tables = java.nio.file.Files
      .createTempDirectory("graft-cli-compact-t").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-cli-compact-o").toString
    writeTables(tables)
    Cli.convert(spark, tables, out)
    val before = graft.spark.StateFiles.read(spark, out, strategy = 0)
      .toDF().count()
    graft.spark.StateFiles.compact(spark, out, strategy = 0,
      targetParts = 1)
    val filesAfter = graft.spark.StateFiles.manifestFileList(out).get
    assert(filesAfter.size == 1, s"files after: $filesAfter")
    val after = graft.spark.StateFiles.read(spark, out, strategy = 0)
      .toDF().count()
    assert(after == before, s"rows $before -> $after across compaction")
    // the check command's comparison still holds on the new generation
    val counts = graft.spark.StateFiles.read(spark, out, strategy = 0)
      .toDF().groupBy(col("isStorage")).count()
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_manifest.json")))
    assert(mf.contains(s""""accounts":${counts.getOrElse(false, 0L)}"""),
      mf)
    assert(mf.contains(
      s""""storage_slots":${counts.getOrElse(true, 0L)}"""), mf)
  }

  test("txbodies: tables -> varint record dataset, counts match") {
    val tables = java.nio.file.Files
      .createTempDirectory("graft-cli-tx").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-cli-txout").toString
    val tw = Fixtures.generateTxWorld(spark, nBlocks = 60, seed = 11L)
    tw.bodies.write.mode("overwrite").parquet(s"$tables/block_bodies")
    tw.transactions.write.mode("overwrite")
      .parquet(s"$tables/block_transactions")
    val (files, blocks, bytes) = Cli.txbodies(spark, tables, out)
    assert(blocks == tw.bodies.count())
    assert(files > 0 && bytes > 0)
    val back = graft.spark.TxBodyFiles.read(spark, out)
    assert(back.count() == blocks)
    assert(back.agg(sum(size(col("txs")))).collect()(0).getLong(0)
      == tw.totalTxs)
  }

  // The reference's show_file contract (erigon_extract.c:1998-2002): "The
  // printed output should be identical to the formatted output if PRINT
  // was set when generating that file" — reader print ≡ writer print
  // trace, so a decoded stream is byte-diffable against what the writer
  // logged. Pinned here as (a) a golden literal for the line format
  // itself, (b) writer-trace ≡ reader-trace through a real encode/decode
  // round trip on every strategy, (c) the `show` CLI's full stdout.
  test("show: decoder print output is diffable against the writer trace") {
    import graft.codec.{StateReader, StateWriter}
    import graft.functions.Bytes
    import graft.model.StateItem

    val addr = Bytes.unhex("00112233445566778899aabbccddeeff00112233")
    def b32(last: Int): Array[Byte] = {
      val a = new Array[Byte](32); a(31) = last.toByte; a
    }
    val acct = StateItem.account(addr, block = 7L, nonce = 5L,
      incarnation = 1L, balance = b32(0x2a), codeHash = b32(0x01))
    val acctEmptyCode = StateItem.account(addr, block = 9L, nonce = 6L,
      incarnation = 1L, balance = b32(0x2b),
      codeHash = StateItem.EmptyCodeHash.clone())
    val stor = StateItem.storage(addr, block = 9L, incarnation = 1L,
      slot = b32(0x03), value = b32(0x04))

    // (a) the format golden — any drift here breaks diffability of traces
    // recorded by earlier builds
    assert(Show.format(acct) ==
      "Account block=7 " +
        "address=00112233445566778899aabbccddeeff00112233\n" +
        "        inc=1 nonce=5 balance=" + "0" * 62 + "2a\n" +
        "        codeHash=" + "0" * 62 + "01")
    assert(Show.format(stor) ==
      "Storage block=9 " +
        "slot=00112233445566778899aabbccddeeff00112233/" +
        "0" * 62 + "03\n" +
        "        inc=1 value=" + "0" * 62 + "04")

    // (b) writer trace == reader trace across the production strategies
    // (2 is writer-only — the reference's own reader cannot decode it —
    // and 3 round-trips only on its transpose-ordered subset, SURVEY.md
    // §2.9 / CodecSpec); the writer prints what it encodes
    // (empty-code-hash normalization included, erigon_extract.c:832-838),
    // the reader prints what it decodes
    val items = Seq(acct, acctEmptyCode, stor)
    val writerTrace = items.map(i =>
      Show.format(if (!i.isStorage &&
          java.util.Arrays.equals(i.codeHash, StateItem.EmptyCodeHash))
        i.copy(codeHash = StateItem.zeros(32)) else i))
    for (strategy <- Seq(0, 1)) {
      val w = new StateWriter(strategy)
      items.foreach(w.write)
      val readerTrace =
        new StateReader(strategy, w.toArray).toSeq.map(Show.format)
      assert(readerTrace == writerTrace, s"strategy=$strategy")
    }

    // (c) the CLI surface end-to-end: `show` prints exactly the trace
    // plus the item count
    val w0 = new StateWriter(0)
    items.foreach(w0.write)
    val f = java.nio.file.Files.createTempFile("graft-show", ".dat")
    java.nio.file.Files.write(f, w0.toArray)
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
      Show.main(Array("0", f.toString))
    }
    java.nio.file.Files.delete(f)
    assert(bos.toString("UTF-8") ==
      writerTrace.mkString("", "\n", "\n") + s"${items.size} items\n")
  }
}
