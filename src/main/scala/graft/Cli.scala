package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's command-line surface (erigon_extract.c:2595-2609,
  * 2611-2790) re-expressed over Spark — one entry point a reference user
  * can switch to:
  *
  * {{{
  *   runMain graft.Cli convert <tablesDir> <outDir> [--prune] [--strategy N]
  *   runMain graft.Cli txbodies <tablesDir> <outDir>
  *   runMain graft.Cli copy <inDir> <outDir> <strategyIn> <strategyOut>
  *   runMain graft.Cli show <strategy> <path> [--header]
  * }}}
  *
  * `convert` = the reference's `-M` full conversion: changesets +
  * plainstate → merged, re-timestamped full-history `.dat` dataset, plus
  * the txbodies dataset — both reference-layout (page-aligned state
  * files; varint-framed body records). `--prune` = `-P` (keep the last
  * 90,000 blocks, erigon_extract.c:2722-2726). `show` = `-s`/`-S`/`-T`,
  * `copy` = the strategy converter.
  *
  * `<tablesDir>` holds the ingest parquet tables (the MDBX replacement per
  * SURVEY.md §7.1): `account_changeset(block, address, account_blob)`,
  * `storage_changeset(block, address, incarnation, slot, value)`,
  * `plain_code_hash(address, incarnation, code_hash)`,
  * `plain_state_accounts(address, account_blob)`,
  * `plain_state_storage(address, incarnation, slot, value)`, and for
  * txbodies: `block_bodies(block, block_hash, body_rlp)`,
  * `block_transactions(tx_id, tx_rlp)`.
  */
object Cli {

  val PruneKeepBlocks = 90000L // erigon_extract.c:2722-2726

  /** The -M conversion: full history to a page-aligned .dat dataset.
    * Returns (latestBlock, blockStart). `keepBlocks` parameterizes the -P
    * window (reference constant 90,000) so the prune arithmetic is
    * testable below mainnet heights.
    */
  def convert(sess: SparkSession, tablesDir: String, outDir: String,
              prune: Boolean = false, strategy: Int = 0,
              keepBlocks: Long = PruneKeepBlocks): (Long, Long) = {
    def t(name: String): DataFrame =
      sess.read.parquet(s"$tablesDir/$name")
    val accCs = t("account_changeset")
    val stoCs = t("storage_changeset")
    // the reference reads SyncStage "Execution" for the latest block; the
    // parquet ingest carries it as the maximum over BOTH changeset tables
    // (storage changesets can extend past the last account change)
    val latestRow = accCs.select(col("block"))
      .unionByName(stoCs.select(col("block")))
      .agg(max(col("block"))).collect()(0)
    require(!latestRow.isNullAt(0),
      s"$tablesDir: changeset tables are empty — nothing to convert")
    val latest = latestRow.getLong(0)
    val blockStart =
      if (!prune) 0L
      else if (latest < keepBlocks) 0L
      else latest - keepBlocks + 1L
    val history = pipeline.FullHistory.buildFlagged(sess, accCs, stoCs,
      t("plain_code_hash"), t("plain_state_accounts"),
      t("plain_state_storage"), latest, blockStart = blockStart)
    // the item columns plus the W1 flag, which the sink's tasks count
    spark.StateFiles.save(history.withColumnRenamed("valid_from_block",
      "block"), outDir, strategy, overwrite = true,
      blockStart = Some(blockStart), blockEnd = Some(latest))
    // SURVEY §5 mechanism 3: the reference PRINTS warn-but-tolerate
    // anomalies during -M conversion (incarnation decrease, codeHash
    // change without incarnation, non-advancing adjusted block); a
    // Goerli-shaped chain loses that operator signal without this
    // summary. All three are counted by the write's own encode tasks —
    // the first two by the codec, the third from the W1 window's flag —
    // and committed to the manifest, so the summary reads it back.
    System.err.println(s"convert anomalies: ${anomalies(outDir)}")
    (latest, blockStart)
  }

  /** The txbodies extraction: bodies + transactions → varint-framed
    * record files. Returns (files, blocks, bytes).
    */
  def txbodies(sess: SparkSession, tablesDir: String,
               outDir: String): (Long, Long, Long) = {
    def t(name: String): DataFrame =
      sess.read.parquet(s"$tablesDir/$name")
    val bodies = t("block_bodies")
    // latest from the RAW block column — no RLP decode needed for it, and
    // the decode lineage then runs exactly once (inside encodeBlocks)
    val latestRow = bodies.agg(max(col("block"))).collect()(0)
    require(!latestRow.isNullAt(0),
      s"$tablesDir: block_bodies is empty — nothing to extract")
    val latest = latestRow.getLong(0)
    val enc = pipeline.TxBodies.encodeBlocks(
      pipeline.TxBodies.decodeBodies(bodies), t("block_transactions"))
    spark.TxBodyFiles.write(enc, outDir, blockStart = 0L, blockEnd = latest)
  }

  /** The manifest's write-time anomaly counters, `n/a` for a counter the
    * writes of the dataset did not measure.
    */
  private[graft] def anomalies(dir: String): String =
    Seq("incarnation_decrease", "codehash_no_incarnation",
        "non_advancing_block").map { name =>
      val v = spark.StateFiles.manifestField(dir, s"anomaly_$name")
      s"$name=${v.fold("n/a")(_.toString)}"
    }.mkString(" ")

  /** Strict flag parse: an unrecognized/typo'd flag must FAIL, not
    * silently run an unpruned conversion.
    */
  private def parseConvertFlags(rest: List[String]): (Boolean, Int) = {
    var prune = false
    var strategy = 0
    var args = rest
    while (args.nonEmpty) args = args match {
      case "--prune" :: t => prune = true; t
      case "--strategy" :: v :: t => strategy = v.toInt; t
      case bad :: _ =>
        throw new IllegalArgumentException(s"unknown convert flag: $bad")
      case Nil => Nil
    }
    (prune, strategy)
  }

  /** The reference's headline read (README.md:36-41): state of an address
    * (or one of its storage slots) as of a block, against a CONVERTED
    * dataset. The reference does an O(log N) page seek; here the same IO
    * discipline falls out of the DSv2 source — the address/block
    * predicates push into split planning and prune pages via the `.idx`
    * sidecar bounds, so only the matching page runs decode.
    */
  def asOf(s: org.apache.spark.sql.SparkSession, dir: String, strategy: Int,
           addressHex: String, block: Long,
           slotHex: Option[String] = None): Option[model.StateItem] = {
    val addr = functions.Bytes.unhex(addressHex)
    val items = spark.StateFiles.read(s, dir, strategy)
    val base = items.filter(col("address") === lit(addr) &&
      col("block") <= block)
    val keyed = slotHex match {
      case Some(sl) => base.filter(col("isStorage") &&
        col("slot") === lit(functions.Bytes.unhex(sl)))
      case None => base.filter(!col("isStorage"))
    }
    keyed.orderBy(col("block").desc).limit(1).collect().headOption
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "convert" :: tablesDir :: outDir :: rest =>
      val (prune, strategy) = parseConvertFlags(rest)
      val s = Sessions.local()
      val (latest, start) = convert(s, tablesDir, outDir,
        prune = prune, strategy = strategy)
      System.err.println(
        s"convert: blocks $start..$latest -> $outDir (strategy $strategy)")
      s.stop()
    case "txbodies" :: tablesDir :: outDir :: Nil =>
      val s = Sessions.local()
      val (files, blocks, bytes) = txbodies(s, tablesDir, outDir)
      System.err.println(
        s"txbodies: $blocks blocks, $bytes bytes in $files files -> $outDir")
      s.stop()
    case "copy" :: inDir :: outDir :: sIn :: sOut :: Nil =>
      val s = Sessions.local()
      spark.CopyFile.convert(s, inDir, outDir, sIn.toInt, sOut.toInt)
      s.stop()
    case "show" :: rest => Show.main(rest.toArray)
    case "show-txbodies" :: path :: Nil =>
      // inspect tool for the second output family: decoded body records
      val in = new java.io.BufferedInputStream(
        java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path)),
        1 << 18)
      try codec.TxBodyCodec
        .decodeStream(in, java.nio.file.Files.size(
          java.nio.file.Paths.get(path)))
        .foreach { r =>
          println(s"Block ${r.block} txs=${r.txAmount} " +
            s"uncles=${r.unclesRlp.length}B " +
            s"txBytes=${r.txs.map(_.length).sum}")
        }
      finally in.close()
    case "asof" :: dir :: strategyStr :: addrHex :: blockStr :: rest
        if rest.size <= 1 =>
      val s = Sessions.local()
      val res = asOf(s, dir, strategyStr.toInt, addrHex, blockStr.toLong,
        rest.headOption)
      res match {
        case Some(i) if i.isStorage =>
          println(s"address=${functions.Bytes.hex(i.address)} " +
            s"slot=${functions.Bytes.hex(i.slot)} valid_from=${i.block} " +
            s"incarnation=${i.incarnation} " +
            s"value=${functions.Bytes.hex(i.value)}")
        case Some(i) =>
          println(s"address=${functions.Bytes.hex(i.address)} " +
            s"valid_from=${i.block} nonce=${i.nonce} " +
            s"incarnation=${i.incarnation} " +
            s"balance=${functions.Bytes.hex(i.balance)} " +
            s"code_hash=${functions.Bytes.hex(i.codeHash)}")
        case None => System.err.println("asof: no visible state")
      }
      // IO-discipline telemetry (local mode: tasks share this JVM): how
      // many 4 KiB pages the lookup actually decoded vs skipped via the
      // .idx bounds — the observable behind the O(log N) seek claim.
      // Both zero means page pruning never engaged (missing/unpaired
      // sidecar → full-split decode), which must not read as "0 pages
      // touched".
      val pd = spark.datasource.DatPageMetrics.pagesDecoded.sum()
      val ps = spark.datasource.DatPageMetrics.pagesSkipped.sum()
      System.err.println(
        if (pd + ps == 0)
          "asof: page pruning inactive (no validated .idx sidecar) — " +
            "full-split decode"
        else s"asof: pages decoded=$pd skipped=$ps")
      s.stop()
      if (res.isEmpty) sys.exit(1)
    case "compact" :: dir :: strategyStr :: rest if rest.size <= 1 =>
      // dataset maintenance: collapse accumulated increments into one
      // fresh range-sorted generation (see StateFiles.compact)
      val s = Sessions.local()
      val target = rest.headOption.map(_.toInt).getOrElse(1)
      val before = spark.StateFiles.manifestField(dir, "files")
        .getOrElse(sys.error(s"no manifest in $dir"))
      spark.StateFiles.compact(s, dir, strategyStr.toInt, target)
      val after = spark.StateFiles.manifestField(dir, "files").get
      System.err.println(s"compact: $before -> $after files in $dir")
      s.stop()
    case "check" :: dir :: strategyStr :: Nil =>
      // dataset integrity: decode EVERYTHING, compare against the
      // manifest's committed totals
      val s = Sessions.local()
      val strategy = strategyStr.toInt
      val items = spark.StateFiles.read(s, dir, strategy)
      val counts = items.toDF().groupBy(col("isStorage")).count()
        .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      val accounts = counts.getOrElse(false, 0L)
      val slots = counts.getOrElse(true, 0L)
      def mf(name: String): Long = spark.StateFiles.manifestField(dir, name)
        .getOrElse(sys.error(s"manifest missing $name"))
      val ok = accounts == mf("accounts") && slots == mf("storage_slots")
      System.err.println(
        s"check: decoded accounts=$accounts (manifest ${mf("accounts")}), " +
          s"storage_slots=$slots (manifest ${mf("storage_slots")}) -> " +
          (if (ok) "OK" else "MISMATCH") + s"; anomalies: ${anomalies(dir)}")
      s.stop()
      if (!ok) sys.exit(1)
    case _ =>
      System.err.println(
        """usage: graft.Cli <command>
          |  convert <tablesDir> <outDir> [--prune] [--strategy N]
          |  txbodies <tablesDir> <outDir>
          |  copy <inDir> <outDir> <strategyIn> <strategyOut>
          |  show <strategy> <path> [--header]
          |  show-txbodies <file.dat>
          |  check <datasetDir> <strategy>
          |  compact <datasetDir> <strategy> [targetParts]
          |  asof <datasetDir> <strategy> <addressHex> <block> [slotHex]""".stripMargin)
      sys.exit(2)
  }
}
