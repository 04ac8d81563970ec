package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.codec.Rlp
import graft.functions.Bytes
import graft.pipeline.{Fixtures, TxBodies}

/** Tx-bodies pipeline tests: RLP codec round trip, the J2
  * explode-to-equi-join, contiguity invariant, duplicate-block detection,
  * stats, and the S9 sink record layout (erigon_extract.c:1777-1989).
  */
class TxBodiesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.withDefaults(SparkSession.builder())
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val world: Fixtures.TxWorld = Fixtures.generateTxWorld(spark)
  lazy val decoded = TxBodies.decodeBodies(world.bodies).cache()

  test("RLP block-body codec round trip") {
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 300) {
      val uncles =
        if (rnd.nextBoolean()) Rlp.encodeList(Array.emptyByteArray)
        else {
          val u = new Array[Byte](rnd.nextInt(100)); rnd.nextBytes(u)
          Rlp.encodeList(Rlp.encodeBytes(u))
        }
      val b = Rlp.BlockBody(math.abs(rnd.nextLong()) % (1L << 48),
        rnd.nextInt(1000).toLong, uncles)
      val d = Rlp.decodeBlockBody(Rlp.encodeBlockBody(b))
      assert(d.txIndex == b.txIndex && d.txAmount == b.txAmount)
      assert(d.unclesRlp.sameElements(b.unclesRlp))
    }
    // strictness: trailing garbage rejected
    val ok = Rlp.encodeBlockBody(Rlp.BlockBody(1, 2,
      Rlp.encodeList(Array.emptyByteArray)))
    assertThrows[IllegalArgumentException](
      Rlp.decodeBlockBody(ok ++ Array(0x00.toByte)))
  }

  test("J2 join resolves exactly the declared transactions") {
    val joined = TxBodies.joinTransactions(decoded, world.transactions)
    assert(joined.count() == world.totalTxs)
    // every (body, tx_seq) pair unique and within range
    import org.apache.spark.sql.functions._
    val bad = joined.groupBy("block", "block_hash", "tx_seq").count()
      .filter(col("count") > 1)
    assert(bad.count() == 0)
  }

  test("contiguity invariant holds on consistent data and trips on gaps") {
    assert(TxBodies.contiguityViolations(decoded,
      world.transactions).count() == 0)
    // drop one transaction → exactly the affected bodies are flagged
    import org.apache.spark.sql.functions._
    val victim = world.transactions.orderBy("tx_id").limit(1)
      .collect()(0).getLong(0)
    val holed = world.transactions.filter(col("tx_id") =!= victim)
    val v = TxBodies.contiguityViolations(decoded, holed).collect()
    assert(v.nonEmpty)
    assert(v.forall(r => r.getAs[Long]("n_found") ==
      r.getAs[Long]("tx_amount") - 1))
  }

  test("duplicate-block detection finds exactly the planted reorgs") {
    val dups = TxBodies.duplicateBlocks(decoded).collect()
      .map(_.getAs[Long]("block")).sorted
    assert(dups.toSeq == world.dupBlocks.sorted)
  }

  test("stats aggregate matches the fixture totals") {
    val s = TxBodies.stats(decoded, world.transactions).collect()(0)
    assert(s.getAs[Long]("block_count") == world.nBlocks)
    assert(s.getAs[Long]("tx_count") == world.totalTxs)
    assert(s.getAs[Long]("tx_declared") == world.totalTxs)
    assert(s.getAs[Long]("block_dups") == world.dupBlocks.length)
    assert(s.getAs[Long]("total_size") > 0)
  }

  test("S9 sink record layout: varint-framed, decodes back to the body") {
    import graft.codec.TxBodyCodec
    val recs = TxBodies.encodeBlocks(decoded, world.transactions).collect()
    assert(recs.length == decoded.count())
    val declared: Map[(Long, String), (Long, Array[Byte])] =
      decoded.collect().map { r =>
        ((r.getAs[Long]("block"),
          Bytes.hex(r.getAs[Array[Byte]]("block_hash"))),
          (r.getAs[Long]("tx_amount"), r.getAs[Array[Byte]]("uncles_rlp")))
      }.toMap
    recs.foreach { r =>
      val block = r.getAs[Long]("block")
      val key = (block, Bytes.hex(r.getAs[Array[Byte]]("block_hash")))
      val all = TxBodyCodec.decodeAll(r.getAs[Array[Byte]]("record")).toSeq
      assert(all.length == 1, s"block $block: one record expected")
      val d = all.head
      val (txAmount, uncles) = declared(key)
      assert(d.block == block && d.txAmount == txAmount)
      assert(d.unclesRlp.sameElements(uncles))
      assert(d.txs.length.toLong == txAmount)
      assert(d.txs.forall(_.nonEmpty))
    }
  }

  test("varint number framing: byte goldens from the reference encoding") {
    import graft.codec.{ByteBuf, TxBodyCodec}
    // (value, expected bytes): 0 → 0x00; single byte < 224 → itself;
    // 224+ or multi-byte → (223+len) prefix + significant big-endian bytes
    val cases = Seq(
      0L -> Seq(0x00),
      1L -> Seq(0x01),
      223L -> Seq(0xdf),
      224L -> Seq(0xe0, 0xe0),
      255L -> Seq(0xe0, 0xff),
      256L -> Seq(0xe1, 0x01, 0x00),
      0x1234567890L -> Seq(0xe4, 0x12, 0x34, 0x56, 0x78, 0x90),
      -1L -> Seq(0xe7, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff))
    cases.foreach { case (v, expected) =>
      val buf = new ByteBuf(16)
      TxBodyCodec.writeNumber(buf, v)
      assert(buf.toArray.toSeq.map(_ & 0xff) == expected, s"value $v")
    }
  }

  test("TxBodyCodec: randomized record-stream round trip") {
    import graft.codec.{ByteBuf, TxBodyCodec}
    val rnd = new scala.util.Random(99)
    for (_ <- 1 to 50) {
      val records = IndexedSeq.fill(1 + rnd.nextInt(20)) {
        val txs = IndexedSeq.fill(rnd.nextInt(6)) {
          val b = new Array[Byte](1 + rnd.nextInt(300)); rnd.nextBytes(b); b
        }
        val uncles = new Array[Byte](rnd.nextInt(100)); rnd.nextBytes(uncles)
        TxBodyCodec.BodyRecord(math.abs(rnd.nextLong()) % (1L << 40),
          txs.length.toLong, uncles, txs)
      }
      val buf = new ByteBuf()
      records.foreach(TxBodyCodec.encode(buf, _))
      val back = TxBodyCodec.decodeAll(buf.toArray).toIndexedSeq
      assert(back.length == records.length)
      records.zip(back).foreach { case (a, b) =>
        assert(a.block == b.block && a.txAmount == b.txAmount)
        assert(a.unclesRlp.sameElements(b.unclesRlp))
        assert(a.txs.length == b.txs.length)
        a.txs.zip(b.txs).foreach { case (x, y) => assert(x.sameElements(y)) }
      }
    }
    // truncated stream rejected, not silently empty
    val buf = new ByteBuf()
    TxBodyCodec.encode(buf, TxBodyCodec.BodyRecord(5L, 1L,
      Array[Byte](1, 2), IndexedSeq(Array[Byte](9, 9, 9))))
    val bytes = buf.toArray
    assertThrows[IllegalArgumentException](
      TxBodyCodec.decodeAll(java.util.Arrays.copyOf(bytes,
        bytes.length - 2)).toIndexedSeq)
  }

  test("S9 file sink round trip: records → part files → decoded rows") {
    import org.apache.spark.sql.functions._
    val enc = TxBodies.encodeBlocks(decoded, world.transactions)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-txbodies").toString
    val (nFiles, nBlocks, nBytes) = graft.spark.TxBodyFiles.write(
      enc, dir, blockStart = 1L, blockEnd = world.nBlocks)
    assert(nBlocks == decoded.count())
    assert(nFiles > 1, "multi-file layout expected at 4 partitions")
    assert(nBytes > 0)
    val back = graft.spark.TxBodyFiles.read(spark, dir)
    assert(back.count() == decoded.count())
    // per-block tx counts and uncles bytes survive the round trip
    val orig = decoded.select(col("block"), col("tx_amount")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val rt = back.select(col("block"), col("tx_amount")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rt == orig)
    // total txs preserved
    val txTotal = back.agg(sum(size(col("txs")))).collect()(0).getLong(0)
    assert(txTotal == world.totalTxs)
    // global order: concatenated part files = ascending block stream
    // (the reference's single-file cursor order, split at record bounds)
    val fileFirstBlocks = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".dat")).sortBy(_.getName).map { f =>
        graft.codec.TxBodyCodec.decodeAll(
          java.nio.file.Files.readAllBytes(f.toPath)).next().block
      }
    assert(fileFirstBlocks.sameElements(fileFirstBlocks.sorted))
  }

  test("TxBodyFiles.write overwrite: fresh part names, old snapshot " +
      "never rewritten") {
    val enc = TxBodies.encodeBlocks(decoded, world.transactions)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-txbodies-iso").toString
    graft.spark.TxBodyFiles.write(enc, dir, blockStart = 1L,
      blockEnd = world.nBlocks)
    val half = enc.filter(
      org.apache.spark.sql.functions.col("block") <= world.nBlocks / 2)
    SinkCommit.assertOverwriteIsolated(dir) {
      graft.spark.TxBodyFiles.write(half, dir, blockStart = 1L,
        blockEnd = world.nBlocks / 2)
    }
    assert(graft.spark.TxBodyFiles.read(spark, dir).count() == half.count())
  }

  test("S9 manifest is the commit point: orphan part files are invisible") {
    import graft.codec.{ByteBuf, TxBodyCodec}
    val enc = TxBodies.encodeBlocks(decoded, world.transactions)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-txbodies-orphan").toString
    graft.spark.TxBodyFiles.write(enc, dir, blockStart = 1L,
      blockEnd = world.nBlocks)
    val committed = graft.spark.TxBodyFiles.read(spark, dir).count()
    // crash simulation: a later write attempt died after dropping a part
    // file but BEFORE committing its manifest — the orphan must not be
    // served (it would double-count blocks / mix block ranges)
    val orphan = new ByteBuf()
    TxBodyCodec.encode(orphan, TxBodyCodec.BodyRecord(999999L, 0L,
      Array[Byte](0xc0.toByte), IndexedSeq.empty))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-99999.dat"), orphan.toArray)
    val after = graft.spark.TxBodyFiles.read(spark, dir)
    assert(after.count() == committed, "orphan part file leaked into read")
    assert(after.filter(org.apache.spark.sql.functions.col("block") ===
      999999L).count() == 0)
    // a manifest-less ad-hoc dir still falls back to directory listing
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(dir, "_manifest.json"))
    assert(graft.spark.TxBodyFiles.read(spark, dir).count() ==
      committed + 1)
  }
}
