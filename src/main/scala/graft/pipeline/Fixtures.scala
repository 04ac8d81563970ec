package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.codec.AccountBlob
import graft.functions.Bytes
import graft.model.StateItem

/** Deterministic synthetic Ethereum-shaped fixtures mirroring the
  * reference's input tables (FIXTURES.md §A; table layouts per
  * erigon_extract.c:1561-1576, 1703-1726, 266-291).
  *
  * A small chain simulation produces mutually consistent
  * AccountChangeSet / StorageChangeSet / PlainState / PlainCodeHash tables
  * plus an independent "state after block N" oracle for as-of query checks.
  * Account blobs deliberately omit the code hash (fieldset bit 8 unset),
  * as Erigon's do, so the J1 PlainCodeHash lookup join is genuinely
  * exercised.
  */
object Fixtures {

  final case class AccountChangesetRow(block: Long, address: Array[Byte],
                                       account_blob: Array[Byte])
  final case class StorageChangesetRow(block: Long, address: Array[Byte],
                                       incarnation: Long, slot: Array[Byte],
                                       value: Array[Byte])
  final case class CodeHashRow(address: Array[Byte], incarnation: Long,
                               code_hash: Array[Byte])
  final case class PlainAccountRow(address: Array[Byte],
                                   account_blob: Array[Byte])
  final case class PlainStorageRow(address: Array[Byte], incarnation: Long,
                                   slot: Array[Byte], value: Array[Byte])

  /** Oracle record: state AFTER executing `block`. */
  final case class AccountAfter(addressHex: String, block: Long, nonce: Long,
                                incarnation: Long, balance: Long,
                                codeHashHex: String)
  final case class StorageAfter(addressHex: String, slotHex: String,
                                block: Long, incarnation: Long, value: Long)

  /** Oracles are LAZY (by-name, memoized): queries that only build plans
    * over the tables (p01/p02/p06) never pay the oracle materialization —
    * on a warm parquet cache that is the difference between a pure-lazy
    * world() and seconds of driver-side collect.
    */
  final class World(
      val accountChangeset: DataFrame,
      val storageChangeset: DataFrame,
      val plainCodeHash: DataFrame,
      val plainStateAccounts: DataFrame,
      val plainStateStorage: DataFrame,
      val latestBlock: Long,
      accountOracleF: => Seq[AccountAfter],
      storageOracleF: => Seq[StorageAfter]) {
    lazy val accountOracle: Seq[AccountAfter] = accountOracleF
    lazy val storageOracle: Seq[StorageAfter] = storageOracleF
  }

  private def be32(v: Long): Array[Byte] = {
    val b = new Array[Byte](32); Bytes.put64be(b, 24, v); b
  }

  // ---- tx-bodies fixtures (FIXTURES.md §a5) ----

  final case class BlockBodyRow(block: Long, block_hash: Array[Byte],
                                body_rlp: Array[Byte])
  final case class BlockTxRow(tx_id: Long, tx_rlp: Array[Byte])

  final case class TxWorld(bodies: DataFrame, transactions: DataFrame,
                           nBlocks: Long, totalTxs: Long,
                           dupBlocks: Seq[Long])

  /** BlockBody/BlockTransaction tables with contiguous tx ranges and
    * planted reorg duplicates (every 10th block has a second body with its
    * own tx range — the duplicate-block case of erigon_extract.c:1852-1869).
    */
  def generateTxWorld(spark: SparkSession, nBlocks: Int = 100,
                      seed: Long = 7L): TxWorld =
    graft.Memo(spark, ("fixtures.txWorld", nBlocks, seed))(
      generateTxWorldUncached(spark, nBlocks, seed))

  /** Pure generation result — the tx-bodies ground truth WITHOUT any Spark
    * dependency, usable both to build the DataFrames and to derive oracle
    * literals (total counts/bytes) at verify-dump time.
    */
  final case class TxSim(bodies: Seq[BlockBodyRow], txs: Seq[BlockTxRow],
                         dups: Seq[Long], totalTxs: Long)

  /** Deterministic pure replay of the tx-bodies generator. */
  def txSimulate(nBlocks: Int, seed: Long = 7L): TxSim = {
    val rnd = new scala.util.Random(seed)
    val bodies = Seq.newBuilder[BlockBodyRow]
    val txs = Seq.newBuilder[BlockTxRow]
    val dups = Seq.newBuilder[Long]
    var txId = 0L
    var totalTxs = 0L
    def emitBody(block: Long): Unit = {
      val txAmount = rnd.nextInt(6).toLong
      val uncles =
        if (rnd.nextInt(5) == 0) {
          val u = new Array[Byte](20 + rnd.nextInt(40)); rnd.nextBytes(u)
          graft.codec.Rlp.encodeList(graft.codec.Rlp.encodeBytes(u))
        } else graft.codec.Rlp.encodeList(Array.emptyByteArray)
      val hash = new Array[Byte](32); rnd.nextBytes(hash)
      bodies += BlockBodyRow(block, hash, graft.codec.Rlp.encodeBlockBody(
        graft.codec.Rlp.BlockBody(txId, txAmount, uncles)))
      for (_ <- 0L until txAmount) {
        val rlp = new Array[Byte](30 + rnd.nextInt(170))
        rnd.nextBytes(rlp)
        txs += BlockTxRow(txId, graft.codec.Rlp.encodeBytes(rlp))
        txId += 1
      }
      totalTxs += txAmount
    }
    for (block <- 1L to nBlocks.toLong) {
      emitBody(block)
      if (block % 10 == 0) { emitBody(block); dups += block } // reorg dup
    }
    TxSim(bodies.result(), txs.result(), dups.result(), totalTxs)
  }

  private def generateTxWorldUncached(spark: SparkSession, nBlocks: Int,
                                      seed: Long): TxWorld = {
      val sim = txSimulate(nBlocks, seed)
      import spark.implicits._
      TxWorld(sim.bodies.toDF(), sim.txs.toDF(), nBlocks.toLong,
        sim.totalTxs, sim.dups)
  }

  // memoized per (params): Verify/Bench call several queries that share one
  // world; regeneration is pure driver-side waste
  def generate(spark: SparkSession, nAddresses: Int = 30,
               nBlocks: Int = 200, seed: Long = 42L): World =
    graft.Memo(spark, ("fixtures.world", nAddresses, nBlocks, seed))(
      parquetBacked(spark, nAddresses, nBlocks, seed))

  /** Absolute on-disk location of the parquet cache for these params —
    * also the `read_parquet` root the pipeline oracle SQL points DuckDB at
    * (built at verify-dump time, AFTER the queries have warmed the cache).
    */
  def cacheBase(nAddresses: Int, nBlocks: Int, seed: Long = 42L): String =
    // v2: layout version bump (v1 lacked the oracle tables)
    new java.io.File(
      s"target/fixture-cache/v2-$nAddresses-$nBlocks-$seed").getAbsolutePath

  /** Round-trip the generated world through a deterministic parquet cache.
    *
    * Driver-built Seqs enter a plan as single-partition `LocalTableScan`s:
    * every downstream union branch is one task, the P1 decode UDF runs
    * single-threaded, and nothing can be pushed down. Persisting once per
    * (params) and scanning back gives the changeset tables real parquet
    * scans — parallel decode, filter pushdown, size statistics for AQE's
    * broadcast decisions — i.e. the same execution shape a user gets on
    * actual input files. The generator is seeded-deterministic, so a cache
    * dir left by a previous JVM run is still byte-valid — and the oracles
    * are cached alongside the tables, so a warm hit skips the whole
    * driver-side simulation (which is seconds of single-threaded work at
    * bench scale).
    */
  private def parquetBacked(spark: SparkSession, nAddresses: Int,
                            nBlocks: Int, seed: Long): World = {
    import spark.implicits._
    val base = graft.Stored.dir(cacheBase(nAddresses, nBlocks, seed)) { base =>
      val w = generateUncached(spark, nAddresses, nBlocks, seed)
      val par = spark.sparkContext.defaultParallelism
      def dump(df: DataFrame, name: String, wide: Boolean): Unit =
        df.repartition(if (wide) par else 1).write.mode("overwrite")
          .parquet(s"$base/$name")
      dump(w.accountChangeset, "account_changeset", wide = true)
      dump(w.storageChangeset, "storage_changeset", wide = true)
      dump(w.plainCodeHash, "plain_code_hash", wide = false)
      dump(w.plainStateAccounts, "plain_state_accounts", wide = false)
      dump(w.plainStateStorage, "plain_state_storage", wide = false)
      // oracles keep their generation ORDER (head-of-seq probes in tests
      // and queries) via an explicit ord column
      dump(w.accountOracle.zipWithIndex
        .map { case (a, i) => (i.toLong, a) }.toDF(),
        "account_oracle", wide = false)
      dump(w.storageOracle.zipWithIndex
        .map { case (s, i) => (i.toLong, s) }.toDF(),
        "storage_oracle", wide = false)
    }
    new World(
      spark.read.parquet(s"$base/account_changeset"),
      spark.read.parquet(s"$base/storage_changeset"),
      spark.read.parquet(s"$base/plain_code_hash"),
      spark.read.parquet(s"$base/plain_state_accounts"),
      spark.read.parquet(s"$base/plain_state_storage"),
      nBlocks.toLong,
      spark.read.parquet(s"$base/account_oracle")
        .as[(Long, AccountAfter)].collect().sortBy(_._1).map(_._2).toSeq,
      spark.read.parquet(s"$base/storage_oracle")
        .as[(Long, StorageAfter)].collect().sortBy(_._1).map(_._2).toSeq)
  }

  /** Pure simulation result: the raw table rows plus the independent
    * state-after oracles, with no Spark dependency — the same ground truth
    * the parquet cache persists, replayable at verify-dump time to derive
    * probe lists / literals for the DuckDB pipeline oracles.
    */
  final case class Sim(accountChangeset: Seq[AccountChangesetRow],
                       storageChangeset: Seq[StorageChangesetRow],
                       plainCodeHash: Seq[CodeHashRow],
                       plainStateAccounts: Seq[PlainAccountRow],
                       plainStateStorage: Seq[PlainStorageRow],
                       accountOracle: Seq[AccountAfter],
                       storageOracle: Seq[StorageAfter])

  private def generateUncached(spark: SparkSession, nAddresses: Int,
               nBlocks: Int, seed: Long): World = {
    val sim = simulate(nAddresses, nBlocks, seed)
    import spark.implicits._
    new World(
      sim.accountChangeset.toDF(),
      sim.storageChangeset.toDF(),
      sim.plainCodeHash.toDF(),
      sim.plainStateAccounts.toDF(),
      sim.plainStateStorage.toDF(),
      nBlocks.toLong,
      sim.accountOracle,
      sim.storageOracle)
  }

  /** Deterministic pure chain simulation (memoized per params). */
  def simulate(nAddresses: Int, nBlocks: Int,
               seed: Long = 42L): Sim =
    graft.Memo(("fixtures.sim", nAddresses, nBlocks, seed))(
      simulateUncached(nAddresses, nBlocks, seed))

  private def simulateUncached(nAddresses: Int, nBlocks: Int,
                               seed: Long): Sim = {
    val rnd = new scala.util.Random(seed)
    val addrs = (0 until nAddresses).map { _ =>
      val a = new Array[Byte](20); rnd.nextBytes(a); a
    }
    // contract accounts (incarnation 1, fixed code hash) vs EOAs
    val isContract = addrs.indices.map(i => i % 3 == 0)
    val codeHashes = addrs.indices.map { i =>
      val h = new Array[Byte](32); rnd.nextBytes(h); h
    }
    val slotPool = (0 until 8).map { i =>
      val s = new Array[Byte](32); rnd.nextBytes(s); s
    }

    final case class Acc(var exists: Boolean = false, var nonce: Long = 0L,
                         var balance: Long = 0L, var incarnation: Long = 0L)
    val state = addrs.indices.map(_ => Acc())
    val storage = scala.collection.mutable.Map[(Int, Int), Long]()

    val accCs = Seq.newBuilder[AccountChangesetRow]
    val stoCs = Seq.newBuilder[StorageChangesetRow]
    val accOracle = Seq.newBuilder[AccountAfter]
    val stoOracle = Seq.newBuilder[StorageAfter]

    def blob(a: Acc): Array[Byte] =
      if (!a.exists) Array.emptyByteArray
      else AccountBlob.encode(a.nonce, be32(a.balance), a.incarnation,
        StateItem.zeros(32)) // code hash omitted — resolved via J1

    for (block <- 1L to nBlocks.toLong) {
      val touched = rnd.shuffle(addrs.indices.toList)
        .take(1 + rnd.nextInt(math.max(1, nAddresses / 4)))
      for (i <- touched) {
        val a = state(i)
        // changeset entry records the PRE-state of this block
        accCs += AccountChangesetRow(block, addrs(i), blob(a))
        if (!a.exists) {
          a.exists = true
          a.incarnation = if (isContract(i)) 1L else 0L
          a.balance = rnd.nextInt(1000000).toLong
          a.nonce = if (isContract(i)) 1L else 0L
        } else {
          a.balance = math.max(0L, a.balance + rnd.nextInt(20001) - 10000)
          if (rnd.nextBoolean()) a.nonce += 1
        }
        accOracle += AccountAfter(Bytes.hex(addrs(i)), block, a.nonce,
          a.incarnation,
          a.balance,
          if (isContract(i)) Bytes.hex(codeHashes(i)) else "0" * 64)

        if (isContract(i) && rnd.nextInt(3) > 0) {
          val si = rnd.nextInt(slotPool.length)
          val pre = storage.getOrElse((i, si), 0L)
          stoCs += StorageChangesetRow(block, addrs(i), a.incarnation,
            slotPool(si), AccountBlob.trimValue(be32(pre)))
          // always non-zero: a zero write would vanish from PlainState
          // (deleted slot) and leave the as-of oracle unverifiable
          val nv = 1L + rnd.nextInt((1 << 20) - 1)
          storage((i, si)) = nv
          stoOracle += StorageAfter(Bytes.hex(addrs(i)),
            Bytes.hex(slotPool(si)), block, a.incarnation, nv)
        }
      }
    }

    val pch = addrs.indices.collect {
      case i if isContract(i) => CodeHashRow(addrs(i), 1L, codeHashes(i))
    }
    val psAcc = addrs.indices.collect {
      case i if state(i).exists => PlainAccountRow(addrs(i), blob(state(i)))
    }
    val psSto = storage.toSeq.collect {
      case ((i, si), v) if v != 0L =>
        PlainStorageRow(addrs(i), state(i).incarnation, slotPool(si),
          AccountBlob.trimValue(be32(v)))
    }

    Sim(accCs.result(), stoCs.result(), pch.toSeq, psAcc.toSeq, psSto.toSeq,
      accOracle.result(), stoOracle.result())
  }
}
