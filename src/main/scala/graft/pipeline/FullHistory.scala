package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.StateItem

/** The reference's full-conversion dataflow (SURVEY.md §3.1) re-expressed as
  * one declarative Spark plan:
  *
  *   decode changesets (P1/P2) → code-hash lookup join (J1) → union (J3)
  *   → +1-adjusted PlainState union → range-partitioned multi-column sort
  *   (O1/O2) → per-key LAG re-timestamping (W1) → genesis drop (F3)
  *
  * The reference runs this as 139 extract threads + 6 transpose threads + a
  * single-threaded k-way merge (erigon_extract.c:2728-2746, the acknowledged
  * bottleneck); here the whole thing is one job DAG whose exchanges Spark
  * parallelizes, and the "merge" is a repartitionByRange sort that scales
  * with the cluster instead of being pinned to one thread.
  */
object FullHistory {

  private val zeros32 = lit(StateItem.zeros(32))

  // P1/P2 decode as native codegen expressions (StateExpressions): the
  // hottest per-row work of the pipeline stays inside whole-stage codegen
  // instead of paying ScalaUDF closure dispatch + tuple encoding per
  // changeset row (bitwise equality with the former UDF forms is pinned
  // in ExpressionSpec)
  private def decodeAccountExpr(blob: Column): Column =
    graft.functions.expressions.StateExpressions.account_decode(blob)

  private def padValueExpr(v: Column): Column =
    graft.functions.expressions.StateExpressions.pad_value32(v)

  private def peekExpr(blob: Column): Column =
    graft.functions.expressions.StateExpressions.account_peek_lookup(blob)

  /** J1: conditional code-hash lookup, the reference's per-row conditional
    * probe (erigon_extract.c:262-292) as a plan split: only rows whose
    * decoded codeHash is zero but incarnation ≠ 0 — contract rows that
    * genuinely need resolution, a small fraction of the changeset stream —
    * enter the left-outer join on (address, incarnation); everything else
    * bypasses it entirely and is unioned back. NOTFOUND keeps the original
    * hash.
    *
    * No hard `broadcast()` hint: on mainnet, PlainCodeHash is one row per
    * contract-incarnation (tens of millions of rows, GBs serialized), so an
    * unconditional broadcast is a driver/executor OOM at the 100 TB target.
    * With the probe side pre-filtered, the worst case is a shuffle of just
    * the needs-lookup subset; when PlainCodeHash is small (file statistics
    * below `spark.sql.autoBroadcastJoinThreshold`, or AQE's runtime size),
    * Spark still picks a broadcast hash join on its own.
    */
  def resolveCodeHash(accounts: DataFrame, plainCodeHash: DataFrame): DataFrame = {
    val needsLookup = col("codeHash") === zeros32 && col("incarnation") =!= 0
    val probe = accounts.filter(needsLookup)
    val pass = accounts.filter(!needsLookup)
    val resolved = probe
      .join(plainCodeHash.select(
          col("address").as("pch_address"),
          col("incarnation").as("pch_incarnation"),
          col("code_hash").as("pch_code_hash")),
        col("address") === col("pch_address") &&
          col("incarnation") === col("pch_incarnation"),
        "left_outer")
      .withColumn("codeHash", coalesce(col("pch_code_hash"), col("codeHash")))
      .drop("pch_address", "pch_incarnation", "pch_code_hash")
    pass.unionByName(resolved.select(pass.columns.map(col).toSeq: _*))
  }

  /** Decode an account-changeset table (block, address, account_blob) into
    * StateItem-shaped rows. Empty-code-hash is normalized to zeros before
    * the J1 probe, matching decode_account (erigon_extract.c:294-300).
    */
  def decodeAccounts(changeset: DataFrame, plainCodeHash: DataFrame): DataFrame = {
    val decoded = changeset
      .withColumn("d", decodeAccountExpr(col("account_blob")))
      .select(
        col("address"), col("block"),
        col("d.nonce").as("nonce"),
        when(col("d.codeHash") === lit(StateItem.EmptyCodeHash), zeros32)
          .otherwise(col("d.codeHash")).as("codeHash"),
        col("d.balance").as("balance"),
        col("d.incarnation").as("incarnation"))
    resolveCodeHash(decoded, plainCodeHash)
      .select(col("address"), col("block"), lit(false).as("isStorage"),
        col("nonce"), col("incarnation"), col("balance"), col("codeHash"),
        zeros32.as("slot"), zeros32.as("value"))
  }

  /** Decode a storage-changeset table (block, address, incarnation, slot,
    * value-trimmed) into StateItem-shaped rows (P2).
    */
  def decodeStorage(changeset: DataFrame): DataFrame =
    changeset.select(col("address"), col("block"),
      lit(true).as("isStorage"), lit(0L).as("nonce"), col("incarnation"),
      zeros32.as("balance"), zeros32.as("codeHash"), col("slot"),
      padValueExpr(col("value")).as("value"))

  /** Group key of the W1 window = compare_keys_except_block
    * (erigon_extract.c:2102-2129): accounts group per address; storage per
    * (address, incarnation, slot).
    */
  private def groupKeys: Seq[Column] = Seq(
    col("address"), col("isStorage"),
    when(col("isStorage"), col("incarnation")).otherwise(lit(0L)).as("gInc"),
    when(col("isStorage"), col("slot")).otherwise(zeros32).as("gSlot"))

  /** Full O1 sort key (erigon_extract.c:2131-2157). BinaryType ordering is
    * unsigned-lexicographic = the reference's memcmp.
    */
  def sortKeys: Seq[Column] = groupKeys :+ col("block")

  /** Decode + prune + union + group-key annotation — the shared front of
    * [[build]] and [[buildSkewTolerant]].
    */
  private def keyedUnion(accountChangeset: DataFrame,
                         storageChangeset: DataFrame,
                         plainCodeHash: DataFrame,
                         plainStateAccounts: DataFrame,
                         plainStateStorage: DataFrame,
                         latestBlock: Long,
                         blockStart: Long): DataFrame = {
    // F2 (-P prune, erigon_extract.c:2722-2726): keep only changesets from
    // blockStart on — applied BEFORE decode so the predicate reaches the
    // changeset scan (pushdown), exactly the reference's MDBX SET_RANGE
    val accCs =
      if (blockStart > 0) accountChangeset.filter(col("block") >= blockStart)
      else accountChangeset
    val stoCs =
      if (blockStart > 0) storageChangeset.filter(col("block") >= blockStart)
      else storageChangeset
    val accounts = decodeAccounts(accCs, plainCodeHash)
    val storage = decodeStorage(stoCs)

    val psAccounts = decodeAccounts(
      plainStateAccounts.withColumn("block", lit(latestBlock + 1L)),
      plainCodeHash)
    val psStorage = decodeStorage(
      plainStateStorage.withColumn("block", lit(latestBlock + 1L)))

    // J3 + O3: the reference's cursor interleave and k-way file merge are
    // both just "sorted union" relationally; one exchange covers both.
    accounts.unionByName(storage)
      .unionByName(psAccounts).unionByName(psStorage)
      .withColumn("gInc",
        when(col("isStorage"), col("incarnation")).otherwise(lit(0L)))
      .withColumn("gSlot",
        when(col("isStorage"), col("slot")).otherwise(zeros32))
  }

  private val outputCols = Seq(col("address"), col("isStorage"),
    col("incarnation"), col("slot"), col("valid_from_block"), col("nonce"),
    col("balance"), col("codeHash"), col("value"))

  /** RAW (pre-decode) prune + J1 + union front of [[build]] — same rows,
    * same group-key annotation as [[keyedUnion]], but the account blob and
    * the trimmed storage value ride UNDECODED, with the code-hash
    * resolution carried as a nullable `__pch` column instead of being
    * folded into a decoded `codeHash`.
    *
    * Why this exists (r21 guide §1.2/§2.2): `build`'s single range
    * exchange computes its partition bounds by SAMPLING ITS CHILD — a full
    * re-execution of the narrow segment below it, once per run. With the
    * decode in that segment (the old shape), the most expensive per-row
    * work of the flagship ran twice. Here the sampled segment is just the
    * scans + the allocation-free [[peekExpr]] J1 split (the peek returns
    * the probe's incarnation join key directly, so the split needs no
    * decoded fields), and the struct decode runs exactly once, AFTER the
    * exchange. The exchange also shuffles strictly fewer bytes: a ≤ ~80 B
    * blob instead of the decoded nonce/balance/codeHash columns, a
    * trimmed storage value instead of the padded 32 B one.
    *
    * Group keys never need the decode: accounts range on
    * (address, false, 0, zeros); storage on (address, true, incarnation,
    * slot) — all raw columns (the r21 "Not yet optimized" verification).
    */
  private def rawKeyedUnion(accountChangeset: DataFrame,
                            storageChangeset: DataFrame,
                            plainCodeHash: DataFrame,
                            plainStateAccounts: DataFrame,
                            plainStateStorage: DataFrame,
                            latestBlock: Long,
                            blockStart: Long): DataFrame = {
    val nullBin = lit(null).cast("binary")
    // the J1 split on the raw stream: peek ≠ 0 ⇔ the decoded row would
    // satisfy resolveCodeHash's needsLookup, and the peek value IS the
    // decoded incarnation, so the probe join is key-identical to the
    // decoded form's. NOTFOUND rows keep __pch null and fall back to the
    // post-exchange normalized hash (zeros, exactly as before).
    def accRaw(src: DataFrame): DataFrame = {
      val base = src.select(col("address"), col("block"),
        col("account_blob").as("__blob"),
        peekExpr(col("account_blob")).as("__peek"))
      val pass = base.filter(col("__peek") === 0L)
        .select(col("address"), col("block"), col("__blob"),
          nullBin.as("__pch"))
      val probe = base.filter(col("__peek") =!= 0L)
        .join(plainCodeHash.select(
            col("address").as("pch_address"),
            col("incarnation").as("pch_incarnation"),
            col("code_hash").as("pch_code_hash")),
          col("address") === col("pch_address") &&
            col("__peek") === col("pch_incarnation"),
          "left_outer")
        .select(col("address"), col("block"), col("__blob"),
          col("pch_code_hash").as("__pch"))
      pass.unionByName(probe)
        .select(col("address"), col("block"), lit(false).as("isStorage"),
          lit(0L).as("gInc"), zeros32.as("gSlot"), col("__blob"),
          nullBin.as("__rawv"), col("__pch"))
    }
    def stoRaw(src: DataFrame): DataFrame =
      src.select(col("address"), col("block"), lit(true).as("isStorage"),
        col("incarnation").as("gInc"), col("slot").as("gSlot"),
        nullBin.as("__blob"), col("value").as("__rawv"), nullBin.as("__pch"))
    // F2 prune before everything, as in keyedUnion (pushdown to the scan)
    val accCs =
      if (blockStart > 0) accountChangeset.filter(col("block") >= blockStart)
      else accountChangeset
    val stoCs =
      if (blockStart > 0) storageChangeset.filter(col("block") >= blockStart)
      else storageChangeset
    accRaw(accCs)
      .unionByName(stoRaw(stoCs))
      .unionByName(accRaw(
        plainStateAccounts.withColumn("block", lit(latestBlock + 1L))))
      .unionByName(stoRaw(
        plainStateStorage.withColumn("block", lit(latestBlock + 1L))))
  }

  /** The post-exchange decode of [[rawKeyedUnion]] rows into the exact
    * [[keyedUnion]] column set: a narrow projection that preserves the
    * range partitioning and the (gKeys, block) sort order (every key
    * column passes through untouched), so the W1 window still rides the
    * one exchange. Field semantics replicate [[decodeAccounts]] /
    * [[decodeStorage]] bit for bit: EmptyCodeHash normalizes to zeros
    * BEFORE the `__pch` coalesce (needs-lookup rows had normalized-zeros
    * hashes by definition, so NOTFOUND keeps zeros, exactly the old
    * coalesce), storage values left-zero-pad to 32 bytes.
    */
  private def decodeRaw(raw: DataFrame): DataFrame = {
    // two-level projection, NOT one inlined select: `__d` is referenced
    // from several (conditional) field expressions, and CollapseProject
    // keeps the non-cheap decode in its own lower projection, evaluated
    // once per row — the same shape decodeAccounts relied on. A single
    // select would inline account_decode into 4 CASE WHEN branches,
    // where codegen subexpression elimination cannot hoist it.
    val d = col("__d")
    val normHash =
      when(d.getField("codeHash") === lit(StateItem.EmptyCodeHash), zeros32)
        .otherwise(d.getField("codeHash"))
    raw.withColumn("__d", decodeAccountExpr(col("__blob"))).select(
      col("address"), col("isStorage"), col("gInc"), col("gSlot"),
      col("block"),
      when(col("isStorage"), lit(0L))
        .otherwise(d.getField("nonce")).as("nonce"),
      when(col("isStorage"), col("gInc"))
        .otherwise(d.getField("incarnation")).as("incarnation"),
      when(col("isStorage"), zeros32)
        .otherwise(d.getField("balance")).as("balance"),
      when(col("isStorage"), zeros32)
        .otherwise(coalesce(col("__pch"), normHash)).as("codeHash"),
      when(col("isStorage"), col("gSlot")).otherwise(zeros32).as("slot"),
      when(col("isStorage"), padValueExpr(col("__rawv")))
        .otherwise(zeros32).as("value"))
  }

  /** The merge stage (O3+W1+F3, erigon_extract.c:2290-2469) as a window over
    * the globally sorted union. `plainState*` rows carry the post-latest
    * state and get `latestBlock + 1` (the comparison-order adjustment at
    * erigon_extract.c:2373-2387).
    *
    * `shufflePartitions` sizes the range partitioner; at 100 TB this is the
    * knob that keeps each sorted partition within executor memory.
    *
    * This is [[buildFlagged]] without its [[NonAdvancing]] flag column;
    * the optimizer prunes the unused flag expression.
    */
  def build(spark: SparkSession,
            accountChangeset: DataFrame,
            storageChangeset: DataFrame,
            plainCodeHash: DataFrame,
            plainStateAccounts: DataFrame,
            plainStateStorage: DataFrame,
            latestBlock: Long,
            shufflePartitions: Int = 0,
            blockStart: Long = 0L): DataFrame =
    buildFlagged(spark, accountChangeset, storageChangeset, plainCodeHash,
      plainStateAccounts, plainStateStorage, latestBlock, shufflePartitions,
      blockStart).drop(NonAdvancing)

  /** Name of [[buildFlagged]]'s boolean anomaly column. */
  private[graft] val NonAdvancing = "non_advancing"

  /** [[build]]'s rows plus the boolean [[NonAdvancing]] column — SURVEY §5
    * mechanism 3, the reference's "Adjusted block number has not moved
    * backward" warning (erigon_extract.c:2426-2433), detected where the
    * reference detects it: in the merge stage, by the same LAG that
    * re-timestamps the row. A row is flagged when its adjusted block
    * (`valid_from_block`, the previous block of its group) equals its own
    * block, i.e. the same full key changed twice at one block. Genesis
    * rows (block 0, skipped silently by the reference, :2422-2425) and the
    * `latestBlock + 1` plain-state rows are never flagged, so the flags of
    * one conversion sum to [[nonAdvancingCountRaw]] of its changesets,
    * pruned or not. A writer counts the flags in the task that encodes the
    * row, so the telemetry costs no second pass over the changesets.
    */
  private[graft] def buildFlagged(spark: SparkSession,
                                  accountChangeset: DataFrame,
                                  storageChangeset: DataFrame,
                                  plainCodeHash: DataFrame,
                                  plainStateAccounts: DataFrame,
                                  plainStateStorage: DataFrame,
                                  latestBlock: Long,
                                  shufflePartitions: Int = 0,
                                  blockStart: Long = 0L): DataFrame = {
    val raw = rawKeyedUnion(accountChangeset, storageChangeset,
      plainCodeHash, plainStateAccounts, plainStateStorage, latestBlock,
      blockStart)
    val n = if (shufflePartitions > 0) shufflePartitions
            else graft.Sessions.shufflePartitions(spark)

    // ONE range exchange serves three consumers: it ranges on the GROUP key
    // (not the full sort key) so each W1 group lands wholly in one
    // partition — RangePartitioning(groupKeys) satisfies the window's
    // ClusteredDistribution(groupKeys), so the window adds no second
    // exchange — while sortWithinPartitions on the full O1 key makes the
    // output globally sorted AND satisfies the window's required ordering.
    // The exchange's child is the RAW union (rawKeyedUnion): its bounds
    // sampling re-executes only scans + the allocation-free peek, and the
    // struct decode (decodeRaw) runs exactly once, after the exchange —
    // a plain projection, so partitioning and sort order carry through.
    val gKeys = Seq(col("address"), col("isStorage"), col("gInc"),
      col("gSlot"))
    val sorted = raw
      .repartitionByRange(n, gKeys: _*)
      .sortWithinPartitions((gKeys :+ col("block")): _*)

    val w = Window.partitionBy(gKeys: _*).orderBy(col("block"))
    decodeRaw(sorted)
      .withColumn("valid_from_block", lag(col("block"), 1, 0L).over(w))
      // F3: genesis entries (first-in-group AND original block 0) are
      // dropped (erigon_extract.c:2422-2425)
      .filter(!(col("valid_from_block") === 0L && col("block") === 0L))
      .select((outputCols :+ (col("valid_from_block") === col("block") &&
        col("block") > 0L && col("block") <= latestBlock).as(NonAdvancing)): _*)
  }

  // ---- skew-tolerant W1 (SURVEY §7.4's acknowledged 100× risk) ----

  /** Internal row shape of the skew-tolerant fold. */
  private[pipeline] final case class KeyedRow(
      address: Array[Byte], block: Long, isStorage: Boolean, nonce: Long,
      incarnation: Long, balance: Array[Byte], codeHash: Array[Byte],
      slot: Array[Byte], value: Array[Byte], gInc: Long, gSlot: Array[Byte])

  private def sameGroup(a: KeyedRow, b: KeyedRow): Boolean =
    a.isStorage == b.isStorage && a.gInc == b.gInc &&
      java.util.Arrays.equals(a.address, b.address) &&
      java.util.Arrays.equals(a.gSlot, b.gSlot)

  /** [[build]] with HOT-KEY tolerance: identical output rows, but no
    * group is required to fit one partition.
    *
    * `build`'s window clusters each (address[,inc,slot]) group into a
    * single partition — the right plan when the largest group ≪ one
    * executor's share, but a mainnet-hot contract slot with 10⁸⁺ changes
    * becomes a straggler (or OOM) there, and an order-dependent LAG
    * cannot be salted. The standard fix is a RANGE-SPLIT SCAN WITH
    * BOUNDARY FIXUP, done here in three narrow steps:
    *
    *  1. range-partition by (groupKey, block) — a hot group SPLITS across
    *     consecutive partitions in block order; sortWithinPartitions
    *     gives the same global order as `build`;
    *  2. one narrow pass collects each partition's first group-key and
    *     last (group-key, block) — O(partitions) rows to the driver;
    *  3. one narrow fold computes LAG per partition, seeding each
    *     partition's FIRST row from its predecessor partition's last row
    *     when both belong to the same group (chunk-boundary patch).
    *
    * The frame is localCheckpoint'ed so steps 2 and 3 see the SAME
    * physical partitioning (range-partition sampling is
    * non-deterministic across jobs) — that materialization is the
    * documented price of hot-key tolerance; everything after it is
    * exchange-free. Output rows equal `build`'s exactly (PipelineSpec
    * asserts it, including on a planted hot key spanning partitions, and
    * p11 hash-checks it against p01's DuckDB oracle).
    */
  def buildSkewTolerant(spark: SparkSession,
                        accountChangeset: DataFrame,
                        storageChangeset: DataFrame,
                        plainCodeHash: DataFrame,
                        plainStateAccounts: DataFrame,
                        plainStateStorage: DataFrame,
                        latestBlock: Long,
                        shufflePartitions: Int = 0,
                        blockStart: Long = 0L): DataFrame = {
    import spark.implicits._
    val keyed = keyedUnion(accountChangeset, storageChangeset,
      plainCodeHash, plainStateAccounts, plainStateStorage, latestBlock,
      blockStart)
    val n = if (shufflePartitions > 0) shufflePartitions
            else graft.Sessions.shufflePartitions(spark)
    val splitKeys = Seq(col("address"), col("isStorage"), col("gInc"),
      col("gSlot"), col("block"))
    // pre-materialize before the range exchange (the r21 fold fix):
    // RangePartitioning's bounds sampling re-executes its child, so an
    // un-materialized keyed union pays the decode + J1 front TWICE per
    // build. This path already materializes eagerly (the documented
    // price of hot-key tolerance), so pinning one step earlier changes
    // nothing about the operator's contract; the pre-pin is released
    // the moment the range-partitioned checkpoint exists.
    val pre = keyed
      .select(col("address"), col("block"), col("isStorage"), col("nonce"),
        col("incarnation"), col("balance"), col("codeHash"), col("slot"),
        col("value"), col("gInc"), col("gSlot"))
      .localCheckpoint()
    val sorted = pre
      .repartitionByRange(n, splitKeys: _*)
      .sortWithinPartitions(splitKeys: _*)
      .as[KeyedRow]
      .localCheckpoint()
    org.apache.spark.sql.graftshim.Bridge.unpersistLocalCheckpoint(pre)

    // step 2: partition boundary digest (first/last row per partition)
    val bounds = sorted.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val first = it.next()
        var last = first
        while (it.hasNext) last = it.next()
        Iterator.single((pid, first, last))
      }
    }.collect().sortBy(_._1)

    // predecessor patch: partition p's first row continues the group of
    // the nearest NON-EMPTY partition before it iff same group key
    val seed: Map[Int, Long] = {
      val m = Map.newBuilder[Int, Long]
      var prev: Option[(Int, KeyedRow, KeyedRow)] = None
      bounds.foreach { case e @ (pid, first, _) =>
        prev.foreach { case (_, _, prevLast) =>
          if (sameGroup(prevLast, first)) m += pid -> prevLast.block
        }
        prev = Some(e)
      }
      m.result()
    }

    // step 3: per-partition LAG fold with the boundary seed
    sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var cur: KeyedRow = null
      var lastBlock = 0L
      var firstRow = true
      it.map { r =>
        val vf =
          if (firstRow) seed.getOrElse(pid, 0L)
          else if (sameGroup(cur, r)) lastBlock
          else 0L
        firstRow = false
        cur = r
        lastBlock = r.block
        (r, vf)
      }
    }.toDF("r", "valid_from_block")
      .select(col("r.address").as("address"), col("r.isStorage").as("isStorage"),
        col("r.incarnation").as("incarnation"), col("r.slot").as("slot"),
        col("valid_from_block"), col("r.nonce").as("nonce"),
        col("r.balance").as("balance"), col("r.codeHash").as("codeHash"),
        col("r.value").as("value"), col("r.block").as("__b"))
      .filter(!(col("valid_from_block") === 0L && col("__b") === 0L))
      .select(outputCols: _*)
  }

  /** Duplicate-full-key detection — the reference aborts on the first
    * duplicate (erigon_extract.c:2153-2155); we surface all of them so the
    * caller can assert emptiness or report.
    */
  def duplicateKeys(unioned: DataFrame): DataFrame =
    unioned.groupBy(sortKeys: _*).count().filter(col("count") > 1)

  /** The merged pre-LAG stream ([[build]]'s internal union) exposed for
    * telemetry probes — same inputs, same prune/decode/union front.
    */
  def mergedStream(accountChangeset: DataFrame,
                   storageChangeset: DataFrame,
                   plainCodeHash: DataFrame,
                   plainStateAccounts: DataFrame,
                   plainStateStorage: DataFrame,
                   latestBlock: Long,
                   blockStart: Long = 0L): DataFrame =
    keyedUnion(accountChangeset, storageChangeset, plainCodeHash,
      plainStateAccounts, plainStateStorage, latestBlock, blockStart)

  /** SURVEY §5 mechanism 3 telemetry — the reference's "Adjusted block
    * number has not moved backward" warning (erigon_extract.c:2426-2433):
    * a W1-adjusted block failing to advance means the SAME full key
    * changed twice at one block, i.e. adjusted (= LAG) == current. The
    * reference warns and still writes (abort commented out), but SKIPS
    * genesis entries silently before the warning fires (:2422-2425), so
    * block-0 duplicates are excluded here too. Count = Σ(n−1) over
    * duplicate (full key, block>0) groups of the merged stream — one
    * map-side-combining aggregate, no window needed.
    */
  def nonAdvancingCount(merged: DataFrame): Long = {
    val row = duplicateKeys(merged.filter(col("block") > 0L))
      .agg(coalesce(sum(col("count") - 1L), lit(0L))).collect()(0)
    row.getLong(0)
  }

  /** [[nonAdvancingCount]] from the RAW changeset tables — no decode, no
    * plainstate union (plainstate rows sit alone at latestBlock+1 and
    * cannot duplicate a changeset key): duplicate account
    * (address, block) pairs plus duplicate storage
    * (address, incarnation, slot, block) tuples, genesis and pre-prune
    * blocks excluded. Equal to the merged-stream count by construction
    * (account group key = (address); storage = (address, inc, slot);
    * the two tables cannot collide across the isStorage split —
    * PipelineSpec asserts the equality on a planted fixture): two
    * pushed-down key-column aggregates instead of a decode-and-union pass
    * over all five inputs. A standalone probe of a table set; a
    * conversion counts the same rows with [[buildFlagged]]'s flag
    * instead (CliSpec asserts the two agree, pruned and unpruned).
    */
  def nonAdvancingCountRaw(accountChangeset: DataFrame,
                           storageChangeset: DataFrame,
                           blockStart: Long = 0L): Long = {
    val minBlock = math.max(1L, blockStart)
    def dups(df: DataFrame, keys: Seq[Column]): Long =
      df.filter(col("block") >= minBlock)
        .groupBy(keys: _*).count().filter(col("count") > 1)
        .agg(coalesce(sum(col("count") - 1L), lit(0L))).collect()(0)
        .getLong(0)
    dups(accountChangeset, Seq(col("address"), col("block"))) +
      dups(storageChangeset, Seq(col("address"), col("incarnation"),
        col("slot"), col("block")))
  }

  /** The reference's flagship read path: state of `address` as of `block`
    * — an O(log N) page lookup there (README.md:36-41), a pruned sorted
    * lookup here.
    */
  def accountAsOf(history: DataFrame, address: Array[Byte],
                  block: Long): DataFrame =
    history
      .filter(col("address") === lit(address) && !col("isStorage") &&
        col("valid_from_block") <= block)
      .orderBy(col("valid_from_block").desc)
      .limit(1)

  /** Batch as-of join: resolve MANY (address, block) lookups in one pass —
    * the set form of [[accountAsOf]], as the UNION-window as-of plan:
    * interleave probes with history versions sorted per address by
    * (block, probe-after-version), then `last(..., ignoreNulls)` carries
    * the latest visible version forward into each probe row.
    *
    * Why not a join: `lookups ⋈ history ON addr = addr AND vf ≤ block`
    * materializes EVERY visible version per probe before the top-1 window
    * — O(probes × versions-per-address) intermediate rows, quadratic on
    * hot addresses at 100 TB. The union form is O(N + Q) rows through ONE
    * address-partitioned window, same single shuffle, no blow-up.
    *
    * Probes with no visible version come back with null state (the old
    * left-join semantics); repeated (address, block) probes each produce
    * their own row. Lookups must carry exactly (address, block).
    */
  def asOfJoinAccounts(history: DataFrame, lookups: DataFrame): DataFrame = {
    val h = history.filter(!col("isStorage")).select(
      col("address"), col("valid_from_block").as("__v"),
      lit(0).as("__probe"),
      col("nonce"), col("incarnation"), col("balance"), col("codeHash"))
    val p = lookups.select(
      col("address"), col("block").as("__v"),
      lit(1).as("__probe"),
      lit(null).cast("long").as("nonce"),
      lit(null).cast("long").as("incarnation"),
      lit(null).cast("binary").as("balance"),
      lit(null).cast("binary").as("codeHash"))
    // version at exactly block B is visible (vf ≤ B): versions sort
    // BEFORE probes on ties via __probe
    val w = Window.partitionBy(col("address"))
      .orderBy(col("__v"), col("__probe"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.unionByName(p)
      .select(col("address"), col("__v"), col("__probe"),
        last(col("nonce"), ignoreNulls = true).over(w).as("nonce"),
        last(col("incarnation"), ignoreNulls = true).over(w)
          .as("incarnation"),
        last(col("balance"), ignoreNulls = true).over(w).as("balance"),
        last(col("codeHash"), ignoreNulls = true).over(w).as("codeHash"),
        last(when(col("__probe") === 0, col("__v")), ignoreNulls = true)
          .over(w).as("valid_from_block"))
      .filter(col("__probe") === 1)
      .select(col("address"), col("__v").as("block"),
        col("valid_from_block"), col("nonce"), col("incarnation"),
        col("balance"), col("codeHash"))
  }

  /** Storage-slot form of [[asOfJoinAccounts]]: resolve many
    * (address, slot, block) probes in one pass via the same union-window
    * as-of plan, partitioned by (address, slot).
    */
  def asOfJoinStorage(history: DataFrame, lookups: DataFrame): DataFrame = {
    val h = history.filter(col("isStorage")).select(
      col("address"), col("slot"), col("valid_from_block").as("__v"),
      lit(0).as("__probe"), col("incarnation"), col("value"))
    val p = lookups.select(
      col("address"), col("slot"), col("block").as("__v"),
      lit(1).as("__probe"),
      lit(null).cast("long").as("incarnation"),
      lit(null).cast("binary").as("value"))
    val w = Window.partitionBy(col("address"), col("slot"))
      .orderBy(col("__v"), col("__probe"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.unionByName(p)
      .select(col("address"), col("slot"), col("__v"), col("__probe"),
        last(col("incarnation"), ignoreNulls = true).over(w)
          .as("incarnation"),
        last(col("value"), ignoreNulls = true).over(w).as("value"),
        last(when(col("__probe") === 0, col("__v")), ignoreNulls = true)
          .over(w).as("valid_from_block"))
      .filter(col("__probe") === 1)
      .select(col("address"), col("slot"), col("__v").as("block"),
        col("valid_from_block"), col("incarnation"), col("value"))
  }

  def storageAsOf(history: DataFrame, address: Array[Byte],
                  slot: Array[Byte], block: Long): DataFrame =
    history
      .filter(col("address") === lit(address) && col("isStorage") &&
        col("slot") === lit(slot) && col("valid_from_block") <= block)
      .orderBy(col("valid_from_block").desc)
      .limit(1)
}
