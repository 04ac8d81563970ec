package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Cli
import graft.functions.Bytes
import graft.model.StateItem
import graft.pipeline.{Fixtures, FullHistory}
import graft.spark.{StateFiles, StateFormat}

/** The seeded chain world the archive workload starts from: the fixture
  * simulation's changeset/plain-state tables written to parquet under the
  * process's own working directory (never a shared cache, so every run
  * pays the same generation), plus its independent state-after-block
  * oracle.
  */
object World {
  /** (addresses, blocks) */
  def dims(args: Main.Args): (Int, Int) =
    if (args.tiny) (30, 200) else (160, 4000)

  /** Byte sizes of an archive's part files with this extension, by name. */
  def partSizes(dir: String, ext: String): Seq[Long] =
    new java.io.File(dir).listFiles().toSeq.filter(_.getName.endsWith(ext))
      .sortBy(_.getName).map(_.length)

  def simulate(args: Main.Args): Fixtures.Sim = {
    val (a, b) = dims(args)
    Fixtures.simulate(a, b, args.seed)
  }
}

final class World(ctx: Ctx) {
  val (nAddresses, nBlocks) = World.dims(ctx.args)
  val seed: Long = ctx.args.seed

  def generate(): String = {
    Fixtures.generate(ctx.spark, nAddresses, nBlocks, seed)
    Fixtures.cacheBase(nAddresses, nBlocks, seed)
  }

  /** Memoized: computed once, before the session is up. */
  def sim: Fixtures.Sim = World.simulate(ctx.args)

  /** Archive row counts the simulation predicts: one row per oracle entry
    * plus one pre-first-touch zero row per key.
    */
  def expectedCounts: (Long, Long) = {
    val s = sim
    (s.accountOracle.size.toLong + s.accountOracle.map(_.addressHex).distinct.size,
      s.storageOracle.size.toLong +
        s.storageOracle.map(o => (o.addressHex, o.slotHex)).distinct.size)
  }

  def dir(name: String): String =
    new java.io.File(name).getCanonicalPath

  def delete(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
}

/** `archive_convert`: one op = one full `Cli.convert` into a fresh
  * directory, checked by decoding the archive back. The traced run also
  * times the read path on a converted archive ([[AsOfReads]]).
  */
final class ArchiveConvert(ctx: Ctx) extends Workload {
  private val world = new World(ctx)
  private var tables = ""
  private var expected = (0L, 0L)
  private val opS = ArrayBuffer[Double]()
  private val opCpuS = ArrayBuffer[Double]()
  private val bytesPerItem = ArrayBuffer[Double]()
  private val partBytes = ArrayBuffer[Seq[Long]]()
  private val idxBytes = ArrayBuffer[Long]()
  private val itemsWritten = ArrayBuffer[Long]()
  private val opCounts = ArrayBuffer[Counts]()
  private val untracedS = ArrayBuffer[Double]()
  private var seq = 0

  def prepare(): Unit = {
    tables = world.generate()
    val (a, s) = world.expectedCounts
    expected = (if (ctx.args.plantWrong) a + 1 else a, s)
  }

  /** One convert op; returns its seconds. */
  private def convertOp(): Double = {
    val out = world.dir(s"convert/op-$seq")
    seq += 1
    val c0 = ctx.trace.counts
    val sec = ctx.op("convert")(Cli.convert(ctx.spark, tables, out))(check(out))
    if (ctx.trace.active) opCounts += ctx.trace.counts - c0
    world.delete(out)
    sec
  }

  private def check(out: String): Boolean = {
    val decoded = StateFiles.read(ctx.spark, out, 0).toDF()
      .groupBy(col("isStorage")).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val dA = decoded.getOrElse(false, 0L)
    val dS = decoded.getOrElse(true, 0L)
    val mA = StateFiles.manifestField(out, "accounts").getOrElse(-1L)
    val mS = StateFiles.manifestField(out, "storage_slots").getOrElse(-1L)
    val dat = World.partSizes(out, ".dat")
    partBytes += dat
    idxBytes += World.partSizes(out, ".idx").sum
    itemsWritten += mA + mS
    bytesPerItem += (dat.sum + idxBytes.last).toDouble / (mA + mS)
    val ok = dA == mA && dS == mS && (mA, mS) == expected
    if (!ok) ctx.note(s"convert counts: decoded ($dA, $dS), manifest " +
      s"($mA, $mS), simulation $expected")
    ok
  }

  /** Converts get faster for about ten ops in a fresh JVM, by a few
    * percent per op after the sixth (the artifact's `warmup_s` and `op_s`).
    */
  def warmup(): Unit = ctx.warm(7)(convertOp())

  def measure(deadlineNs: Long): Unit = {
    var i = 0
    while (System.nanoTime() < deadlineNs || (ctx.args.trace && i < 2)) {
      // a traced run alternates traced and untraced ops: the difference is
      // the tracing overhead
      ctx.trace.attach(i % 2 == 0)
      val t = convertOp()
      if (!t.isNaN && (ctx.trace.active || !ctx.args.trace)) {
        opS += t
        opCpuS += ctx.lastCpuS
      } else if (!t.isNaN) untracedS += t
      i += 1
    }
    ctx.trace.attach(true)
  }

  def endToEnd(): Unit = {
    ctx.endToEnd("op_cpu_ms", Stats.median(opCpuS.toSeq) * 1e3, "ms")
    ctx.diagnostic("op_s", Json.arr(opS.toSeq.map(Json.num)))
    ctx.diagnostic("op_cpu_s", Json.arr(opCpuS.toSeq.map(Json.num)))
    ctx.diagnostic("archive_bytes_per_item",
      Json.arr(bytesPerItem.toSeq.map(Json.num)))
    // range-partition bounds are sampled: identical converts differ in
    // part sizes, so these are recorded, never asserted
    ctx.diagnostic("part_bytes", Json.arr(partBytes.toSeq.map(p =>
      Json.arr(p.map(_.toString)))))
  }

  /** Layer self times as differences of timed prefixes of the convert
    * dataflow (Spark fuses the layers into shared stages), each the median
    * of three interleaved rounds, plus the listener counts of the traced
    * ops and the read path on a fresh archive.
    */
  def layers(): Unit = {
    val s = ctx.spark
    val latest = world.nBlocks.toLong
    val out = world.dir("convert/layers")
    // every prefix but the preflight reads its inputs afresh, as
    // Cli.convert does
    def t(name: String): DataFrame = s.read.parquet(s"$tables/$name")
    def history = FullHistory.build(s, t("account_changeset"),
      t("storage_changeset"), t("plain_code_hash"), t("plain_state_accounts"),
      t("plain_state_storage"), latest)
    def items = StateFormat.asItems(
      history.withColumnRenamed("valid_from_block", "block"))
    // the preflight's tables are opened (file listing, footers) outside
    // its timing: the write prefix opens them again, and Cli.convert opens
    // them once for both
    val (acc, sto) = (t("account_changeset"), t("storage_changeset"))
    val prefixes: Seq[(String, () => Unit)] = Seq(
      "preflight" -> (() => {
        acc.select(col("block")).unionByName(sto.select(col("block")))
          .agg(max(col("block"))).collect()
        FullHistory.nonAdvancingCountRaw(acc, sto, 0L)
      }),
      "decode" -> (() => ctx.noop(
        FullHistory.decodeAccounts(t("account_changeset"), t("plain_code_hash"))
          .unionByName(FullHistory.decodeStorage(t("storage_changeset"))))),
      "build" -> (() => ctx.noop(history)),
      "encode" -> (() => ctx.noop(StateFormat.encode(items, 0).toDF())),
      "write" -> (() =>
        StateFiles.write(items, out, 0, blockStart = 0L, blockEnd = latest)),
      "convert" -> (() => Cli.convert(s, tables, out)))
    // interleaved rounds, so JIT and host drift spread evenly over prefixes
    val times = prefixes.map(_._1 -> ArrayBuffer[Double]()).toMap
    for (_ <- 1 to 3; (name, run) <- prefixes) {
      val t0 = System.nanoTime()
      ctx.trace.span(s"prefix.$name")(run())
      times(name) += (System.nanoTime() - t0) / 1e9
      world.delete(out)
    }
    val Seq(pre, decode, build, encode, write, whole) =
      prefixes.map(p => Stats.median(times(p._1).toSeq))
    val convert = Stats.median(opS.toSeq)
    ctx.layer("cli.preflight_s", pre, "s")
    ctx.layer("pipeline.decode_s", decode, "s")
    ctx.layer("pipeline.history_s", build - decode, "s")
    ctx.layer("spark.encode_s", encode - build, "s")
    ctx.layer("spark.sink_s", write - encode, "s")
    // the layer self times sum to preflight + write; the whole convert is
    // timed in the same rounds, so this ratio shows what the layers miss
    ctx.layer("convert.layer_sum_ratio", (pre + write) / whole, "ratio")
    ctx.diagnostic("listener_counts_per_op", Json.arr(opCounts.toSeq.map(Json.counts)))
    val c = opCounts.last
    ctx.layer("convert.shuffle_write_mb", c.shuffleWriteBytes / 1048576.0, "MB")
    ctx.layer("convert.spill_mb", c.spillBytes / 1048576.0, "MB")
    ctx.layer("convert.stages", c.stages.toDouble, "count")
    ctx.layer("convert.tasks", c.tasks.toDouble, "count")
    ctx.layer("convert.items", itemsWritten.last.toDouble, "count")
    val parts = partBytes.last
    ctx.layer("convert.dat_mb", parts.sum / 1048576.0, "MB")
    ctx.layer("convert.idx_mb", idxBytes.last / 1048576.0, "MB")
    ctx.layer("convert_s", convert, "s")
    ctx.layer("archive_bytes_per_item", Stats.median(bytesPerItem.toSeq), "B")
    ctx.layer("trace.overhead_s",
      convert - Stats.median(untracedS.toSeq), "s")
    val archive = world.dir("archive")
    Cli.convert(s, tables, archive)
    new AsOfReads(ctx, world, archive).layers()
  }
}

/** The read path on a converted archive, timed in the traced run of
  * `archive_convert`: seeded point lookups through `Cli.asOf` in a closed
  * loop with one client (2:1 account:storage, keys and blocks uniform),
  * a batch as-of join (`FullHistory.asOfJoinAccounts` over
  * `StateFiles.read`) of a fixed probe set after every 20 lookups, and the
  * per-lookup split of build, plan and execute. Every answer is checked
  * against the simulation oracle.
  */
final class AsOfReads(ctx: Ctx, world: World, archive: String) {
  private val rnd = new scala.util.Random(ctx.args.seed * 7919L + 17L)
  private val pointsPerBatch = 20
  private val batchProbes = if (ctx.args.tiny) 50 else 2000

  /** Expected visible state of one probe: (valid_from, nonce, incarnation,
    * balance-or-value, code hash hex); storage probes carry nonce 0 and an
    * empty code hash.
    */
  private final case class Want(vf: Long, nonce: Long, inc: Long,
                                amount: Long, codeHash: String)
  private final case class Probe(address: String, slot: Option[String],
                                 block: Long)

  private val sim = world.sim
  // oracle entries come in block order per key
  private val accounts = sim.accountOracle.groupBy(_.addressHex)
    .map { case (k, v) => k -> v.toArray }
  private val slots = sim.storageOracle.groupBy(o => (o.addressHex, o.slotHex))
    .map { case (k, v) => k -> v.toArray }
  private val accountKeys = accounts.keys.toArray.sorted
  private val slotKeys = slots.keys.toArray.sorted
  private val batch =
    Iterator.continually(accountProbe()).distinct.take(batchProbes).toSeq
  private val lookups = {
    import ctx.spark.implicits._
    batch.map(p => (Bytes.unhex(p.address), p.block)).toDF("address", "block")
  }
  private val planted = if (ctx.args.plantWrong) batch.headOption else None
  private val zeroHash = "0" * 64

  private val pointS = ArrayBuffer[Double]()
  private val batchS = ArrayBuffer[Double]()

  private def accountProbe(): Probe =
    Probe(accountKeys(rnd.nextInt(accountKeys.length)), None,
      1L + rnd.nextInt(world.nBlocks))

  private def nextProbe(): Probe =
    if (rnd.nextInt(3) < 2) accountProbe()
    else {
      val (a, sl) = slotKeys(rnd.nextInt(slotKeys.length))
      Probe(a, Some(sl), 1L + rnd.nextInt(world.nBlocks))
    }

  /** The p03/p07 mapping: the oracle entry with the largest block at or
    * below the probe block, else the key's zero row valid from block 0.
    */
  private def want(p: Probe): Want = {
    val w = p.slot match {
      case None =>
        accounts(p.address).filter(_.block <= p.block).lastOption
          .map(a => Want(a.block, a.nonce, a.incarnation, a.balance, a.codeHashHex))
          .getOrElse(Want(0L, 0L, 0L, 0L, zeroHash))
      case Some(sl) =>
        val hist = slots((p.address, sl))
        hist.filter(_.block <= p.block).lastOption
          .map(o => Want(o.block, 0L, o.incarnation, o.value, ""))
          .getOrElse(Want(0L, 0L, hist.head.incarnation, 0L, ""))
    }
    if (planted.contains(p)) w.copy(nonce = w.nonce + 1) else w
  }

  private def got(i: StateItem): Want =
    if (i.isStorage) Want(i.block, 0L, i.incarnation, BigInt(1, i.value).toLong, "")
    else Want(i.block, i.nonce, i.incarnation, BigInt(1, i.balance).toLong,
      Bytes.hex(i.codeHash))

  private def matches(p: Probe, g: Option[Want], what: String): Boolean = {
    val w = want(p)
    val ok = g.contains(w)
    if (!ok) ctx.note(s"$what $p: got $g, oracle $w")
    ok
  }

  private def pointOp(p: Probe): Double = {
    var res: Option[StateItem] = None
    ctx.op("asof.point") {
      res = Cli.asOf(ctx.spark, archive, 0, p.address, p.block, p.slot)
    }(matches(p, res.map(got), "point"))
  }

  private def history: DataFrame = StateFiles.read(ctx.spark, archive, 0).toDF()
    .withColumnRenamed("block", "valid_from_block")

  private def batchOp(): Double = {
    var rows: Array[org.apache.spark.sql.Row] = Array.empty
    ctx.op("asof.batch") {
      rows = FullHistory.asOfJoinAccounts(history, lookups).collect()
    } {
      val byKey = rows.map { r =>
        (Bytes.hex(r.getAs[Array[Byte]]("address")), r.getAs[Long]("block")) ->
          Want(r.getAs[Long]("valid_from_block"), r.getAs[Long]("nonce"),
            r.getAs[Long]("incarnation"),
            BigInt(1, r.getAs[Array[Byte]]("balance")).toLong,
            Bytes.hex(r.getAs[Array[Byte]]("codeHash")))
      }.toMap
      rows.length == batch.length &&
        batch.forall(p => matches(p, byKey.get((p.address, p.block)), "batch"))
    }
  }

  /** One round of the closed loop: `pointsPerBatch` point lookups, then
    * one batch join.
    */
  private def round(record: Boolean): Unit = {
    val pts = (1 to pointsPerBatch).map(_ => pointOp(nextProbe()))
    val b = batchOp()
    if (record) {
      pointS ++= pts.filterNot(_.isNaN)
      if (!b.isNaN) batchS += b
    }
  }

  /** Warm-up rounds, then measured rounds, then the per-lookup build /
    * plan / execute split and engine counts over fresh probes (the lookup
    * query built exactly as `Cli.asOf` builds it), and the batch join's own
    * time as batch minus a full archive scan.
    */
  def layers(): Unit = {
    // batch answers must equal point answers on a shared probe subset
    batch.take(16).foreach(pointOp)
    (1 to 3).foreach(_ => round(record = false))
    (1 to 5).foreach(_ => round(record = true))
    ctx.diagnostic("point_ms", Json.arr(pointS.toSeq.map(t => Json.num(t * 1e3))))
    ctx.diagnostic("batch_s", Json.arr(batchS.toSeq.map(Json.num)))
    val s = ctx.spark
    val n = 40
    val build, plan, exec = ArrayBuffer[Double]()
    graft.spark.datasource.DatPageMetrics.reset()
    val c0 = ctx.trace.counts
    (1 to n).foreach { _ =>
      val p = nextProbe()
      val t0 = System.nanoTime()
      val base = StateFiles.read(s, archive, 0)
        .filter(col("address") === lit(Bytes.unhex(p.address)) &&
          col("block") <= p.block)
      val keyed = p.slot match {
        case Some(sl) => base.filter(col("isStorage") &&
          col("slot") === lit(Bytes.unhex(sl)))
        case None => base.filter(!col("isStorage"))
      }
      val q = keyed.orderBy(col("block").desc).limit(1)
      val t1 = System.nanoTime()
      q.queryExecution.executedPlan
      val t2 = System.nanoTime()
      q.collect()
      val t3 = System.nanoTime()
      build += (t1 - t0) / 1e6
      plan += (t2 - t1) / 1e6
      exec += (t3 - t2) / 1e6
    }
    val c = ctx.trace.counts - c0
    ctx.diagnostic("listener_counts_lookups", Json.counts(c))
    val m = graft.spark.datasource.DatPageMetrics
    ctx.layer("datasource.build_ms", Stats.median(build.toSeq), "ms")
    ctx.layer("datasource.plan_ms", Stats.median(plan.toSeq), "ms")
    ctx.layer("datasource.exec_ms", Stats.median(exec.toSeq), "ms")
    ctx.layer("datasource.pages_decoded_per_lookup", m.pagesDecoded.sum.toDouble / n, "count")
    ctx.layer("datasource.pages_skipped_per_lookup", m.pagesSkipped.sum.toDouble / n, "count")
    ctx.layer("asof.jobs_per_lookup", c.jobs.toDouble / n, "count")
    ctx.layer("asof.tasks_per_lookup", c.tasks.toDouble / n, "count")
    val scan = ctx.medianTime(3)(ctx.noop(history))
    val join = ctx.medianTime(3)(FullHistory.asOfJoinAccounts(history, lookups).collect())
    ctx.layer("datasource.scan_s", scan, "s")
    ctx.layer("pipeline.asof_window_s", join - scan, "s")
    ctx.layer("asof_point_p50_ms", Stats.median(pointS.toSeq) * 1e3, "ms")
    ctx.layer("asof_point_p90_ms", Stats.quantile(pointS.toSeq, 0.9) * 1e3, "ms")
    ctx.layer("asof_batch_s", Stats.median(batchS.toSeq), "s")
  }
}
