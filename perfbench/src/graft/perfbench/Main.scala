package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark process entry point: one workload per JVM.
  *
  * {{{
  *   graft.perfbench.Main --workload archive_convert --seed 1 --seconds 12
  *     --trace 0 --launch-ms <epoch ms the process was spawned>
  *     --artifact out/run.json [--size full|tiny] [--plant-wrong 0|1]
  * }}}
  *
  * The last stdout line is the result object (correct / attempted /
  * failed / metrics); everything else (op samples, spans, listener counts,
  * CPU probes, part sizes) goes to the artifact file.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, launchMs: Long, artifact: String,
                        tiny: Boolean, plantWrong: Boolean)

  private def parse(a: List[String], m: Map[String, String]): Map[String, String] =
    a match {
      case k :: v :: t if k.startsWith("--") => parse(t, m + (k.drop(2) -> v))
      case Nil => m
      case bad => throw new IllegalArgumentException(s"bad arguments: $bad")
    }

  def main(argv: Array[String]): Unit = {
    val m = parse(argv.toList, Map.empty)
    val args = Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("launch-ms").toLong, m("artifact"),
      m.getOrElse("size", "full") == "tiny", m.getOrElse("plant-wrong", "0") == "1")
    val t0 = System.nanoTime()
    // the workload's pure driver-side input generation runs while the
    // session starts; both are set-up work
    val pre = new Thread(() => args.workload match {
      case "curate_full" => Corpus.of(args).pins
      case _ => World.simulate(args)
    })
    pre.start()
    val spark = session()
    pre.join()
    val ctx = new Ctx(spark, args, new Trace(spark.sparkContext, args.trace))
    ctx.layer("setup.session_s", (System.nanoTime() - t0) / 1e9, "s")
    val w: Workload = args.workload match {
      case "archive_convert" => new ArchiveConvert(ctx)
      case "curate_full" => new CurateFull(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try ctx.run(w)
    finally spark.stop()
  }

  /** One task slot and one shuffle partition, as the CLI runs with
    * SPARK_GRAFT_CPUS=1. On a 4-vCPU VM of a shared host, a task thread
    * per vCPU next to the JVM's own compiler and GC threads let one stolen
    * vCPU stall every stage (convert times doubled at 20 % steal), and a
    * convert takes about as long on one slot (README.md).
    */
  private def session(): SparkSession = {
    val work = new java.io.File(".").getCanonicalPath
    val s = graft.Sessions.withDefaults(SparkSession.builder())
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** A workload: inputs, warm-up, then ops until the deadline. */
trait Workload {
  def prepare(): Unit
  def warmup(): Unit
  def measure(deadlineNs: Long): Unit
  /** End-to-end metrics beyond setup_s/peak_rss_mb. */
  def endToEnd(): Unit
  /** Layer metrics of the traced run (after [[measure]]). */
  def layers(): Unit
}

/** Shared state of one benchmark process: session, trace, op accounting,
  * metric and diagnostic sinks.
  */
final class Ctx(val spark: SparkSession, val args: Main.Args,
                val trace: Trace) {
  private val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  private val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
  val diag = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L
  /** CPU seconds the program's threads spent in the last [[op]]'s `run`. */
  var lastCpuS = Double.NaN
  private var cpuTotalS = 0.0
  private val failures = mutable.ArrayBuffer[String]()

  def endToEnd(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)
  def diagnostic(name: String, json: String): Unit = diag(name) = json

  /** Run one op: time `run`, then evaluate `check` untimed. The op counts
    * as failed when either throws or the check returns false. Returns the
    * seconds `run` took, NaN when it threw; the CPU seconds the program's
    * threads spent in it are left in [[lastCpuS]].
    */
  def op(kind: String)(run: => Unit)(check: => Boolean): Double = {
    attempted += 1
    trace.op = attempted
    def guard(what: String)(b: => Boolean): Boolean =
      try b catch {
        case e: Exception =>
          note(s"$what #$attempted threw ${e.getClass.getSimpleName}: " +
            e.getMessage)
          false
      }
    val cpu = Stats.threadCpuNs()
    val t = System.nanoTime()
    val ran = guard(kind) { trace.span(kind)(run); true }
    val sec = (System.nanoTime() - t) / 1e9
    lastCpuS = Stats.cpuSince(cpu)
    cpuTotalS += lastCpuS
    val ok = ran && guard(s"$kind.check")(trace.span(s"$kind.check")(check))
    trace.op = -1L
    if (!ok) failed += 1
    if (ran) sec else Double.NaN
  }

  def note(failure: String): Unit = {
    if (failures.length < 50) failures += failure
    System.err.println(s"[perfbench] FAILED $failure")
  }

  /** Warm-up: run `op` (returning seconds) a fixed `n` times, so every
    * run does the same set-up work; the wall and CPU times go to the
    * artifact, where the flattening of the JIT curve can be read.
    */
  def warm(n: Int)(op: => Double): Unit = {
    val (wall, cpu) = (1 to n).map { _ =>
      val c = cpuTotalS
      val w = op
      (w, cpuTotalS - c)
    }.unzip
    diagnostic("warmup_s", Json.arr(wall.map(Json.num)))
    diagnostic("warmup_cpu_s", Json.arr(cpu.map(Json.num)))
  }

  /** Time `body` `reps` times, returning the median seconds. */
  def medianTime(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
    })

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(w: Workload): Unit = {
    val t0 = System.nanoTime()
    trace.span("setup.inputs")(w.prepare())
    val t1 = System.nanoTime()
    // warm-up ops are accounted like timed ones: a wrong answer during
    // warm-up fails the run too
    trace.span("setup.warmup")(w.warmup())
    val t2 = System.nanoTime()
    layer("setup.inputs_s", (t1 - t0) / 1e9, "s")
    layer("setup.warmup_s", (t2 - t1) / 1e9, "s")
    val setupS = (System.currentTimeMillis() - args.launchMs) / 1e3
    val cpuBefore = Stats.cpuProbe()
    val (steal0, jiffies0) = Stats.cpuJiffies()
    w.measure(t2 + (args.seconds * 1e9).toLong)
    val measuredS = (System.nanoTime() - t2) / 1e9
    val (steal1, jiffies1) = Stats.cpuJiffies()
    val cpuAfter = Stats.cpuProbe()
    endToEnd("setup_s", setupS, "s")
    endToEnd("peak_rss_mb", Stats.peakRssMb(), "MB")
    w.endToEnd()
    if (args.trace) w.layers()
    diagnostic("measured_s", Json.num(measuredS))
    diagnostic("host_steal_share", Json.num(
      (steal1 - steal0).toDouble / math.max(1L, jiffies1 - jiffies0)))
    diagnostic("cpu_probe_ms", Json.obj(Seq(
      "before" -> Json.num(cpuBefore), "after" -> Json.num(cpuAfter))))
    diagnostic("failures", Json.arr(failures.map(Json.str).toSeq))
    val metrics = if (args.trace) perLayer else e2e
    val result = Json.obj(Seq(
      "correct" -> (if (failed == 0 && attempted > 0) "true" else "false"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    writeArtifact(result)
    println(result)
  }

  private def writeArtifact(result: String): Unit = {
    val spans = trace.spans.toSeq.map { s =>
      Json.obj(Seq("name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "parent" -> s.parent.toString, "op" -> s.op.toString))
    }
    val body = Json.obj(Seq(
      "workload" -> Json.str(args.workload),
      "seed" -> args.seed.toString,
      "trace" -> (if (args.trace) "1" else "0"),
      "result" -> result,
      "end_to_end" -> Json.obj(e2e.toSeq.map { case (k, (v, _)) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(perLayer.toSeq.map { case (k, (v, _)) => k -> Json.num(v) }),
      "diagnostics" -> Json.obj(diag.toSeq),
      "spans" -> Json.arr(spans)))
    val p = java.nio.file.Paths.get(args.artifact)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Run time so far of every thread of this process but the JIT
    * compiler's, in ns by thread id: the main thread, Spark's task and
    * helper threads, and the garbage collector. Compilation is left out
    * because the JVM keeps compiling, more or less of it per op, long
    * after warm-up. Time the hypervisor gave this machine's CPUs to other
    * tenants is not in it: the kernel keeps steal out of a thread's run
    * time.
    */
  def threadCpuNs(): Map[Long, Long] = {
    def read(f: java.io.File): String =
      try new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      catch { case _: java.io.IOException => "" }
    val tasks = Option(new java.io.File("/proc/self/task").listFiles())
      .getOrElse(Array.empty[java.io.File])
    tasks.iterator
      .filterNot(t => read(new java.io.File(t, "comm")).contains("CompilerThre"))
      .flatMap { t =>
        read(new java.io.File(t, "schedstat")).split(" ").headOption
          .filter(_.nonEmpty).map(ns => t.getName.toLong -> ns.toLong)
      }.toMap
  }

  /** CPU seconds the threads alive now spent since the `before` snapshot
    * (all of it for a thread started since; a thread that ended since is
    * not counted).
    */
  def cpuSince(before: Map[Long, Long]): Double =
    threadCpuNs().iterator.map { case (id, ns) =>
      ns - before.getOrElse(id, 0L) }.sum / 1e9

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    val line = try f.getLines().find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    finally f.close()
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** (steal, total) jiffies over all CPUs from /proc/stat. Steal is time
    * the hypervisor gave this machine's CPUs to someone else: a host storm
    * during the timed phase shows up here.
    */
  def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    val v = try f.getLines().next().split("\\s+").drop(1).map(_.toLong)
    finally f.close()
    (if (v.length > 7) v(7) else 0L, v.sum)
  }

  /** Fixed single-threaded work (xorshift + multiply fold), in ms: read
    * before and after the timed phase, a host slowdown shows up here and
    * not only in the op times.
    */
  def cpuProbe(): Double = {
    val t = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x * 31
      i += 1
    }
    // consume the result so the loop cannot be optimized away
    if (acc == 42L) System.err.println("")
    (System.nanoTime() - t) / 1e6
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def counts(c: Counts): String = obj(Seq("jobs" -> c.jobs.toString,
    "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
    "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
    "spill_bytes" -> c.spillBytes.toString))
}
