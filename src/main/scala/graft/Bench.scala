package graft
object Bench {

  // DCE blackhole for the calibration probe (volatile: the JIT cannot
  // prove the spin result unused and elide the loop)
  @volatile private var probeSink: Long = 0L

  /** Fixed CPU-bound calibration probe: `threads` threads each running a
    * constant number of 64-bit mix rounds (murmur-style finalizer — pure
    * ALU, no memory traffic, no allocation), wall-clock timed. The WORK
    * is a compile-time constant, so the measured seconds vary only with
    * host conditions: on an idle machine the probe lands in a tight band;
    * under co-tenant load it inflates proportionally to the CPU time the
    * suite itself is losing. Run before AND after the suite and emitted
    * in the artifact, it makes host noise quantifiable FROM the artifact
    * — round-over-round comparisons should normalize query medians by
    * the calibration band instead of trusting raw totals (r5/r6 both
    * burned a judge rerun adjudicating 2x swings that were pure
    * contention).
    */
  private def spin(seed: Long, iters: Long): Long = {
    var x = 0x9E3779B97F4A7C15L ^ seed
    var i = 0L
    while (i < iters) {
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
      x ^= x >>> 29; x *= 0xC4CEB9FE1A85EC53L
      i += 1
    }
    x
  }

  private def calibrationProbe(threads: Int): Double = {
    val itersPerThread = 1L << 27 // ~134M mix rounds/thread, ~0.3s idle
    spin(1L, 1L << 20) // JIT-compile the loop outside the timed region
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => { probeSink ^= spin(t.toLong, itersPerThread) })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-ENTRY load probe: one single-thread fixed-work spin (~60 ms
    * idle) timed immediately before each entry's measured runs. The r11
    * episode this exists for: the driver bench flagged five entries at
    * 3.7–5.1x their pins while `budget_scale` read 1.027 — because the
    * full calibration probes run only BEFORE and AFTER the suite, a
    * co-tenant CPU burst in the MIDDLE of the run is invisible to them.
    * (The r11 flags formed a contiguous alphabetical window — l01..l16
    * elevated, fading at l17, plus an isolated m07 spike — the
    * signature of external bursts, not of entry code: l15/l16 are plain
    * documents groupBys sharing nothing with l02/l14, and the same
    * HEAD + same on-disk state re-measured at 1.0–1.3x pins.) A probe
    * taken NEXT TO each entry's runs makes mid-run contention a
    * recorded per-entry fact: the budget tripwire widens that entry's
    * allowance by the probe ratio, and the artifact's `load` map proves
    * the cause instead of narrating it.
    */
  private def loadProbe(): Double = {
    val t0 = System.nanoTime()
    probeSink ^= spin(0x5eedL, 1L << 24)
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-RUN memory/IO load probe — the spin probe's missing sense
    * (r18 VERDICT #3): the driver's l31–l33/m09 window had every wall
    * uniformly 3–11x with IDLE adjacent spin probes, because a pure-ALU
    * register loop cannot see IO or memory-bandwidth contention — the
    * tripwire confidently mis-flagged three entries, and the same
    * blindness would excuse a real IO regression's absence. Fixed work,
    * three legs: (a) a read-modify-write sweep over a 128 MiB long
    * array — far past L3, so each pass is DRAM traffic and inflates
    * under a co-tenant memory hog; (b) a re-read of the KB-sized
    * nation.parquet — page-cache/read latency, inflating under disk
    * pressure that leaves the ALU and DRAM legs idle. ~35 ms idle; the
    * budget tripwire takes the MAX of the spin and mem probe ratios,
    * so a uniform-elevation contention window reads as an excused
    * spike instead of N flags.
    *
    * KNOWN REMAINING BLIND SPOT — write/flush latency (the r19 idle5
    * window: st28, the suite's write-heaviest streaming entry, ran
    * uniformly 3x pin while both probes sat idle; it vanished in the
    * adjacent sweeps with identical code). A small fsync'd-write leg
    * was PROTOTYPED AND REJECTED: under a sustained `dd conv=fsync`
    * hog on the same filesystem it still read idle (ext4 commits a
    * small file's fsync independently of other files' dirty pages), so
    * it added ~15 ms/run without sensing the storm. Since r20 the
    * write-latency blind spot is covered OBSERVATIONALLY by the PSI
    * sample around each run (see [[psiIo]]) — adjudication of such a
    * window now reads the artifact's `psiio` value instead of costing
    * a full resweep; the BenchBudgets m19-pin comment records the
    * pre-PSI precedent.
    */
  private val memBuf = new Array[Long](1 << 24) // 128 MiB
  @volatile private var ioLegWarned = false
  private def memProbe(sfDir: String): Double = {
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 2) {
      var i = 0
      while (i < memBuf.length) {
        memBuf(i) = memBuf(i) * 0x9E3779B97F4A7C15L + i
        i += 1
      }
      pass += 1
    }
    val bytes =
      try java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$sfDir/nation.parquet"))
      catch { case e: java.io.IOException =>
        // a dead IO leg silently reduces this probe to the DRAM sweep —
        // the exact blind spot it exists to narrow. Warn ONCE so a sweep
        // whose sfDir is wrong/remote reads as "IO leg dead", not
        // "probes idle".
        if (!ioLegWarned) {
          ioLegWarned = true
          System.err.println(
            s"[bench] memProbe IO leg dead ($sfDir/nation.parquet: $e); " +
              "probe degrades to DRAM-only for this sweep")
        }
        Array.emptyByteArray
      }
    probeSink ^= memBuf(((t0 & 0x7FFFFF) | 1).toInt) + bytes.length
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-RUN IO-pressure sample — the probe family's write-latency sense
    * (r19 VERDICT #1). Every open flag in r19 — the driver's l43/l44
    * budget flags, two one-victim sweep transients (idle5 st28, idle7
    * p17), the judge's sweep-1 l102/m18 flags — was one class: a host
    * WRITE-latency storm that the ALU spin, the DRAM sweep, and the
    * cached read all miss (and that a small fsync'd-write leg,
    * prototyped and rejected, also missed — ext4 commits a small file's
    * fsync independently of other files' dirty pages). Linux PSI
    * measures the ACTUAL stall time instead of timing synthetic work:
    * `/proc/pressure/io`'s `some total` is cumulative microseconds in
    * which ≥1 runnable task was blocked on IO. Sampled immediately
    * before and after each measured run, (Δtotal/1e6)/wall is the
    * fraction of the run's wall the HOST spent IO-stalled — an entry's
    * own writes contribute a small steady baseline (pinned by the idle
    * sweeps), while a co-tenant write storm reads as a large excess.
    * Recorded in the artifact (`psiio` per-entry max, `psi_spikes` at
    * a provisional 0.5 stall-fraction threshold, per-run values in the
    * sidecar `runs` quints) AND — after a round of observational data
    * (two full r20 sweeps: idle suite ceiling 0.0206, fsync-hog 1.05 —
    * a ~50x separation) — folded into the budget tripwire's runScale
    * via BenchBudgets.RefPsiStall, pinned ABOVE the idle band so the
    * fold only engages under genuine host IO pressure. A write-heavy
    * entry's own steady stall cannot excuse a real regression: the
    * FRACTION (stall/wall) is rate-normalized, and the idle band sits
    * far below the reference. Returns (avg10, total_micros); None when
    * PSI is unavailable (non-Linux, CONFIG_PSI=n) — psiio then reads
    * 0.0 and `psi_available` in the artifact says so.
    */
  private def psiIo(): Option[(Double, Long)] =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get("/proc/pressure/io"))
        .asScala.find(_.startsWith("some ")).flatMap { line =>
          val kv = line.split("\\s+").drop(1).flatMap { tok =>
            tok.split("=", 2) match {
              case Array(k, v) => Some(k -> v)
              case _           => None
            }
          }.toMap
          for (a <- kv.get("avg10"); t <- kv.get("total"))
            yield (a.toDouble, t.toLong)
        }
    } catch { case _: Exception => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.envCpus
    // probe-only mode: print idle medians of both per-run probes (for
    // pinning RefLoadProbe/RefMemProbe) without touching Spark
    if (sys.env.contains("SPARK_GRAFT_PROBE_ONLY")) {
      spin(1L, 1L << 20); memProbe(sfDir) // JIT + first-touch page faults
      val ls = (1 to 15).map(_ => loadProbe()).sorted
      val ms = (1 to 15).map(_ => memProbe(sfDir)).sorted
      // PSI stall fraction over a fixed 500 ms window (same derivation
      // as the per-run sample: Δ some-total / wall)
      val psi = {
        val p0 = psiIo(); Thread.sleep(500); val p1 = psiIo()
        (for ((_, t0) <- p0; (_, t1) <- p1)
          yield (t1 - t0) / 1e6 / 0.5).getOrElse(-1.0)
      }
      println(f"""{"load_probe_median":${ls(7)}%.4f,"load_probe_min":${
        ls.head}%.4f,"mem_probe_median":${ms(7)}%.4f,"mem_probe_min":${
        ms.head}%.4f,"psi_stall_frac":$psi%.4f}""")
      return
    }
    val spark = Sessions.local(cpus)
    // self-calibration: fixed-work CPU probe before the suite (and again
    // after) so the artifact carries its own host-noise signal
    val calPre = calibrationProbe(cpus)
    // JVM/codegen warmup outside the timed region (otherwise the first
    // query pays ~4s of one-time session cost)
    spark.range(100000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    // synthetic-fixture generation is harness cost, not query cost
    graft.queries.PipelineQueries.warmFixtures(spark, sfDir)
    // compile the text-hash/LSH codegen once on a 20-row slice: generated
    // class compilation is O(1) per cluster session (cache-keyed by
    // source), amortized to zero at scale, so it doesn't belong in any
    // single query's number
    graft.operators.Dedup.minhashLsh(
      spark.read.parquet(s"$sfDir/documents.parquet").limit(20),
      threshold = 0.5).count()
    // median-of-3 per query: this VM's single-run times swing ±50%
    // (q01 0.2↔3 s observed round-to-round), so one sample cannot
    // attribute a regression to a plan change. The median absorbs one bad
    // run; the per-query spread (max-min of the 3) is reported alongside
    // so a genuinely noisy entry is visible as such.
    //
    // Each entry ALSO pays one un-measured warmup run first, with its
    // wall-clock recorded as `cold`. Rationale (the r10 l01/l34 episode):
    // in the driver's context — fresh target dir, cold page cache, cold
    // codegen/class caches — the FIRST execution of an entry can run
    // 3–6x its steady-state median, and when that cost leaks into a
    // measured run the per-entry budget tripwire fires on a phantom
    // regression. The warmup run absorbs every one-time cost (JIT,
    // generated-class compilation, fixture/golden cache builds, first
    // touch of the entry's parquet in the page cache), so the 3 measured
    // runs see the steady state a deployment sees; `cold`/median per
    // entry makes the one-time cost VISIBLE in the artifact, so a future
    // budget flag is self-diagnosing (cold≈median ⇒ real regression;
    // cold≫median ⇒ the entry is cold-start-sensitive and the flag would
    // have been a cold-cost artifact).
    val runsPer = 3
    spin(1L, 1L << 20) // JIT the probe loop before the first entry
    memProbe(sfDir) // JIT + fault in the probe buffer's 128 MiB once
    val results = SparkEntry.registry.keys.toSeq.sorted.map { name =>
      // a throwing query must be FLAGGED, not averaged in as a
      // near-instant success that makes the bench look faster
      var err: Option[String] = None
      def once(): Double = {
        val t0 = System.nanoTime()
        try SparkEntry.run(spark, sfDir, name)(_.df.count())
        catch { case e: Throwable =>
          err = Some(s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(120))
        }
        (System.nanoTime() - t0) / 1e9
      }
      val cold = once()
      // per-RUN load probe (r12 hardening): the r12 l36 flag was a
      // burst arriving AFTER a clean per-entry pre-probe — with a
      // probe immediately before EVERY measured run, each sample
      // carries its own contention reading, and the tripwire can
      // require that every run exceeded its own probe-scaled budget
      // (a co-tenant burst inflates SOME runs; a real plan regression
      // inflates ALL of them).
      val samples = (1 to runsPer).map { _ =>
        val lp = loadProbe(); val mp = memProbe(sfDir)
        // PSI around the run itself: Δ(some total)/wall = fraction of
        // the run's wall the host spent with ≥1 task IO-stalled
        val p0 = psiIo()
        val t = once()
        val p1 = psiIo()
        val psiStall = (for ((_, t0) <- p0; (_, t1) <- p1)
          yield (t1 - t0) / 1e6 / math.max(t, 1e-9)).getOrElse(0.0)
        val psiAvg10 = p0.map(_._1).getOrElse(0.0)
        (t, lp, mp, psiStall, psiAvg10)
      }
      val times = samples.map(_._1).sorted
      val median = times(runsPer / 2)
      val load = samples.map(_._2).max
      val memLoad = samples.map(_._3).max
      (name, median, times.last - times.head, err, cold, load, memLoad,
        samples)
    }
    val qs = results.map { case (k, m, _, _, _, _, _, _) =>
      s"\"" + k + "\":" + m }.mkString("{", ",", "}")
    val spreads = results.map { case (k, _, sp, _, _, _, _, _) =>
      s"\"" + k + "\":" + sp }.mkString("{", ",", "}")
    val colds = results.map { case (k, _, _, _, c, _, _, _) =>
      s"\"" + k + "\":" + f"$c%.4f" }.mkString("{", ",", "}")
    val loads = results.map { case (k, _, _, _, _, ld, _, _) =>
      s"\"" + k + "\":" + f"$ld%.4f" }.mkString("{", ",", "}")
    val memloads = results.map { case (k, _, _, _, _, _, mld, _) =>
      s"\"" + k + "\":" + f"$mld%.4f" }.mkString("{", ",", "}")
    // per-entry max IO-stall fraction (observational — see psiIo scaladoc)
    val psiios = results.map { case (k, _, _, _, _, _, _, samples) =>
      s"\"" + k + "\":" + f"${samples.map(_._4).max}%.4f"
    }.mkString("{", ",", "}")
    // Exception messages routinely contain newlines (AnalysisException
    // embeds plan fragments); control chars must be \u-escaped or the
    // one-line JSON contract breaks exactly when a query fails.
    def jstr(s: String): String = s.flatMap {
      case '\\'          => "\\\\"
      case '"'           => "\\\""
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }
    val errs = results.collect { case (k, _, _, Some(e), _, _, _, _) =>
      "\"" + k + "\":\"" + jstr(e) + "\"" }.mkString("{", ",", "}")
    val calPost = calibrationProbe(cpus)
    val calMean = (calPre + calPost) / 2.0
    val cal = f""""calibration_sec":$calMean%.4f,"calibration_pre_sec":$calPre%.4f,"calibration_post_sec":$calPost%.4f"""
    val total = results.map(_._2).sum
    // per-entry budget tripwire (BenchBudgets): flag an entry only when
    // EVERY measured run exceeds 2x the pinned idle median scaled by
    // max(suite calibration ratio, that run's OWN adjacent load-probe
    // ratio). Burst-robust by construction: a co-tenant CPU burst
    // inflates SOME runs (and/or their adjacent probes — either way
    // those runs stop flagging), while a genuine plan regression
    // inflates ALL runs under ALL probe readings. This closes the r12
    // l36 mode — a mid-ENTRY burst after a clean single pre-probe,
    // invisible to both the suite calipers and the old per-entry probe.
    // Telemetry only — rc stays 0 unless a query actually threw.
    val calScale = math.max(1.0,
      calMean / graft.BenchBudgets.RefCalibration)
    // each run's allowance widens by the WORST contention any probe saw
    // next to it — ALU spin (CPU steal), memory-sweep + file re-read
    // (DRAM bandwidth / read IO, the r18 blind spot), or the PSI
    // IO-stall fraction (write-latency storms, the r19 blind spot —
    // folded in r20 after a round of observational data; RefPsiStall
    // is pinned ABOVE the idle band, so the ratio only engages under
    // genuine host IO pressure and can never tighten an allowance).
    // The PSI term is CAPPED: its delta spans the run itself, so an
    // entry's own spill IO could otherwise buy an unbounded excuse
    // (BenchBudgets.PsiScaleCap has the full argument).
    def runScale(ld: Double, mld: Double, psi: Double): Double =
      math.max(calScale,
        math.max(ld / graft.BenchBudgets.RefLoadProbe,
          math.max(mld / graft.BenchBudgets.RefMemProbe,
            math.min(psi / graft.BenchBudgets.RefPsiStall,
              graft.BenchBudgets.PsiScaleCap))))
    // Absolute floor (r17 VERDICT #1): a sub-100 ms pin's 2x band is
    // narrower than ordinary run-context noise (scheduler wake-ups,
    // page-cache state — ±50 ms on a 33 ms wall), which produced one
    // false flag per round for three rounds (r15/r16 l43-precursor,
    // r16 l43, r17 l88 — each adjudicated idle-band-vs-driver-band, not
    // a plan change). The allowance is now max(Factor*pin, pin +
    // AbsFloorSec) so tiny entries need a REAL wall increase (≥150 ms
    // over pin on every run) to flag, while entries whose pin dwarfs
    // the floor keep the pure 2x tripwire unchanged.
    val exceeded = results.collect {
      case (k, m, _, None, _, _, _, samples)
          if graft.BenchBudgets.pinnedMedians.get(k)
            .exists { p =>
              val allowance = math.max(
                p * graft.BenchBudgets.Factor,
                p + graft.BenchBudgets.AbsFloorSec)
              samples.forall { case (t, lp, mp, ps, _) =>
                t > allowance * runScale(lp, mp, ps) } } =>
        k -> m
    }
    val budgetJson = exceeded.map { case (k, m) =>
      "\"" + k + "\":" + f"$m%.4f" }.mkString("{", ",", "}")
    // load spikes: entries where ANY run's adjacent probe ran > 2x the
    // pinned idle probe — mid-run contention, named per entry
    val loadSpikes = results.collect {
      case (k, _, _, _, _, ld, _, _)
          if ld > 2.0 * graft.BenchBudgets.RefLoadProbe => k
    }
    val loadSpikesJson =
      loadSpikes.map("\"" + _ + "\"").mkString("[", ",", "]")
    // mem/IO spikes: the contention class the spin probe can't see
    val memSpikes = results.collect {
      case (k, _, _, _, _, _, mld, _)
          if mld > 2.0 * graft.BenchBudgets.RefMemProbe => k
    }
    val memSpikesJson =
      memSpikes.map("\"" + _ + "\"").mkString("[", ",", "]")
    // IO-pressure spikes: ≥ half the run's wall spent host-IO-stalled on
    // ANY measured run. The threshold is PROVISIONAL (first round of PSI
    // data) and observational only — it names the write-storm windows the
    // other probes can't see; it does not scale any allowance yet.
    val psiSpikes = results.collect {
      case (k, _, _, _, _, _, _, samples)
          if samples.exists(_._4 > 0.5) => k
    }
    val psiSpikesJson =
      psiSpikes.map("\"" + _ + "\"").mkString("[", ",", "]")
    val psiAvailable = psiIo().isDefined
    val budget =
      s""""budget_exceeded":$budgetJson,"budget_scale":${f"$calScale%.4f"},"load_spikes":$loadSpikesJson,"mem_spikes":$memSpikesJson,"psi_spikes":$psiSpikesJson,"psi_available":$psiAvailable"""
    // cold-start outliers: entries whose warmup run cost > 2x their
    // steady-state median — the entries a cold-context harness would have
    // flagged before the per-entry warmup existed
    val coldOutliers = results.collect {
      case (k, m, _, None, c, _, _, _) if m > 0 && c > 2.0 * m => k
    }
    val coldOutliersJson =
      coldOutliers.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","runs_per_query":$runsPer,"warmup_runs_per_query":1,"aggregation":"median",$cal,$budget,"cold_outliers":$coldOutliersJson,"errors":$errs,"queries":$qs,"spread":$spreads,"cold":$colds,"load":$loads,"memload":$memloads,"psiio":$psiios,"sf":"$sfDir"}"""
    println(fullLine)
    // Per-run (wall, adjacent-probe) pairs for EVERY entry, sidecar-only
    // (r13 VERDICT #1): a budget flag's burst-vs-real adjudication needs
    // the individual runs, not just median/spread/max-probe — e.g. three
    // runs (2.6, 2.7, 2.6) with idle probes reads as a real regression,
    // while (0.9, 4.1, 2.9) with one hot probe reads as contention that
    // outlived its burst. ~10 KB at 159 entries: file-sized, not
    // stdout-tail-sized, so it joins the sidecar line only.
    val runsJson = results.map { case (k, _, _, _, _, _, _, samples) =>
      "\"" + k + "\":" + samples.map { case (t, lp, mp, ps, pa) =>
        f"[$t%.4f,$lp%.4f,$mp%.4f,$ps%.4f,$pa%.4f]" }
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val sidecarLine = fullLine.dropRight(1) + s""","runs":$runsJson}"""
    // Compact summary: a consumer that keeps only the tail of stdout (or
    // of the long line above) must still see MEDIANS — r3/r4 artifacts
    // captured only the trailing `spread` map and medians were misread as
    // spreads. Medians are rounded to 4dp to keep this line small.
    val maxMedian = results.map(_._2).maxOption.getOrElse(0.0)
    val qs4 = results.map { case (k, m, _, _, _, _, _, _) =>
      "\"" + k + "\":" + f"$m%.4f" }.mkString("{", ",", "}")
    println(s"""{"metric":"bench_summary","value":${f"$total%.4f"},"unit":"sec","n_queries":${results.size},"max_median":${f"$maxMedian%.4f"},"aggregation":"median",$cal,$budget,"cold_outliers":$coldOutliersJson,"errors":$errs,"queries":$qs4}""")
    // The registry outgrew tail-capture: at 94 entries even the 4dp
    // summary line is ~2.3 KB, and a harness that keeps the last ~1 KB of
    // stdout truncates the line's HEAD — an unparseable fragment
    // (BENCH_r07's `parsed: null`). Two-part fix: (a) the FULL artifact
    // persists to a sidecar file (machine-readable regardless of stdout
    // policy), and (b) the LAST stdout line is a scalars-only summary —
    // total, max, calibration band, error names, the 10 slowest medians,
    // and the sidecar path — sized to survive any plausible tail window
    // and parse as complete JSON.
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_SIDECAR",
      "target/bench_artifact.json")
    try {
      val p = java.nio.file.Paths.get(sidecar)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p,
        (sidecarLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: java.io.IOException =>
      System.err.println(s"[bench] sidecar write failed: $e") }
    val errNames = results.collect {
      case (k, _, _, Some(_), _, _, _, _) => k }
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val top10 = results.sortBy(-_._2).take(10).map {
      case (k, m, _, _, _, _, _, _) =>
        "\"" + k + "\":" + f"$m%.4f" }.mkString("{", ",", "}")
    println(s"""{"metric":"bench_scalars","value":${f"$total%.4f"},"unit":"sec","n_queries":${results.size},"max_median":${f"$maxMedian%.4f"},"aggregation":"median",$cal,"n_budget_exceeded":${exceeded.size},"n_load_spikes":${loadSpikes.size},"n_mem_spikes":${memSpikes.size},"n_psi_spikes":${psiSpikes.size},"n_cold_outliers":${coldOutliers.size},"n_errors":${results.count(_._4.isDefined)},"error_queries":$errNames,"slowest":$top10,"sidecar":"${jstr(sidecar)}","sf":"${jstr(sfDir)}"}""")
    spark.stop()
    // a broken query must not ride a green exit status: the errors map is
    // easy to miss in a 1.4 KB JSON line, rc != 0 is not
    if (results.exists(_._4.isDefined)) sys.exit(1)
  }
}
