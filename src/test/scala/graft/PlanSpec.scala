package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Fixtures, FullHistory}

/** Plan-shape guards: the scale properties SURVEY.md §7 promises must be
  * visible in the physical plan, not just asserted in prose.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.withDefaults(SparkSession.builder())
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("q01: range predicate reaches the parquet scan (PushedFilters)") {
    val df = SparkEntry.queries("q01_range_filter")(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(l_orderkey,100"), plan.take(2000))
    // column pruning: the scan must not read all 11 lineitem columns
    assert(plan.contains("ReadSchema") &&
      !plan.contains("l_shipdate"), "scan reads pruned columns")
  }

  test("q03: small dimension join broadcasts (no shuffle join)") {
    val df = SparkEntry.queries("q03_lookup_join")(spark,
      "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), "dim join must not sort-merge")
  }

  test("q08: aggregation is partial (map-side combine before the shuffle)") {
    val df = SparkEntry.queries("q08_agg_counters")(spark,
      "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // partial_ aggregate functions upstream of the exchange
    assert(plan.contains("partial_count") || plan.contains("partial"),
      plan.take(2000))
  }

  test("J1 is a filtered probe: only needs-lookup rows enter the join, " +
      "no hard broadcast hint") {
    val w = Fixtures.generate(spark, nAddresses = 10, nBlocks = 30)
    val resolved = FullHistory.decodeAccounts(w.accountChangeset,
      w.plainCodeHash)
    // logical shape: the PlainCodeHash join sits under a Union whose other
    // branch bypasses it entirely (the reference's conditional probe,
    // erigon_extract.c:262-292, as a plan split)
    val logical = resolved.queryExecution.optimizedPlan.toString
    assert(logical.contains("Union"), logical.take(3000))
    resolved.count()
    val plan = resolved.queryExecution.executedPlan.toString
    // no ResolvedHint-forced broadcast: with a tiny parquet-backed dim the
    // optimizer still CHOOSES broadcast from file statistics, but the probe
    // side is pre-filtered so a large dim would fall back to a shuffled
    // join of just the needs-lookup subset instead of OOMing the driver
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("Union"), plan.take(3000))
    // the probe branch filters BEFORE the join (needs-lookup predicate on
    // the account side): incarnation≠0 must appear in a Filter/scan, not
    // in the join condition
    assert(plan.contains("NOT (") && plan.contains("incarnation"),
      plan.take(3000))
  }

  test("full-history plan: one range exchange, no window re-shuffle, broadcast J1") {
    val w = Fixtures.generate(spark, nAddresses = 10, nBlocks = 30)
    val h = FullHistory.build(spark, w.accountChangeset, w.storageChangeset,
      w.plainCodeHash, w.plainStateAccounts, w.plainStateStorage,
      w.latestBlock)
    h.count() // materialize so AQE finalizes the plan
    val plan = h.queryExecution.executedPlan.toString
    info(plan.linesIterator.take(40).mkString("\n"))
    val shuffles = plan.linesIterator.count(_.contains("Exchange rangepartitioning"))
    val hashShuffles = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1, s"expected exactly 1 range exchange\n$plan")
    assert(hashShuffles == 0, s"window must reuse the range exchange\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"J1 code-hash join must broadcast\n$plan")
    // r21: the range exchange SAMPLES its child to derive bounds (a full
    // re-execution of the narrow segment below it), so the struct decode
    // must sit ABOVE the exchange — its child carries only the raw blob
    // plus the allocation-free account_peek_lookup J1 split. A decode
    // below the exchange means the flagship pays the P1 kernel twice.
    val exec = h.queryExecution.executedPlan
    def find(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] =
      (p +: p.children.flatMap(find)) ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          find(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          find(q.plan)
        case _ => Nil
      })
    val rangeEx = find(exec).collectFirst {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
    }
    assert(rangeEx.isDefined, s"range exchange not found\n$plan")
    val below = rangeEx.get.child.toString
    assert(!below.contains("account_decode"),
      s"decode must run above the sampled range exchange\n$below")
    assert(below.contains("account_peek_lookup"),
      s"the J1 split below the exchange must use the raw peek\n$below")
    assert(plan.contains("account_decode"),
      s"decode missing from the plan entirely\n$plan")
  }

  test("ANN plans carry literal planes/centroids: no per-row xxhash64") {
    import org.apache.spark.sql.functions.col
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 3)
    for ((name, df) <- Seq(
        "lshTopK" -> graft.operators.Similarity.lshTopK(e, q, k = 5,
          nBits = 6),
        "ivfTopK" -> graft.operators.Similarity.ivfTopK(e, q, k = 5),
        "embeddingNearDup" -> graft.operators.Dedup.embeddingNearDup(e,
          threshold = 0.9, nBits = 6))) {
      val plan = df.queryExecution.optimizedPlan.toString
      // the seeded draws happen ON THE DRIVER now; an xxhash64 in the plan
      // means the interpreted per-row hashing regression came back
      assert(!plan.contains("xxhash64"),
        s"$name re-hashes per row:\n${plan.take(3000)}")
    }
  }

  test("PQ plans carry literal codebooks: no per-row hashing, and the " +
      "scan side of the ADC join carries codes, not embeddings") {
    import org.apache.spark.sql.functions.col
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 3)
    val books = graft.operators.Similarity.fitPqCodebooks(e, m = 4, k = 4)
    val df = graft.operators.Similarity.pqTopK(e, q, k = 5, books)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("xxhash64"), plan.take(3000))
    // code assignment must be plan literals (the codebook values appear
    // verbatim), not a re-derivation per row
    assert(plan.contains(books.head.head.head.toString.take(8)),
      "codebook literals missing from the plan")
  }

  test("SQ8/MaxSim plans: literal bounds (no corpus re-aggregation in " +
      "the query plan) and broadcast query sides") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 3)
    val (lo, hi) = graft.operators.Similarity.fitSqBounds(e)
    val sq = graft.operators.Similarity.sqTopK(e, q, 5, lo, hi)
    val sqPlan = sq.queryExecution.optimizedPlan.toString
    // training is a separate collected pass: the QUERY plan must carry
    // the bounds as literals, never a posexplode/min/max re-derivation
    assert(!sqPlan.contains("posexplode"),
      s"sq bounds re-derived per query:\n${sqPlan.take(3000)}")
    assert(sqPlan.contains(lo.head.toString.take(8)),
      "bound literals missing from the sq plan")
    val ms = graft.operators.Similarity.maxSimTopK(
      e.select((col("vec_id") / lit(4)).cast("long").as("doc"),
        col("embedding")),
      e.filter(col("vec_id") < 8)
        .select((col("vec_id") / lit(4)).cast("long").as("doc"),
          pmod(col("vec_id"), lit(4)).as("token_idx"), col("embedding")),
      k = 5)
    val msPlan = ms.queryExecution.sparkPlan.toString
    // queries are the broadcast side of the token join
    assert(msPlan.contains("Broadcast"),
      s"maxsim query side not broadcast:\n${msPlan.take(3000)}")
  }

  test("s14 two-stage plan: ANN candidates broadcast-prune the token " +
      "table before any token x token work, no cartesian product") {
    import org.apache.spark.sql.functions.{col, expr, lit, pmod}
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val dv = e.select(expr("vec_id DIV 8").as("doc"), col("embedding"))
    val qv = e.filter(expr("vec_id DIV 8") < 2)
      .select(expr("vec_id DIV 8").as("doc"),
        pmod(col("vec_id"), lit(8)).as("token_idx"), col("embedding"))
    val cls = e.filter(pmod(col("vec_id"), lit(8)) === 0)
      .select(expr("vec_id DIV 8").as("vec_id"), col("embedding"))
    val cents = graft.operators.Similarity.fitIvfCentroids(cls)
    val (lo, hi) = graft.operators.Similarity.fitSqBounds(cls)
    val cand = graft.operators.Similarity.ivfSqTopK(cls,
        cls.filter(col("vec_id") < 2), k = 20, cents, lo, hi)
      .select(col("query_id").as("qdoc"), col("neighbor_id").as("ddoc"))
    val two = graft.operators.Similarity.maxSimRescoreTopK(dv, qv, cand,
      k = 10)
    val plan = two.queryExecution.sparkPlan.toString
    // the candidate list and the query tokens are BOTH broadcast sides;
    // the corpus token table is probe-side only, and nothing in the
    // composed plan degenerates to a cartesian product
    assert(!plan.contains("CartesianProduct"),
      s"two-stage plan went cartesian:\n${plan.take(3000)}")
    assert(plan.split("BroadcastHashJoin").length >= 3,
      s"expected >=2 broadcast joins (candidates + query tokens):\n" +
        plan.take(3000))
  }

  test("l20: BM25 aggregations are partial (map-side combine) and " +
      "nothing wider than a token shuffles") {
    val df = SparkEntry.queries("l20_bm25_terms")(spark,
      "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"), plan.take(2000))
    // the full text column must never reach an exchange: only doc_id,
    // term, and counts shuffle. The FORMATTED explain lists each
    // operator's Input columns (Exchange lines in the tree dump print
    // only partitioning expressions, which would make a substring check
    // vacuous), so assert over the Exchange nodes' input schemas.
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val exchangeBlocks = fmt.split("\n\n")
      .filter(b => b.linesIterator.nextOption()
        .exists(l => l.matches("\\(\\d+\\) Exchange.*")))
    assert(exchangeBlocks.nonEmpty, "no Exchange nodes found in:\n" + fmt)
    for (b <- exchangeBlocks)
      assert(!b.contains("text#"), s"text column reached an exchange:\n$b")
  }

  test("corpus n-gram plan uses the one-pass kernel, not HOF re-tokenization") {
    import org.apache.spark.sql.functions.{col, explode}
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val df = docs.select(explode(
      graft.operators.TextAnalysis.tokenNgramsAll(col("text"), 2)))
    val plan = df.queryExecution.optimizedPlan.toString
    // the transform(sequence(...), i => slice(tokens, i, n)) form
    // re-evaluates the tokenization per n-gram index after projection
    // collapse (measured 2.5× on l19 at sf0.1); the kernel must stay
    assert(plan.contains("token_ngrams"), plan.take(2000))
    assert(!plan.contains("transform("),
      s"HOF n-gram formulation regressed:\n${plan.take(2000)}")
  }

  test("candidate pairs are materialized once (checkpointed), so the " +
      "candidate subtree cannot re-run per consumer") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 60)
    val out = graft.operators.Dedup.minhashLsh(docs, threshold = 0.5)
    val plan = out.queryExecution.optimizedPlan.toString
    // the pair frame enters the final plan as a checkpointed scan (three
    // consumers read the RDD, not three copies of the LSH band join)
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"),
      plan.take(3000))
    assert(!plan.toLowerCase.contains("minhash_sig"),
      s"signature kernel must not re-run inside the verify plan:\n${plan.take(3000)}")
  }

  test("l30: bloom probe filters the corpus grams BEFORE the exact join") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val out = graft.operators.TextAnalysis.contaminatedDocsBloom(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), n = 6)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"), plan.take(3000))
    // the probe must sit below the join: in the optimized plan string the
    // first Join appears before (= above) the might_contain filter
    val joinAt = plan.indexOf("Join")
    val probeAt = plan.indexOf("might_contain")
    assert(joinAt >= 0 && probeAt > joinAt,
      s"bloom probe not below the join:\n${plan.take(3000)}")
  }

  test("m07/l03: pigeonhole hamming join is an equi-join, never " +
      "all-pairs (no cartesian / broadcast nested loop)") {
    import spark.implicits._
    val hashes = (0L until 50L).map(i => (i, i * 0x9E3779B97F4A7C15L))
      .toDF("media_id", "phash")
    val out = graft.operators.Dedup.hammingNearDup(hashes, maxHamming = 3,
      idCol = "media_id", hashCol = "phash")
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in hamming plan:\n${plan.take(3000)}")
  }

  test("RangeJoinRewrite: a BETWEEN theta join auto-rewrites to a " +
      "bucketed equi-join under the conf, result-identical to naive") {
    import spark.implicits._
    if (!spark.experimental.extraOptimizations
          .contains(graft.plans.RangeJoinRewrite))
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.RangeJoinRewrite)
    val rnd = new scala.util.Random(13L)
    val points = (0 until 400).map(i =>
      (i.toLong, rnd.nextInt(50000).toLong)).toDF("p_id", "p_v")
    val intervals = (0 until 200).map { i =>
      val s0 = rnd.nextInt(50000).toLong
      (1000L + i, s0, s0 + rnd.nextInt(2000).toLong)
    }.toDF("iv_id", "s_v", "e_v")
    def run() = points.join(intervals,
        $"p_v" >= $"s_v" && $"p_v" <= $"e_v")
      .select($"p_id", $"iv_id")
    // the naive reference plan needs the rule explicitly OFF ("0"):
    // the conf DEFAULT is auto mode, which would bucket this join
    spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "0")
    val naive = run()
    naive.count()
    assert(naive.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin")) // what Catalyst does alone
    val expected = naive.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "1000")
    try {
      val rewritten = run()
      rewritten.count()
      val plan = rewritten.queryExecution.executedPlan.toString
      // the bucketed equi-join must exist (the giant-interval pass-
      // through branch is empty here but may still plan a nested loop)
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin") ||
        plan.contains("BroadcastHashJoin"),
        s"rewrite did not fire:\n${plan.take(3000)}")
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(got == expected,
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")

      // GIANT intervals (SCD-2 sentinel ends, span ≫ maxSpanBuckets)
      // must route through the pass-through branch — bounded plan, same
      // results — never a multi-million-element Sequence explosion
      val giants = (0 until 3).map(i =>
        (5000L + i, 0L, 40000000L)).toDF("iv_id", "s_v", "e_v")
      val mixed = intervals.unionByName(giants)
      def runMixed() = points.join(mixed,
          $"p_v" >= $"s_v" && $"p_v" <= $"e_v")
        .select($"p_id", $"iv_id")
      spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "0")
      val expMixed = runMixed().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "1000")
      val gotMixedDf = runMixed()
      val gotMixed = gotMixedDf.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotMixed == expMixed,
        s"missing=${(expMixed -- gotMixed).take(5)} extra=${(gotMixed -- expMixed).take(5)}")
      assert(gotMixedDf.queryExecution.optimizedPlan.toString
        .contains("Union"), "span split missing from the plan")

      // DATE domain (r10): Cast(date -> long) is illegal in Spark 4, so
      // the rule maps dates through datediff-from-epoch (DAYS) — the
      // SCD-2 shape. The rewrite must FIRE (width in days) and be
      // result-identical to naive.
      val dPoints = (0 until 50).map(i => (i.toLong,
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
          .plusDays(i)))).toDF("p_id", "d")
      val dIvs = (0 until 10).map(i => (100L + i,
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
          .plusDays(i * 5)),
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
          .plusDays(i * 5 + 6)))).toDF("iv_id", "s_d", "e_d")
      def runDates() = dPoints.join(dIvs,
          $"d" >= $"s_d" && $"d" <= $"e_d")
        .select($"p_id", $"iv_id")
      spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "0")
      val dExpected = runDates().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "7") // days
      val dJoin = runDates()
      dJoin.count()
      val dPlan = dJoin.queryExecution.executedPlan.toString
      assert(dPlan.contains("_graft_p_bucket"),
        s"date-domain rewrite did not fire:\n${dPlan.take(3000)}")
      val dGot = dJoin.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(dGot == dExpected,
        s"missing=${(dExpected -- dGot).take(5)} extra=${(dGot -- dExpected).take(5)}")

      // timestamp domain + equality key, written as PLAIN SQL the way a
      // user would (the q17 shape with no manual bucketing): the rule
      // must still fire (Cast(ts → long) is monotone; width in seconds)
      val ev = Tables(spark, "/root/testdata/sf0.001", "events")
      ev.createOrReplaceTempView("ev_rjr")
      spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf,
        (12L * 3600L).toString)
      val sqlJoin = spark.sql(
        """SELECT p.user_id, p.event_id AS purchase_id,
          |  c.event_id AS click_id
          |FROM ev_rjr p JOIN ev_rjr c ON c.user_id = p.user_id
          |  AND p.event_type = 'purchase' AND c.event_type = 'click'
          |  AND c.ts >= p.ts AND c.ts <= p.ts + interval 12 hours
          |""".stripMargin)
      sqlJoin.count()
      val sqlPlan = sqlJoin.queryExecution.executedPlan.toString
      assert(!sqlPlan.contains("BroadcastNestedLoopJoin") &&
        !sqlPlan.contains("CartesianProduct"),
        s"ts-domain rewrite did not fire:\n${sqlPlan.take(3000)}")
      val viaRule = sqlJoin.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "0")
      // independent expected set: the hand-bucketed q17 operator path
      val naiveTs = SparkEntry.queries("q17_interval_join")(spark,
          "/root/testdata/sf0.001").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(viaRule == naiveTs,
        s"missing=${(naiveTs -- viaRule).take(5)} extra=${(viaRule -- naiveTs).take(5)}")
    } finally spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "0")
  }

  test("RangeJoinRewrite auto mode: a CONF-FREE keyless BETWEEN join " +
      "derives its width from sampled spans and plans as a bucketed " +
      "equi-join — hostile user '_bucket' column, invalid conf, and " +
      "keyed joins all handled") {
    import spark.implicits._
    if (!spark.experimental.extraOptimizations
          .contains(graft.plans.RangeJoinRewrite))
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.RangeJoinRewrite)
    val rnd = new scala.util.Random(29L)
    val points = (0 until 300).map(i =>
      (i.toLong, rnd.nextInt(40000).toLong)).toDF("p_id", "p_v")
    // the interval table carries a user column literally named "_bucket"
    // (the r9 ADVICE adversarial case): recognition is metadata-based,
    // so the rewrite must still fire
    val intervals = (0 until 150).map { i =>
      val s0 = rnd.nextInt(40000).toLong
      (1000L + i, s0, s0 + 500L + rnd.nextInt(1000).toLong, i.toLong)
    }.toDF("iv_id", "s_v", "e_v", "_bucket")
    def run() = points.join(intervals,
        $"p_v" >= $"s_v" && $"p_v" <= $"e_v")
      .select($"p_id", $"iv_id")
    spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "0")
    val expected = run().collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    try {
      // conf UNSET = auto mode (the default): width is derived by the
      // sampling probe, no workload knowledge required
      spark.conf.unset(graft.plans.RangeJoinRewrite.WidthConf)
      graft.plans.RangeJoinProbeMetrics.reset()
      val auto = run()
      auto.count()
      // observability: the probe EXECUTED exactly once for this plan
      // shape, read a bounded sample, and no probe failed
      assert(graft.plans.RangeJoinProbeMetrics.fired.sum() == 1L,
        s"probe fired ${graft.plans.RangeJoinProbeMetrics.fired.sum()} " +
          "times for one new plan shape")
      assert(graft.plans.RangeJoinProbeMetrics.failed.sum() == 0L)
      val sampled = graft.plans.RangeJoinProbeMetrics.rowsRead.sum()
      assert(sampled > 0L && sampled <= 4096L,
        s"probe read $sampled rows — outside the bounded-sample contract")
      // a SECOND query with the same interval sub-plan re-optimizes but
      // must answer from the width cache: no second probe job
      val again = run()
      again.count()
      assert(graft.plans.RangeJoinProbeMetrics.fired.sum() == 1L,
        "re-optimizing the same shape re-fired the probe (cache miss)")
      assert(graft.plans.RangeJoinProbeMetrics.cacheHits.sum() >= 1L,
        "width cache hit not recorded on re-optimization")
      val plan = auto.queryExecution.executedPlan.toString
      // the bucketed equi-join must exist (the giant-interval pass-
      // through branch is empty here but may still plan a nested loop)
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin") ||
        plan.contains("BroadcastHashJoin"),
        s"auto rewrite did not fire:\n${plan.take(3000)}")
      assert(plan.contains("_graft_p_bucket"),
        s"bucket column missing — equi-join is not the derived bucketing:\n${plan.take(3000)}")
      val got = auto.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")

      // a join WITH an equi key is left alone in auto mode: Catalyst
      // already plans a hash/sort-merge join there, and auto-bucketing
      // it would re-plan every keyed interval join on a guessed width
      val keyedIv = intervals.withColumn("ik", $"iv_id" % 10)
      val keyedPts = points.withColumn("pk", $"p_id" % 10)
      val keyed = keyedPts.join(keyedIv,
          $"pk" === $"ik" && $"p_v" >= $"s_v" && $"p_v" <= $"e_v")
        .select($"p_id", $"iv_id")
      keyed.count()
      val keyedPlan = keyed.queryExecution.optimizedPlan.toString
      assert(!keyedPlan.contains("Generate") && !keyedPlan.contains("Union"),
        s"auto mode must not bucket a keyed join:\n${keyedPlan.take(3000)}")

      // a typo'd conf value must DISABLE the rule with a warning — not
      // throw NumberFormatException out of every optimization
      spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "12h")
      val disabled = run()
      val gotDisabled = disabled.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotDisabled == expected)
      assert(!disabled.queryExecution.optimizedPlan.toString
        .contains("Union"), "invalid conf value must disable the rewrite")
    } finally spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "0")
  }

  test("RangeJoinRewrite: INVERTED intervals (end < start) drop from " +
      "the bucketed branch — no Sequence crash, results equal naive " +
      "(which matches nothing for them)") {
    import spark.implicits._
    if (!spark.experimental.extraOptimizations
          .contains(graft.plans.RangeJoinRewrite))
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.RangeJoinRewrite)
    val points = (0 until 200).map(i =>
      (i.toLong, (i * 53L) % 10000L)).toDF("p_id", "p_v")
    val intervals = Seq(
      (1L, 100L, 2100L),   // normal
      (2L, 5000L, 100L),   // inverted ACROSS buckets (negative span)
      (3L, 950L, 920L),    // inverted WITHIN one bucket (span stays 1)
      (4L, 3000L, 3500L))  // normal
      .toDF("iv_id", "s_v", "e_v")
    def run() = points.join(intervals,
        $"p_v" >= $"s_v" && $"p_v" <= $"e_v")
      .select($"p_id", $"iv_id")
    spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "0")
    val expected = run().collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(expected.nonEmpty && !expected.exists(_._2 == 2L) &&
      !expected.exists(_._2 == 3L)) // inverted rows match nothing
    try {
      // fixed width AND auto mode must both survive the inverted rows
      for (conf <- Seq("1000", null)) {
        if (conf == null)
          spark.conf.unset(graft.plans.RangeJoinRewrite.WidthConf)
        else spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, conf)
        val got = run().collect().map(r => (r.getLong(0), r.getLong(1)))
          .toSet
        assert(got == expected, s"conf=$conf: " +
          s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
      }
    } finally spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "0")
  }

  test("RangeJoinRewrite converges under the injected-batch placement " +
      "(interleaved with pruning/folding rules that strip markers)") {
    import spark.implicits._
    // giant intervals force the pass-through branch whose marker column
    // ColumnPruning will strip — convergence must come from the
    // structural span-filter check, not the marker
    val points = (0 until 50).map(i =>
      (i.toLong, (i * 997L) % 50000L)).toDF("p_id", "p_v")
    val ivs = ((0 until 20).map { i =>
      val s0 = i * 2000L
      (100L + i, s0, s0 + 1500L)
    } ++ Seq((900L, 0L, 40000000L))).toDF("iv_id", "s_v", "e_v")
    val joined = points.join(ivs,
        $"p_v" >= $"s_v" && $"p_v" <= $"e_v")
      .select($"p_id", $"iv_id")
    spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "1000")
    try {
      val analyzed = joined.queryExecution.analyzed
      // throws on non-convergence (errorOnExceed): the real failure
      // mode would be one more Union layer per iteration
      val out = org.apache.spark.sql.graftshim.OptimizerHarness
        .runInterleaved(analyzed,
          org.apache.spark.sql.graftshim.OptimizerHarness
            .markerDestroyingRules :+ graft.plans.RangeJoinRewrite)
      val unions = out.collect { case u: org.apache.spark.sql.catalyst
          .plans.logical.Union => u }.size
      assert(unions == 1, s"expected exactly one span-split Union:\n$out")
    } finally spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "0")
  }

  test("RangeJoinRewrite leaves STREAMING joins untouched: st12 output " +
      "is unchanged with the conf set") {
    if (!spark.experimental.extraOptimizations
          .contains(graft.plans.RangeJoinRewrite))
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.RangeJoinRewrite)
    // expected set computed with the rule OFF (the conf's width units
    // are per-domain; only the streaming run needs it on)
    val batch = SparkEntry.queries("q17_interval_join")(spark,
        "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf,
      (12L * 3600L).toString)
    try {
      val streamed = SparkEntry.queries("st12_stream_interval_join")(
          spark, "/root/testdata/sf0.001").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
    } finally spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "0")
  }

  test("q17: interval join plans as a shuffled equi-join on " +
      "(keys, bucket) — no nested-loop, range check is a post-filter") {
    val df = SparkEntry.queries("q17_interval_join")(spark,
      "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"interval join fell back to nested loop:\n${plan.take(3000)}")
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("s17: the index scan carries the probed-cell IN literal as a " +
      "PARTITION filter — unprobed cell directories prune at plan " +
      "time, before any task launches") {
    val df = SparkEntry.queries("s17_indexed_ann")(spark,
      "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*cell[^\\]]*\\]".r
      .findFirstIn(plan)
    assert(pf.isDefined,
      s"no partition filter on the cell column:\n${plan.take(3000)}")
    assert(pf.get.contains("IN") || pf.get.contains("in("),
      s"partition filter is not the probed-cell IN literal: ${pf.get}")
  }

  test("q18: the full cube plans as ONE Expand over ONE scan — every " +
      "grouping set shares a single aggregate, not 2^n scans") {
    val df = SparkEntry.queries("q18_cube")(spark, "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), plan.take(2000))
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"cube must scan the table once:\n${plan.take(3000)}")
  }

  test("l39: passage dedup's first-occurrence window runs with " +
      "WindowGroupLimit pushdown (partial top-1 per map partition " +
      "before the passage exchange — skew-free) and no all-pairs join") {
    val df = SparkEntry.queries("l39_passage_dedup")(spark,
      "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"first-occurrence window lost the group-limit pushdown:\n${
        plan.take(3000)}")
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected Partial+Final WindowGroupLimit pair:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("l34: token chunking is a narrow per-row transform — zero " +
      "exchanges in the plan") {
    val out = graft.operators.TextAnalysis.chunkDocs(
      Tables(spark, "/root/testdata/sf0.001", "documents"))
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"chunking shuffled:\n${plan.take(3000)}")
    // '*(n)' operator prefixes = whole-stage-codegen stages in this
    // toString form
    assert(plan.contains("*("), plan.take(1000))
  }

  test("m08/m09: audio near-dup joins stay equi (pigeonhole), scene " +
      "detection stays narrow (no join, only the output sort exchanges)") {
    val m08 = SparkEntry.queries("m08_audio_fingerprint")(spark,
      "/root/testdata/sf0.001")
    m08.count()
    val p8 = m08.queryExecution.executedPlan.toString
    assert(!p8.contains("CartesianProduct") &&
      !p8.contains("BroadcastNestedLoopJoin"),
      s"m08 planned an all-pairs join:\n${p8.take(3000)}")
    val m09 = SparkEntry.queries("m09_scene_detect")(spark,
      "/root/testdata/sf0.001")
    m09.count()
    val p9 = m09.queryExecution.executedPlan.toString
    assert(!p9.contains("Join"), // frame walk is per-video, no pairing
      s"m09 plan contains a join:\n${p9.take(3000)}")
    val exchanges = "Exchange".r.findAllIn(p9).size
    assert(exchanges <= 2, // the entry's orderBy (+ AQE read) only
      s"m09 shuffles beyond the output sort ($exchanges):\n${p9.take(3000)}")
  }

  test("l35: heavy-hitter confirm pass is a BROADCAST join of the " +
      "sketch-sized candidate set — the corpus never shuffles wider " +
      "than candidate-filtered tokens") {
    val df = SparkEntry.queries("l35_heavy_hitters")(spark,
      "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate join not broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"sketch-sized candidates must never sort-merge:\n${plan.take(3000)}")
    // the candidate relation is driver-built (sketch-sized partials):
    // a LocalTableScan, not a corpus-derived subquery
    assert(plan.contains("LocalTableScan"), plan.take(3000))
    // partial aggregation below the exchange on the confirm groupBy
    assert(plan.contains("partial_count") || plan.contains("partial"),
      plan.take(3000))
  }

  test("s15: filtered ANN pushes the metadata predicate to the parquet " +
      "scan and keeps the cell equi-join") {
    val df = SparkEntry.queries("s15_filtered_ann")(spark,
      "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // the label predicate must reach the scan, not run post-join
    assert(plan.contains("PushedFilters:") && plan.contains("label"),
      s"label filter not pushed:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("st12: the streaming interval join runs as a state-store " +
      "symmetric hash join (the eviction-bound shape RangeJoinRewrite " +
      "must not restructure)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    implicit val sq = spark.sqlContext
    val clicks = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, m))
    purchases.addData((1L, 100L, ts(0)))
    clicks.addData((1L, 200L, ts(5)))
    val c = clicks.toDF().toDF("c_user", "click_id", "c_ts")
      .withWatermark("c_ts", "0 seconds")
    val p = purchases.toDF().toDF("p_user", "purchase_id", "p_ts")
      .withWatermark("p_ts", "0 seconds")
    val joined = c.join(p, expr(
      "c_user = p_user AND c_ts >= p_ts AND " +
        "c_ts <= p_ts + interval 12 hours"))
    val q = joined.select(col("p_user"), col("purchase_id"),
        col("click_id"))
      .writeStream.format("memory").queryName("planspec_st12")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val buf = new java.io.ByteArrayOutputStream
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        q.explain()
      }
      val plan = buf.toString("UTF-8")
      assert(plan.contains("StreamingSymmetricHashJoin"),
        s"streaming interval join lost its state-store shape:\n$plan")
      assert(spark.table("planspec_st12").count() == 1)
    } finally q.stop()
  }

  test("l36: concat-and-chunk packing computes the token-offset cumsum " +
      "with the two-phase fold — NO global Window (single-partition " +
      "trap) anywhere in the plan") {
    val df = SparkEntry.queries("l36_concat_chunk_pack")(spark,
      "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"global window leaked into the pack plan:\n${plan.take(3000)}")
    assert(plan.contains("partial"), // map-side combine on the seq agg
      plan.take(3000))
  }

  test("l27: CMS point queries evaluate distributively over the " +
      "exact-counts relation — no vocabulary-sized driver materialization") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val out = graft.operators.TextAnalysis.cmsTermCounts(docs)
    val plan = out.queryExecution.optimizedPlan.toString
    // the old shape collected the vocab and re-created it driver-side,
    // which shows up as a LocalRelation leaf; the distributed shape is
    // Aggregate → typed MapPartitions with the sketch as broadcast state
    assert(!plan.contains("LocalRelation"),
      s"vocab materialized on the driver:\n${plan.take(3000)}")
    assert(plan.contains("MapPartitions"), plan.take(3000))
    assert(plan.contains("Aggregate"), plan.take(3000))
  }

  test("l45/l47: the crawl-side text normalizers are ZERO-shuffle " +
      "narrow projections — no exchange anywhere in either plan") {
    import spark.implicits._
    val docs = (0 until 50).map(i =>
      (i.toLong, s"<p>line one is kept fine.</p>\nshort\nAnother " +
        s"good line number $i here.")).toDF("doc_id", "text")
    val html = graft.operators.TextAnalysis
      .htmlExtract(org.apache.spark.sql.functions.col("text"))
    val p45 = docs.select(org.apache.spark.sql.functions.col("doc_id"),
        html.as("text_out"))
      .queryExecution.executedPlan.toString
    assert(!p45.contains("Exchange"),
      s"htmlExtract shuffles:\n${p45.take(2000)}")
    val p47 = graft.operators.TextAnalysis.c4Clean(docs)
      .queryExecution.executedPlan.toString
    assert(!p47.contains("Exchange"),
      s"c4Clean shuffles:\n${p47.take(2000)}")
    // l48's report: exactly the ONE aggregate exchange, nothing else,
    // with a map-side partial before it
    val urls = docs.select(org.apache.spark.sql.functions.concat(
      org.apache.spark.sql.functions.lit("https://h.example/"),
      org.apache.spark.sql.functions.col("doc_id")).as("url"))
    val p48 = graft.operators.TextAnalysis
      .domainStats(urls, "url", Seq("blocked.example"))
      .queryExecution.executedPlan.toString
    assert(p48.split("Exchange").length - 1 == 1,
      s"domainStats should shuffle exactly once:\n${p48.take(2000)}")
    assert(p48.contains("partial"), p48.take(2000))
  }

  test("l52/l46/l48: the native text kernels stay inside whole-stage " +
      "codegen in a zero-exchange narrow plan") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    // range-based source: a local Seq would constant-fold the whole
    // projection into a LocalTableScan and there'd be no plan to pin
    val docs = spark.range(50).select(col("id").as("doc_id"),
      concat(lit("<p title=\"a>b\">Doc "), col("id"), lit("</p>"))
        .as("text"))
    // l52: structural extraction — narrow, codegen'd, no exchange
    val p52 = docs.select(col("doc_id"),
        graft.operators.TextAnalysis.htmlExtractStrict(col("text"))
          .as("t"))
      .queryExecution.executedPlan.toString
    assert(!p52.contains("Exchange"),
      s"htmlExtractStrict shuffles:\n${p52.take(2000)}")
    // "*(n)" is the compact-plan marker for a WholeStageCodegen span
    assert(p52.contains("*("),
      s"htmlExtractStrict fell out of codegen:\n${p52.take(2000)}")
    // l46 with percent normalization — still a narrow projection
    val urls = docs.select(concat(lit("https://E.org/%64oc/"),
      col("doc_id"), lit("?b=2&a=%31#f")).as("url"))
    val p46 = urls.select(graft.operators.TextAnalysis
        .normalizeUrl(col("url")).as("u"))
      .queryExecution.executedPlan.toString
    assert(!p46.contains("Exchange"),
      s"normalizeUrl shuffles:\n${p46.take(2000)}")
    // l53: PII counts + redaction — a narrow regexp chain, no exchange
    val p53 = graft.operators.TextAnalysis.piiRedact(docs)
      .queryExecution.executedPlan.toString
    assert(!p53.contains("Exchange"),
      s"piiRedact shuffles:\n${p53.take(2000)}")
    // l48's PSL resolution: one native node — a FILTER over the derived
    // domain column must not trigger the optimizer constraint-
    // propagation stall the HOF form had (pinned indirectly by the plan
    // staying codegen'd and exchange-free)
    val pPsl = urls.select(graft.operators.TextAnalysis
        .registeredDomainPsl(col("url")).as("d"))
      .filter(col("d") =!= "")
      .queryExecution.executedPlan.toString
    assert(!pPsl.contains("Exchange"),
      s"registeredDomainPsl shuffles:\n${pPsl.take(2000)}")
    assert(pPsl.contains("registered_domain_psl"),
      s"native node missing from plan:\n${pPsl.take(2000)}")
  }

  test("l54: robots evaluation broadcast-joins the rules and shuffles " +
      "exactly once (the longest-match aggregate) — the URL frame is " +
      "never repartitioned by host") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val urls = spark.range(1000).select(col("id").as("doc_id"),
      concat(lit("https://h"), col("id") % 7, lit(".example/p/"),
        col("id")).as("url"))
    val robots = (0 until 7).map(i =>
      (s"h$i.example", "User-agent: *\nDisallow: /p/\n"))
      .toDF("domain", "robots_txt")
    val plan = graft.operators.TextAnalysis
      .robotsFilter(urls, robots, "bot")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"rules must broadcast:\n${plan.take(2000)}")
    assert(plan.split("Exchange").length - 1 == 1,
      s"exactly one exchange (the doc_id aggregate) expected:\n" +
        plan.take(2000))
  }

  test("l55: the KMV k-th order statistic executes as a " +
      "WindowGroupLimit pair — each map partition forwards at most k " +
      "rows per source into the exchange") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = spark.range(2000).select(
      concat(lit("s"), col("id") % 4).as("source"),
      concat(lit("tok"), col("id"), lit(" tok"), col("id") * 7)
        .as("text"))
    // pin the un-materialized k-min fragment (kmvDistinct checkpoints
    // it, which hides the window from the result's executed plan)
    val plan = graft.operators.TextAnalysis
      .kmvKminRows(docs, 16, "source", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"k-th order statistic must push the limit into map partitions:\n" +
        plan.take(2500))
  }

  test("l57: KMV set algebra runs entirely on the sketch relation — " +
      "every pairwise join broadcasts, never a sort-merge join over " +
      "the k-min rows") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = spark.range(2000).select(
      concat(lit("s"), col("id") % 4).as("source"),
      concat(lit("tok"), col("id"), lit(" tok"), col("id") * 7)
        .as("text"))
    val plan = graft.operators.TextAnalysis
      .kmvIntersections(docs, k = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"sketch-relation joins must broadcast:\n${plan.take(2500)}")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast joins over the sketch relation:\n" +
        plan.take(2500))
  }

  test("l61: outlink extraction is one zero-exchange codegen'd " +
      "extract+explode+resolve stage") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val pages = spark.range(200).select(
      concat(lit("https://h"), col("id"), lit(".example/d/p.html"))
        .as("url"),
      concat(lit("<a href=\"/x/"), col("id"), lit("\">L</a>"))
        .as("html"))
    val plan = graft.operators.TextAnalysis.extractOutlinks(pages)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"extractOutlinks must not shuffle:\n${plan.take(2500)}")
    assert(plan.contains("*("),
      s"extractOutlinks fell out of codegen:\n${plan.take(2500)}")
    assert(plan.contains("html_links"),
      s"native kernel missing from plan:\n${plan.take(2500)}")
  }

  /** The l62 entry's arithmetic graph over doc ids 0 until `n`: every
    * doc id not divisible by 11 links to 13 hubs and a 101-node spread. */
  private def l62Edges(n: Long) = {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val d = spark.range(n).select(col("id").as("doc_id"))
      .filter(col("doc_id") % 11 =!= 0)
    d.select(concat(lit("n"), col("doc_id")).as("src"),
        concat(lit("n"), col("doc_id") % 13).as("dst"))
      .unionByName(d.select(concat(lit("n"), col("doc_id")).as("src"),
        concat(lit("n"), (col("doc_id") * 7 + 3) % 101).as("dst")))
  }

  test("l62: a PageRank iteration is two aggregates over the " +
      "adjacency-carrying node state — no hash, sort-merge or anti " +
      "join; the contribution sum partial-aggregates (hub in-degree " +
      "skew dies in map-side combine); the dangling scalar is the only " +
      "broadcast") {
    // the last iteration is returned unmaterialized over the
    // checkpointed setup state, so its plan IS the iteration's plan
    val plan = graft.operators.WebGraph
      .pageRank(l62Edges(2000), iterations = 1)
      .queryExecution.executedPlan.toString
    for (join <- Seq("BroadcastHashJoin", "ShuffledHashJoin",
        "SortMergeJoin", "LeftAnti"))
      assert(!plan.contains(join),
        s"$join inside the iteration:\n${plan.take(4000)}")
    assert(plan.contains("partial_sum"),
      s"contribution sum must partial-aggregate:\n${plan.take(4000)}")
    assert("BroadcastExchange".r.findAllIn(plan).size == 1 &&
      plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row dangling mass must be the only broadcast:\n" +
        plan.take(4000))
  }

  test("l62: pageRank over the l62 graph at 3 iterations runs an exact " +
      "number of Spark jobs") {
    def countJobs(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
      jobs.get()
    }
    val e = l62Edges(1000).localCheckpoint()
    val jobs = countJobs(graft.operators.WebGraph
      .pageRank(e, iterations = 3).collect())
    info(s"pageRank(l62 graph, 3 iterations): $jobs jobs")
    // a host-independent counter: the join-based step ran 35 here, so a
    // join, a broadcast or a checkpoint coming back moves this exactly
    assert(jobs == 17, s"pageRank job count moved: $jobs")
  }

  test("l63: anchor aggregation shuffles on dst_url only — the " +
      "count-distinct expands to a two-phase partial aggregate, " +
      "never a per-source repartition") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val links = spark.range(2000).select(
      concat(lit("https://s"), col("id"), lit(".example/")).as("src_url"),
      col("id").as("link_idx"),
      concat(lit("https://hub.example/p"), col("id") % 7).as("dst_url"),
      lit("hub.example").as("dst_host"),
      concat(lit("A"), col("id") % 3).as("anchor"))
    val plan = graft.operators.WebGraph.anchorText(links)
      .queryExecution.executedPlan.toString
    val hashEx = plan.split("Exchange hashpartitioning").length - 1
    assert(hashEx <= 2,
      s"expected at most the two count-distinct phases, got $hashEx:\n" +
        plan.take(2500))
    assert(plan.contains("partial"),
      s"aggregates must partial-combine:\n${plan.take(2500)}")
  }

  test("l68: ExactSubstr span removal partial-aggregates both support " +
      "phases and never cross-products — the gram-verdict join is an " +
      "equi-join on the gram key") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = spark.range(500).select(col("id").as("doc_id"),
      concat(lit("w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 tail"), col("id") % 7)
        .as("text"))
    val plan = graft.operators.Dedup.exactSubstrSpans(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"span removal must stay equi-join shaped:\n${plan.take(2500)}")
    assert(plan.contains("partial"),
      s"support counts must partial-aggregate:\n${plan.take(2500)}")
  }

  test("l64: a neighborhood sketch-growth iteration is ONE per-node " +
      "aggregation (partial kmin_longs dedups AND caps to k map-side, " +
      "one shuffle exchange) and joins sketch rows by dst " +
      "equi-join — never a cross product, never a second keyed pass " +
      "(the pre-r21 shape paid distinct + window + stats-groupBy " +
      "exchanges per radius)") {
    import org.apache.spark.sql.functions.{array, col, concat}
    val e = spark.range(2000).select(
        concat(org.apache.spark.sql.functions.lit("n"), col("id"))
          .as("src"),
        concat(org.apache.spark.sql.functions.lit("n"), col("id") % 101)
          .as("dst"))
      .localCheckpoint()
    val sketch = spark.range(500).select(
      concat(org.apache.spark.sql.functions.lit("n"), col("id"))
        .as("node"),
      array((col("id") * 2654435761L)).as("hs")).localCheckpoint()
    val plan = graft.operators.WebGraph.neighborhoodStep(e, sketch, 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("kmin_longs"),
      s"sketch merge must use the bounded k-min aggregate:\n" +
        plan.take(2500))
    assert(plan.toLowerCase.contains("partial"),
      s"sketch merge must partial-aggregate map-side:\n${plan.take(2500)}")
    val shuffles = "Exchange (?!SinglePartition)".r
      .findAllIn(plan.replace("BroadcastExchange", "BX")).size
    assert(shuffles == 1,
      s"sketch growth must pay exactly ONE shuffle exchange, " +
        s"got $shuffles:\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"sketch growth must stay an equi-join:\n${plan.take(2500)}")
  }

  test("l77: trained-langid narrow inference is ONE zero-exchange " +
      "codegen'd project over the scan — no explode, no join, no " +
      "aggregate; the whole K-class argmax runs inside the row") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import spark.implicits._
    val model = graft.operators.LangClassifier.train(
      Seq((0L, "aa", "the quick and the lazy"),
        (1L, "bb", "der schnelle und der faule"))
        .toDF("doc_id", "lang_true", "text"),
      langCol = "lang_true", dim = 64, epochs = 2)
    val docs = spark.range(500).select(col("id").as("doc_id"),
      concat(lit("some text "), col("id")).as("text"))
    val plan = graft.operators.LangClassifier
      .scoreUnitsNarrow(docs, model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"narrow langid must not shuffle:\n${plan.take(2500)}")
    assert(!plan.contains("Join") && !plan.contains("Aggregate") &&
      !plan.contains("Generate"),
      s"narrow langid must stay a per-row kernel:\n${plan.take(2500)}")
    assert(plan.contains("*("),
      s"narrow langid fell out of codegen:\n${plan.take(2500)}")
    assert(plan.contains("lang_argmax_units"),
      s"native kernel missing from plan:\n${plan.take(2500)}")
  }

  test("l78: main-content extraction is one codegen segment+feature " +
      "stage, a per-document window, and ONE reassembly aggregate — " +
      "no cartesian product, no extra exchange") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val pages = spark.range(300).select(
      concat(lit("https://h"), col("id"), lit(".example/")).as("url"),
      concat(lit("<p>one long enough paragraph body "), col("id"),
        lit(" with sufficient characters</p><p>x</p>")).as("html"))
    val plan = graft.operators.TextAnalysis.mainContent(pages)
      .queryExecution.executedPlan.toString
    assert(plan.contains("html_blocks") &&
      plan.contains("html_text_strict") && plan.contains("html_links"),
      s"kernels missing from plan:\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"mainContent must not cross-join:\n${plan.take(2500)}")
    // exchanges: the url window/groupBy partitioning (+ AQE reuse) —
    // never more than two distinct shuffle origins
    val exchanges = plan.linesIterator.count(l =>
      l.trim.startsWith("+- Exchange") || l.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"too many exchanges ($exchanges):\n" +
      plan.take(2500))
    assert(plan.contains("Window"),
      s"neighbor promotion must ride a window:\n${plan.take(2500)}")
  }

  test("l80: unigram-LM encode is a zero-exchange narrow kernel pass " +
      "— no explode, no join, no aggregate node; Viterbi runs inside " +
      "the row") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import spark.implicits._
    val model = graft.operators.TextAnalysis.unigramTrain(
      Seq((0L, "abab abab cdcd")).toDF("doc_id", "text"),
      vocabSize = 16, epochs = 2)
    val docs = spark.range(400).select(col("id").as("doc_id"),
      concat(lit("abab cdcd ab "), col("id")).as("text"))
    val plan = graft.operators.TextAnalysis
      .unigramEncodeCounts(docs, model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"unigram encode must not shuffle:\n${plan.take(2500)}")
    assert(!plan.contains("Generate") && !plan.contains("Join") &&
      !plan.contains("HashAggregate"),
      s"unigram encode must stay per-row:\n${plan.take(2500)}")
    assert(plan.contains("unigram_segment"),
      s"native kernel missing from plan:\n${plan.take(2500)}")
  }

  test("l83: unigram encode-to-ids is a zero-exchange narrow kernel " +
      "pass (the l80 shape on the whole document); l85's packing plans " +
      "exactly ONE exchange — the seq_idx reassembly — with no global " +
      "single-partition window") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import spark.implicits._
    val model = graft.operators.TextAnalysis.unigramTrain(
      Seq((0L, "abab abab cdcd")).toDF("doc_id", "text"),
      vocabSize = 16, epochs = 2)
    val docs = spark.range(400).select(col("id").as("doc_id"),
      concat(lit("abab cdcd ab "), col("id")).as("text"))
    val ids = graft.operators.TextAnalysis.unigramEncodeIds(docs, model)
    val plan = ids.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"id encode must not shuffle:\n${plan.take(2500)}")
    assert(!plan.contains("Generate") && !plan.contains("Join") &&
      !plan.contains("HashAggregate"),
      s"id encode must stay per-row:\n${plan.take(2500)}")
    assert(plan.contains("unigram_encode_ids"),
      s"native kernel missing from plan:\n${plan.take(2500)}")
    // packing: the localCheckpointed offsets side is pre-computed, so
    // the final plan's only exchange is the seq_idx aggregate; a global
    // Window would betray the single-partition cumsum trap
    val packed = graft.operators.TextAnalysis.packIdStream(
      ids, seqLen = 64)
    val pplan = packed.queryExecution.executedPlan.toString
    val nEx = "Exchange".r.findAllIn(pplan).length
    assert(nEx <= 1, s"packing must shuffle once ($nEx):\n" +
      pplan.take(2500))
    assert(!pplan.contains("Window"),
      s"no global window in the pack plan:\n${pplan.take(2500)}")
  }

  test("l91: langid + tokenizer stats compose in ONE narrow projection " +
      "— both kernels in the same stage, no doc-keyed join, only the " +
      "language-width aggregate exchanges") {
    import org.apache.spark.sql.functions.{col, concat, count, lit, size, sum}
    import spark.implicits._
    val labeled = Seq((0L, "en", "the quick fox"),
      (1L, "de", "der schnelle fuchs")).toDF("doc_id", "lang_true",
      "text")
    val lm = graft.operators.LangClassifier.train(labeled,
      langCol = "lang_true", dim = 256, epochs = 3)
    val um = graft.operators.TextAnalysis.unigramTrain(
      Seq((0L, "the quick fox der schnelle fuchs"))
        .toDF("doc_id", "text"), vocabSize = 32, epochs = 1)
    val docs = spark.range(300).select(col("id").as("doc_id"),
      concat(lit("the quick fox "), col("id")).as("text"))
    val toks = graft.operators.TextAnalysis.tokens(col("text"))
    val plan = docs.select(
        graft.operators.LangClassifier.langPredCol(lm, col("text"))
          .getField("lang_pred").as("lang_pred"),
        size(toks).cast("long").as("n_words"),
        graft.operators.TextAnalysis.unigramPieceCount(col("text"), um)
          .as("n_pieces"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("sw"),
        sum(col("n_pieces")).as("sp"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"no doc-keyed join:\n${plan.take(2500)}")
    val nEx = "Exchange".r.findAllIn(plan).length
    assert(nEx <= 1, s"only the language-width agg exchanges ($nEx):\n" +
      plan.take(2500))
    assert(plan.contains("lang_argmax_units") &&
      plan.contains("unigram_segment"),
      s"both kernels must sit in the one projection:\n${plan.take(2500)}")
  }

  test("m14: the embedding pair gate is two equi-joins (url-keyed, " +
      "text-keyed) + one in-row cosine — no cartesian product, no " +
      "broadcast nested loop, the score inside a projection") {
    import org.apache.spark.sql.functions.{array, col, concat, lit}
    import spark.implicits._
    val pairs = spark.range(200).select(
      concat(lit("http://x.example/p"), col("id")).as("src_url"),
      lit(0L).as("img_idx"),
      concat(lit("http://x.example/i"), col("id") % 10, lit(".bmp"))
        .as("img_url"),
      concat(lit("cap "), col("id")).as("text"))
    val imgEmb = spark.range(10).select(
      concat(lit("http://x.example/i"), col("id"), lit(".bmp"))
        .as("img_url"),
      array(lit(1.0f), col("id").cast("float")).as("img_vec"))
    val txtEmb = spark.range(200).select(
      concat(lit("cap "), col("id")).as("text"),
      array(col("id").cast("float"), lit(1.0f)).as("txt_vec"))
    val plan = graft.operators.Multimodal.pairEmbedGate(
        pairs, imgEmb, txtEmb, minScore = 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"equi-joins only:\n${plan.take(2500)}")
    assert(plan.contains("cosine_sim"),
      s"the score is the in-row kernel:\n${plan.take(2500)}")
  }

  test("l97: packed position/segment ids add ZERO exchanges over the " +
      "l85 pack plan — the metadata derives in-row from the boundary " +
      "markers") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val ids = (0 until 40).map { i =>
      (i.toLong, (0 until 5 + i % 3).map(j => j + 1).toArray)
    }.toDF("doc_id", "token_ids")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(
        df.queryExecution.executedPlan.toString).length
    val base = exchanges(
      graft.operators.TextAnalysis.packIdStream(ids, seqLen = 16))
    val withPos = exchanges(
      graft.operators.TextAnalysis.packIdStreamWithPositions(
        ids, seqLen = 16))
    assert(withPos == base,
      s"positions must not add an exchange: $withPos vs $base")
  }

  test("l103: the FIM transform adds ZERO exchanges over the encoded " +
      "frame — sentinel assembly is one narrow slice/concat projection") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val ids = (0 until 40).map { i =>
      (i.toLong, (0 until 5 + i % 3).map(j => j + 1).toArray)
    }.toDF("doc_id", "token_ids")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(
        df.queryExecution.executedPlan.toString).length
    val base = exchanges(ids.select(col("doc_id"), col("token_ids")))
    val fim = exchanges(graft.operators.TextAnalysis.fimTransform(ids))
    assert(fim == base,
      s"FIM must not add an exchange: $fim vs $base")
  }

  test("l105: token drift's top-k plans as TakeOrderedAndProject — " +
      "per-partition heaps + driver merge, never a global sort") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = (0 until 40).map(i => (i.toLong, s"tok$i common words"))
      .toDF("doc_id", "text")
    val df = graft.operators.TextAnalysis.tokenDrift(docs,
      col("doc_id") % 2 === 0)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$plan")
  }

  test("EXPLAIN.md covers every registry entry (a pinned section or an " +
      "inherits note) — doc completeness is a red test, not regen timing") {
    // three rounds running, entries landed near the regen boundary
    // leaked coverage (8 in r17, 2 in r18); the generator now refuses
    // to write a gap, and this spec holds the CHECKED-IN file to the
    // same bar so a hand-edit or stale regen fails here
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("EXPLAIN.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val missing = Explain.missingCoverage(doc, SparkEntry.queries.keys)
    assert(missing.isEmpty,
      s"EXPLAIN.md lacks a section or inherits note for: " +
        missing.mkString(", "))
  }

  test("Sessions.shufflePartitions: the numeric conf wins; Spark 4.1 " +
      "itself rejects a non-numeric set (typed conf), so the " +
      "defensive fallback is unreachable via spark.conf here — " +
      "pinned so the day that changes, this goes red (ADVICE r19)") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      assert(Sessions.shufflePartitions(spark) == 13)
      // the ADVICE scenario ("auto" from an adaptive deployment layer)
      // cannot even be SET through the session conf on 4.1.2 — the
      // typed entry throws at set time. The helper's toIntOption
      // fallback therefore guards conf layers this test can't reach
      // (conf providers, forks); pin the 4.1 behavior so a future
      // Spark that starts ACCEPTING non-numeric values here fails this
      // test and forces the fallback to be properly exercised.
      intercept[Exception] {
        spark.conf.set("spark.sql.shuffle.partitions", "auto")
      }
      assert(Sessions.shufflePartitions(spark) == 13,
        "rejected set must leave the previous numeric value in force")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("COVERAGE.md's §2.12 headline count equals the registry size — " +
      "the count can't lag a batch again (r19's one blemish: the text " +
      "said 209 at a 217-entry registry)") {
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("COVERAGE.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val re = "(\\d+) oracle-matched entries of (\\d+) total".r
    val m = re.findFirstMatchIn(doc).getOrElse(
      fail("COVERAGE.md lost its '<N> oracle-matched entries of <N> " +
        "total' headline — this spec pins that phrase"))
    val n = SparkEntry.queries.size
    assert(m.group(1).toInt == n && m.group(2).toInt == n,
      s"COVERAGE.md headline says ${m.group(1)} of ${m.group(2)}, " +
        s"registry has $n entries — update §2.12's count")
  }

  test("tokenDrift: a split with zero tokens on one side fails loudly " +
      "(raise_error), never a silent Infinity/NaN distribution") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = (0 until 10).map(i => (i.toLong, s"tok$i words here"))
      .toDF("doc_id", "text")
    // inA never matches — side A has zero tokens
    val ex = intercept[Exception] {
      graft.operators.TextAnalysis.tokenDrift(docs,
        col("doc_id") < 0).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("zero")),
      s"expected the loud zero-tokens error, got: ${msgs(ex)}")
  }
}
