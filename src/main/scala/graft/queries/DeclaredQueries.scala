package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** One run of a declared query: the Spark DataFrame program's result
  * and the equivalent ANSI SQL the driver runs in DuckDB as its oracle.
  *
  * The oracle is evaluated after its own frame (Verify writes `df`, then
  * calls `oracle()` inside the same run, before the run's checkpoints are
  * released) and reads only what that run made: a thunk closes over the
  * exact values its frame used — fitted centroids, codebooks, bounds,
  * thresholds, the trained model, the near-dup pairs frame it collects —
  * or derives its literals deterministically from the sf dir. Building a
  * `Run` does no oracle work until `oracle()` is called.
  *
  * Column names in `df` MUST match the oracle SQL's column names exactly
  * (driver sorts columns by name before hashing). Every computed column
  * is therefore aliased identically on both sides, and every SUM of a
  * double is cast to DECIMAL(18,2) per-row (order-independent, bit-stable
  * across engines) and the aggregate re-cast to DECIMAL(18,2).
  */
final case class Run(df: DataFrame, oracle: () => String)

/** One declared query: builds its [[Run]] on a session and an sf dir. */
final case class QuerySpec(run: (SparkSession, String) => Run)

object QuerySpec {
  /** An entry whose oracle is fixed SQL. */
  def apply(fn: (SparkSession, String) => DataFrame, sql: String): QuerySpec =
    QuerySpec((s, dir) => Run(fn(s, dir), () => sql))
}

/** The reference-parity declared-query surface — SURVEY.md §2.12 Q1–Q12.
  * Each query exercises one operator class of the reference
  * (/root/reference/erigon_extract.c); citations in SURVEY.md §2.
  */
object DeclaredQueries {

  // Per-row quantize to 2 decimals (order-independent, engine-stable), then
  // back to double so Spark's parquet output type matches DuckDB's result
  // type exactly (decimal→double is correctly rounded in both engines).
  private def dec2(c: org.apache.spark.sql.Column) =
    c.cast("decimal(18,2)").cast("double")
  private def sum2(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** ONE copy of the 12 h attribution-window oracle, shared by q17 and
    * its streaming twin st12 — the "oracle-identical by construction"
    * contract is enforced by the shared constant, not by keeping two
    * string literals in sync.
    */
  private[queries] val attributionWindowOracleSql: String =
    """SELECT p.user_id, p.event_id AS purchase_id,
      |  c.event_id AS click_id
      |FROM events p JOIN events c ON c.user_id = p.user_id
      |  AND p.event_type = 'purchase' AND c.event_type = 'click'
      |  AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 12 HOUR
      |ORDER BY 1, 2, 3""".stripMargin

  val all: Map[String, QuerySpec] = Map(

    // Q1 — S2/F1 range-scan filter (MDBX SET_RANGE ≈ parquet pushdown).
    "q01_range_filter" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "lineitem")
          .filter($"l_orderkey".between(100, 1000))
          .select($"l_orderkey", $"l_linenumber", dec2($"l_quantity").as("qty"))
          .orderBy($"l_orderkey", $"l_linenumber")
      },
      """SELECT l_orderkey, l_linenumber,
        |CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty
        |FROM lineitem WHERE l_orderkey BETWEEN 100 AND 1000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Q2 — P1 projection + F4 predicate.
    "q02_project_predicate" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "orders")
          .filter($"o_totalprice" > 100000)
          .select($"o_orderkey", $"o_custkey", dec2($"o_totalprice").as("price"))
          .orderBy($"o_orderkey")
      },
      """SELECT o_orderkey, o_custkey,
        |CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders WHERE o_totalprice > 100000
        |ORDER BY o_orderkey""".stripMargin),

    // Q3 — J1 left-outer lookup join + coalesce
    // (code-hash probe, erigon_extract.c:262-292). nation is tiny → broadcast.
    "q03_lookup_join" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val c = Tables(s, dir, "customer")
        val n = Tables(s, dir, "nation")
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left_outer")
          .select($"c_custkey", coalesce($"n_name", lit("UNKNOWN")).as("nation"))
          .orderBy($"c_custkey")
      },
      """SELECT c_custkey, COALESCE(n_name, 'UNKNOWN') AS nation
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin),

    // Q4 — J2 sequence/equi join + per-group counts
    // (block→transactions join, erigon_extract.c:1934-1965).
    "q04_seq_join_agg" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val o = Tables(s, dir, "orders")
        val l = Tables(s, dir, "lineitem")
        o.join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy($"o_orderkey")
          .agg(count($"l_linenumber").as("ntx"),
               sum2($"l_extendedprice").as("total"))
          .orderBy($"o_orderkey")
      },
      """SELECT o_orderkey, COUNT(l_linenumber) AS ntx,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin),

    // Q5 — J3 ordered union-interleave (2-cursor changeset merge,
    // erigon_extract.c:1578-1594): unionByName + global sort.
    "q05_union_interleave" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val o = Tables(s, dir, "orders")
          .select($"o_orderdate".as("d"), $"o_orderkey".as("k"),
                  lit(0).as("is_storage"))
        val l = Tables(s, dir, "lineitem")
          .select($"l_shipdate".as("d"), $"l_orderkey".as("k"),
                  lit(1).as("is_storage"))
        o.unionByName(l).orderBy($"d", $"k", $"is_storage")
      },
      """SELECT * FROM (
        |SELECT o_orderdate AS d, o_orderkey AS k, 0 AS is_storage FROM orders
        |UNION ALL
        |SELECT l_shipdate, l_orderkey, 1 FROM lineitem)
        |ORDER BY d, k, is_storage""".stripMargin),

    // Q6 — O1/O2 multi-column global sort (transpose comparator,
    // erigon_extract.c:2102-2157).
    "q06_multi_sort" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "supplier")
          .select($"s_suppkey", $"s_nationkey", dec2($"s_acctbal").as("bal"))
          .orderBy($"s_nationkey", $"bal".desc, $"s_suppkey")
      },
      """SELECT s_suppkey, s_nationkey,
        |CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM supplier ORDER BY s_nationkey, bal DESC, s_suppkey""".stripMargin),

    // Q7 — W1 per-key LAG re-timestamping (erigon_extract.c:2409-2419),
    // the reference's changeset→valid-from semantics conversion.
    "q07_lag_retimestamp" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .select($"c_custkey", $"o_orderkey", $"o_custkey", $"o_orderdate")
          .withColumn("valid_from",
            coalesce(lag($"o_orderdate", 1).over(w),
                     lit("1970-01-01 00:00:00").cast("timestamp")))
          .select($"c_custkey", $"o_orderkey", $"valid_from")
          .orderBy($"c_custkey", $"o_orderkey")
      },
      """SELECT c_custkey, o_orderkey,
        |LAG(o_orderdate, 1, TIMESTAMP '1970-01-01 00:00:00')
        |  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_from
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_custkey, o_orderkey""".stripMargin),

    // Q8 — A1/A2 aggregation counters (erigon_extract.c:1627-1630, 1968-1972).
    "q08_agg_counters" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "lineitem")
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("cnt"),
               sum2($"l_quantity").as("qty"),
               sum2($"l_extendedprice").as("price"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // Q9 — A3/O1 duplicate-key detection (duplicate full key aborts the
    // reference, erigon_extract.c:2153-2155; here surfaced as a query).
    "q09_dup_detect" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "lineitem")
          .groupBy($"l_orderkey", $"l_linenumber")
          .agg(count(lit(1)).as("c"))
          .filter($"c" > 1)
          .orderBy($"l_orderkey", $"l_linenumber")
      },
      """SELECT l_orderkey, l_linenumber, COUNT(*) AS c
        |FROM lineitem GROUP BY l_orderkey, l_linenumber
        |HAVING COUNT(*) > 1 ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Q10 — F2 prune-to-tail filter (-P keeps last 90k blocks,
    // erigon_extract.c:2722-2726): scalar max then range filter.
    "q10_prune_tail" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val e = Tables(s, dir, "events")
        val maxTs = e.agg(max($"ts").as("max_ts"))
        e.join(broadcast(maxTs))
          .filter($"ts" >= $"max_ts" - expr("INTERVAL 7 DAY"))
          .select($"event_id", $"ts", $"user_id")
          .orderBy($"ts", $"event_id")
      },
      """SELECT event_id, ts, user_id FROM events
        |WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 7 DAY
        |ORDER BY ts, event_id""".stripMargin),

    // Q11 — O3 k-way merge as sorted union (erigon_extract.c:2290-2469).
    "q11_kway_merge" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val n = Tables(s, dir, "nation")
          .select($"n_nationkey".cast("bigint").as("k"), $"n_name".as("v"))
        val r = Tables(s, dir, "region")
          .select($"r_regionkey".cast("bigint").as("k"), $"r_name".as("v"))
        n.unionByName(r).orderBy($"k", $"v")
      },
      """SELECT * FROM (
        |SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS v FROM nation
        |UNION ALL
        |SELECT CAST(r_regionkey AS BIGINT), r_name FROM region)
        |ORDER BY k, v""".stripMargin),

    // Q12 — W2/A3 monotonicity guard via window (erigon_extract.c:2422-2433).
    "q12_monotonic_guard" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        Tables(s, dir, "events")
          .select($"user_id", $"event_id", $"ts")
          .withColumn("prev_ts", lag($"ts", 1).over(w))
          .orderBy($"user_id", $"ts", $"event_id")
      },
      """SELECT user_id, event_id, ts,
        |LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |FROM events ORDER BY user_id, ts, event_id""".stripMargin),

    // Q13 — X-scale skew handling: two-phase SALTED aggregation must equal
    // the plain aggregate (the oracle runs the plain SQL). Values are
    // quantized to decimal per-row so both phases sum exactly.
    "q13_salted_agg" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        graft.operators.Skew.saltedAgg(Tables(s, dir, "events"),
            $"user_id", $"value".cast("decimal(18,2)"), salts = 8)
          .select($"k".as("user_id"), $"n",
            $"total".cast("double").as("total"))
          .orderBy($"user_id")
      },
      """SELECT user_id, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Q14 — grouping sets: ROLLUP over the A1 counters (SURVEY §2.5 marks
    // hash-agg variants as Spark-built-in; proven against the oracle).
    "q14_rollup" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "lineitem")
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("cnt"), sum2($"l_quantity").as("qty"))
          .orderBy($"l_returnflag".asc_nulls_first,
            $"l_linestatus".asc_nulls_first)
      },
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST""".stripMargin),

    // CUBE — q14's rollup widened to all 2^n grouping sets, with
    // grouping_id() disambiguating a rollup NULL from NULL data (the
    // standard-SQL bit order both engines share: first column = MSB).
    // One Expand + one hash aggregate: Spark plans every grouping set
    // in a single shuffle, not 2^n scans.
    "q18_cube" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "lineitem")
          .cube($"l_returnflag", $"l_linestatus")
          .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
            sum2($"l_quantity").as("qty"))
          .select($"l_returnflag", $"l_linestatus", $"gid", $"cnt", $"qty")
          .orderBy($"gid", $"l_returnflag".asc_nulls_first,
            $"l_linestatus".asc_nulls_first)
      },
      """SELECT l_returnflag, l_linestatus,
        |CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |COUNT(*) AS cnt,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST""".stripMargin),

    // Q15 — set operations beyond UNION (SURVEY §2.7 ⊘-builtin):
    // INTERSECT and EXCEPT in one result.
    "q15_set_ops" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val c = Tables(s, dir, "customer")
          .select($"c_nationkey".cast("int").as("k"))
        val sup = Tables(s, dir, "supplier")
          .select($"s_nationkey".cast("int").as("k"))
        c.intersect(sup).withColumn("op", lit("intersect"))
          .unionByName(c.except(sup).withColumn("op", lit("except")))
          .orderBy($"op", $"k")
      },
      """SELECT * FROM (
        |SELECT k, 'intersect' AS op FROM
        |  (SELECT c_nationkey AS k FROM customer
        |   INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT k, 'except' AS op FROM
        |  (SELECT c_nationkey AS k FROM customer
        |   EXCEPT SELECT s_nationkey FROM supplier))
        |ORDER BY op, k""".stripMargin),

    // Q16 — the SKEWED-JOIN rewrite (Skew.saltedJoin): probe side salted,
    // build side exploded ×salts, join on (key, salt). The oracle is the
    // PLAIN equi-join — proving the rewrite is result-identical, which is
    // the whole point (same rows, hot key spread over `salts` tasks; the
    // hot-address shape of erigon_extract.c's popular contracts at 100×).
    "q16_salted_join" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        graft.operators.Skew.saltedJoin(
            Tables(s, dir, "lineitem"), Tables(s, dir, "supplier"),
            probeKey = "l_suppkey", buildKey = "s_suppkey", salts = 8)
          .select($"l_orderkey", $"l_linenumber", $"s_name",
            dec2($"l_extendedprice").as("price"))
          .orderBy($"l_orderkey", $"l_linenumber")
      },
      """SELECT l_orderkey, l_linenumber, s_name,
        |CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Q17 — the INTERVAL JOIN rewrite (RangeJoin.intervalJoin): Catalyst
    // plans a bare BETWEEN join as BroadcastNestedLoopJoin (or an
    // equi-join with a per-key quadratic residual); the operator buckets
    // the time domain so the plan is a shuffled EQUI-join on
    // (user_id, bucket) with the exact range check as a post-filter —
    // PlanSpec pins the no-nested-loop shape. The oracle is the PLAIN
    // inequality join: the rewrite must be result-identical. Query:
    // clicks within 12 h after a purchase by the same user (attribution
    // windows — the classic interval-join workload).
    "q17_interval_join" -> QuerySpec(
      (s, dir) => {
        val winUs = 12L * 3600L * 1000000L
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            unix_micros(col("ts")).as("start_us"))
          .withColumn("end_us", col("start_us") + winUs)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            unix_micros(col("ts")).as("click_us"))
        graft.operators.RangeJoin.intervalJoin(clicks, "click_us",
            purchases, "start_us", "end_us", bucketWidth = winUs,
            keys = Seq("user_id"))
          .select(col("user_id"), col("purchase_id"), col("click_id"))
          .orderBy(col("user_id"), col("purchase_id"), col("click_id"))
      },
      attributionWindowOracleSql),

    // q17's keyed interval join through the SALTED path — the hot-key
    // remedy for the case RangeJoinRewrite's auto mode deliberately
    // skips (keyed joins already hash-plan; a hot user still piles one
    // (key, bucket) onto one reducer). Points salted, intervals
    // replicated across salts, join key (user_id, __salt, _bucket).
    // Result-identical by construction — it shares q17's oracle
    // CONSTANT, so the driver hash-proves salted ≡ keyed ≡ naive every
    // round; the per-task input bound is pinned in SkewSpec on a
    // planted hot key.
    "q19_salted_interval_join" -> QuerySpec(
      (s, dir) => {
        val winUs = 12L * 3600L * 1000000L
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            unix_micros(col("ts")).as("start_us"))
          .withColumn("end_us", col("start_us") + winUs)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            unix_micros(col("ts")).as("click_us"))
        graft.operators.Skew.saltedIntervalJoin(clicks, "click_us",
            purchases, "start_us", "end_us", bucketWidth = winUs,
            keys = Seq("user_id"), salts = 8)
          .select(col("user_id"), col("purchase_id"), col("click_id"))
          .orderBy(col("user_id"), col("purchase_id"), col("click_id"))
      },
      attributionWindowOracleSql),
  )
}
