package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{DeclaredQueries, LlmQueries, PipelineQueries, QuerySpec, StreamingQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator surface (one entry per implemented operator
  * from SURVEY.md §2 plus the LLM-pipeline extensions); `oracleSql` carries
  * the DuckDB-equivalent SQL for every SQL-expressible entry.
  */
object SparkEntry {

  /** All registered query specs, keyed by query name. */
  def registry: Map[String, QuerySpec] =
    DeclaredQueries.all ++ PipelineQueries.all ++ LlmQueries.all ++
      StreamingQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full reference dataflow: changesets → decoded, code-hash-joined,
    * range-sorted, LAG-re-timestamped state history (SURVEY.md §3.1).
    */
  def entry(spark: SparkSession): DataFrame =
    registry("p01_full_history").fn(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, v) => k -> v.fn }

  /** Builds entry `name` on `dir`, hands the frame to `use`, and then
    * releases the ownership-tagged localCheckpoints its plan created
    * (the packIdStream / epochAllocation discipline) in a FINALLY: a run
    * whose action throws would otherwise park its checkpoint generation
    * until the lazy ContextCleaner — the r16 l43 slow-creep mode. The
    * one run protocol of Bench, Verify and the Dev main.
    */
  def run[A](spark: SparkSession, dir: String, name: String)
            (use: DataFrame => A): A = {
    var df: DataFrame = null
    try {
      df = registry(name).fn(spark, dir)
      use(df)
    } finally if (df != null) {
      try org.apache.spark.sql.graftshim.Bridge
        .unpersistOwnedPlanCheckpoints(df)
      catch { case _: Throwable => () }
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    * Late-bound oracles (fixture-path/probe-literal SQL) are evaluated
    * here — i.e. at Verify dump time, after the queries have run, against
    * the SAME sf dir the queries ran on. Only the builders of `names`
    * run: a late builder reads what its entry captured, so one whose
    * entry was not run can only fail. A throwing builder degrades ITS
    * entry to rows-only instead of killing the whole dump (which would
    * zero every entry's oracle). */
  def oracleSqlFor(sfDir: String,
                   names: String => Boolean = _ => true): Map[String, String] =
    registry.filter { case (k, _) => names(k) }.flatMap { case (k, qs) =>
      qs.oracle.orElse(qs.oracleLate.flatMap { f =>
        val t = scala.util.Try(f(sfDir))
        t.failed.foreach(e => System.err.println(
          s"[oracle] late SQL for $k failed: ${e.getMessage}"))
        t.toOption
      }).map(k -> _)
    }

  /** Contract-shaped convenience (driver consumes Verify's dump, which is
    * dir-explicit; this default matches the driver's gate scale).
    */
  def oracleSql: Map[String, String] = oracleSqlFor("/root/testdata/sf0.01")
}
