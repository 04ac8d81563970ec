package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal
import graft.queries.{DeclaredQueries, LlmQueries, PipelineQueries, QuerySpec,
  Run, StreamingQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator surface (one entry per implemented operator
  * from SURVEY.md §2 plus the LLM-pipeline extensions); `oracleSql` carries
  * the DuckDB-equivalent SQL of every entry. Each entry builds a
  * [[graft.queries.Run]]: its frame and an oracle thunk over the exact
  * values that frame used, so a run's oracle is taken from that run and
  * from nothing else ([[runOracle]]).
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
    registry("p01_full_history").run(spark, "/root/testdata/sf0.001").df

  /** One per implemented operator from SURVEY.md §2: each entry's frame.
    * Its oracle thunk is never called, so no oracle work is done.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, v) =>
      k -> ((s: SparkSession, dir: String) => v.run(s, dir).df) }

  /** Builds entry `name` on `dir`, hands the run to `use`, and then
    * releases the ownership-tagged localCheckpoints its plan created
    * (the packIdStream / epochAllocation discipline) in a FINALLY: a run
    * whose action throws would otherwise park its checkpoint generation
    * until the lazy ContextCleaner — the r16 l43 slow-creep mode. The
    * one run protocol of Bench, Verify and the Dev main.
    */
  def run[A](spark: SparkSession, dir: String, name: String)
            (use: Run => A): A = {
    var r: Run = null
    try {
      r = registry(name).run(spark, dir)
      use(r)
    } finally if (r != null) {
      try org.apache.spark.sql.graftshim.Bridge
        .unpersistOwnedPlanCheckpoints(r.df)
      catch { case _: Throwable => () }
    }
  }

  /** Runs `name` on `dir`, hands its frame to `write`, and then evaluates
    * the run's oracle inside the same [[run]]: after its own frame, and
    * before the checkpoints the oracle may still read are released (the
    * l02 family's thunks collect a localCheckpointed pairs frame). The
    * one path from a run to its oracle, shared by Verify and
    * [[oracleSql]]: Right(the SQL), or Left(`describe` of what the oracle
    * threw). An entry or a `write` that throws propagates.
    */
  def runOracle(spark: SparkSession, dir: String, name: String)
               (write: DataFrame => Unit): Either[String, String] =
    run(spark, dir, name) { r =>
      write(r.df)
      try Right(r.oracle())
      catch { case NonFatal(e) => Left(describe(e)) }
    }

  /** `Class: message` of a failure, the message cut to 500 chars. */
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${
      Option(e.getMessage).getOrElse("").take(500)}"

  /** Contract-shaped convenience: every entry's oracle at the oracle
    * gate's scale (sf0.01), each taken from a run of its entry through
    * [[runOracle]] on the active session (or a [[Sessions.local]] one).
    * The gate itself reads Verify's dump. Throws on the first entry
    * whose run or oracle fails.
    */
  def oracleSql: Map[String, String] = {
    val dir = "/root/testdata/sf0.01"
    val spark = SparkSession.getActiveSession.getOrElse(Sessions.local())
    registry.keys.map { k =>
      k -> runOracle(spark, dir, k)(_ => ())
        .fold(msg => sys.error(s"oracle of $k failed: $msg"), identity)
    }.toMap
  }
}
