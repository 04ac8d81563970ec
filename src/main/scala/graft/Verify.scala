package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    // local-iteration filter (unset in the driver's invocation): dump only
    // the named entries, e.g. SPARK_GRAFT_ONLY=l29_bpe_encode,l06_token_count
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val all = SparkEntry.registry.keySet
    dump(spark, sfDir, outDir, only.fold(all)(all.intersect))
    spark.stop()
  }

  /** Runs each `selected` entry on `sfDir` and writes its result to
    * `outDir/<name>`, the oracles of those runs to `oracle_sql.json`, and
    * each entry's outcome to `verify_status.json`.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           selected: Set[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    // every selected key MUST produce a result directory: a throwing
    // entry writes a one-row sentinel frame whose schema ("err") can
    // never match its oracle, so the driver's compare records an
    // explicit per-entry failure instead of silently shrinking the
    // registry (r8: st02/st04 vanished from CORRECTNESS rather than
    // appearing as failures — VERDICT item 6). Per entry: Right(its
    // oracle SQL), or Left(the status message of what failed).
    val outcomes = selected.toSeq.sorted.map { name =>
      val outcome: Either[String, String] =
        try {
          SparkEntry.runOracle(spark, sfDir, name)(_.coalesce(1).write
            .mode("overwrite").parquet(s"$outDir/$name"))
            .left.map { msg =>
              System.err.println(s"[verify] $name oracle failed: $msg")
              s"oracle: $msg"
            }
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          val msg = SparkEntry.describe(e)
          // the sentinel write itself must not abort the run: a failure
          // that wedged the session (stopped context, heap pressure)
          // would otherwise escape the per-entry catch and zero the
          // whole round — the exact mode this block exists to prevent
          try {
            import spark.implicits._
            Seq(msg).toDF("err").coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
          } catch { case e2: Throwable =>
            System.err.println(s"[verify] $name sentinel write also " +
              s"failed: ${e2.getMessage}")
          }
          Left(msg)
        }
      name -> outcome
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = outcomes
      .collect { case (k, Right(sql)) => s"${q(k)}: ${q(sql)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable per-entry outcome beside the dumps (null = wrote
    // a real result and its oracle; string = what failed: the sentinel's
    // error, or "oracle: ..." when only the oracle threw) — lets a human
    // or the driver distinguish "entry failed" from "entry mismatched"
    Files.writeString(Paths.get(s"$outDir/verify_status.json"),
      outcomes.map { case (n, o) =>
        s"${q(n)}: ${o.left.toOption.map(q).getOrElse("null")}" }
        .mkString("{", ",", "}"))
    val failed = outcomes.count(_._2.isLeft)
    if (failed > 0)
      System.err.println(s"[verify] $failed of ${outcomes.size} entries " +
        "failed (see verify_status.json)")
    // self-check LAST: by here oracle_sql.json and verify_status.json
    // exist, so a loud failure still leaves the driver its inputs
    val missing = selected.filterNot(n =>
      new java.io.File(s"$outDir/$n").isDirectory)
    require(missing.isEmpty,
      s"verify self-check: entries with no result dir: $missing")
  }
}
