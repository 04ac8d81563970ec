package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (unset in the driver's invocation): dump only
    // the named entries, e.g. SPARK_GRAFT_ONLY=l29_bpe_encode,l06_token_count
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.registry.keySet)(
      SparkEntry.registry.keySet.intersect)
    // every selected key MUST produce a result directory: a throwing
    // entry writes a one-row sentinel frame whose schema ("err") can
    // never match its oracle, so the driver's compare records an
    // explicit per-entry failure instead of silently shrinking the
    // registry (r8: st02/st04 vanished from CORRECTNESS rather than
    // appearing as failures — VERDICT item 6)
    val status = selected.toSeq.sorted.map { name =>
      val err: Option[String] =
        try {
          SparkEntry.run(spark, sfDir, name)(_.coalesce(1).write
            .mode("overwrite").parquet(s"$outDir/$name"))
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          val msg = s"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").take(500)}"
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
          Some(msg)
        }
      name -> err
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
    val json = SparkEntry.oracleSqlFor(sfDir, selected)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable per-entry outcome beside the dumps (null = wrote
    // a real result; string = the sentinel's error) — lets a human or
    // the driver distinguish "entry failed" from "entry mismatched"
    Files.writeString(Paths.get(s"$outDir/verify_status.json"),
      status.map { case (n, e) =>
        s"${q(n)}: ${e.map(q).getOrElse("null")}" }.mkString("{", ",", "}"))
    if (status.exists(_._2.isDefined))
      System.err.println(s"[verify] ${status.count(_._2.isDefined)} of " +
        s"${status.size} entries failed (sentinel rows written)")
    // self-check LAST: by here oracle_sql.json and verify_status.json
    // exist, so a loud failure still leaves the driver its inputs
    val missing = selected.filterNot(n =>
      new java.io.File(s"$outDir/$n").isDirectory)
    require(missing.isEmpty,
      s"verify self-check: entries with no result dir: $missing")
    spark.stop()
  }
}
