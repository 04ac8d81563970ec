package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.ExplainMode

/** Development main: timings and plan dumps for named registry entries,
  * each run through [[SparkEntry.run]] as Bench and Verify run them, on a
  * [[Sessions.local]] session. Selecting by entry-name substring lets a
  * before/after pair be read without a full 220-entry sweep and its
  * attendant host-noise window. The bench contract lives in [[Bench]].
  */
object Dev {
  private val usage =
    """usage: runMain graft.Dev time [runs] <entry-substring>...
      |         per entry: one cold run, then `runs` (default 3) timed
      |         count()s after Bench's fixture warmup; prints the warm
      |         median/min/max, the warm median of the JVM's CPU
      |         seconds (even `runs`: the mean of the middle two), the
      |         cold run, the row count and compiled=<classes compiled
      |         cold>/<each warm run's count, comma-separated>
      |       runMain graft.Dev plan <outDir> <suffix> <entry-substring>...
      |         writes each entry's explain("formatted") to
      |         <outDir>/<name>_<suffix>.txt
      |No substring selects every entry.
      |Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.""".stripMargin

  /** Classes compiled by Janino in this JVM so far: a warm run that
    * compiles any shows a thrashing codegen cache or a plan whose generated
    * source differs per run.
    */
  private def compiled(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** CPU seconds of every thread of this JVM so far (local tasks, GC). */
  private def cpu(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[
      com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def picked(filters: Seq[String]): Seq[String] =
      SparkEntry.registry.keys.toSeq.sorted
        .filter(name => filters.isEmpty || filters.exists(name.contains))
    def session() = {
      val s = Sessions.local()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    args.toList match {
      case "time" :: rest =>
        // a non-integer first arg is a filter, not a runs count: silently
        // dropping it would mis-measure the entry set
        val (runs, filters) = rest match {
          case n :: fs if n.toIntOption.isDefined => (n.toInt, fs)
          case fs                                  => (3, fs)
        }
        require(runs >= 1, s"runs must be >= 1, got $runs")
        val spark = session()
        graft.queries.PipelineQueries.warmFixtures(spark, sfDir)
        picked(filters).foreach { name =>
          // seconds, rows, classes Janino compiled, CPU seconds
          def once(): (Double, Long, Long, Double) = {
            val c0 = compiled()
            val u0 = cpu()
            val t0 = System.nanoTime()
            val rows = SparkEntry.run(spark, sfDir, name)(_.df.count())
            ((System.nanoTime() - t0) / 1e9, rows, compiled() - c0,
              cpu() - u0)
          }
          // an erroring entry must not abort the rest of the sweep
          try {
            val (cold, rows, coldCompiled, _) = once()
            val warm = Seq.fill(runs)(once())
            val times = warm.map(_._1).sorted
            def median(xs: Seq[Double]): Double = // even runs: middle two
              (xs.sorted.apply((runs - 1) / 2) + xs.sorted.apply(runs / 2)) / 2
            println(f"[time] $name%-34s median=${median(times)}%8.3f " +
              f"min=${times.head}%8.3f max=${times.last}%8.3f " +
              f"cpu=${median(warm.map(_._4))}%8.3f " +
              f"cold=$cold%8.3f rows=$rows " +
              s"compiled=$coldCompiled/${warm.map(_._3).mkString(",")}")
          } catch { case e: Throwable =>
            System.err.println(s"[time] $name ERR " +
              Option(e.getMessage).getOrElse(e.getClass.getName).take(120))
          }
        }
        spark.stop()
      case "plan" :: outDir :: suffix :: filters =>
        val out = Files.createDirectories(Paths.get(outDir))
        val spark = session()
        picked(filters).foreach { name =>
          try {
            val plan = SparkEntry.run(spark, sfDir, name)(_.df.queryExecution
              .explainString(ExplainMode.fromString("formatted")))
            Files.write(out.resolve(s"${name}_$suffix.txt"),
              plan.getBytes(UTF_8))
            System.err.println(s"[plan] $name -> ${name}_$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plan] $name FAILED: " +
              Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
          }
        }
        spark.stop()
      case _ =>
        System.err.println(usage)
        sys.exit(2)
    }
  }
}
