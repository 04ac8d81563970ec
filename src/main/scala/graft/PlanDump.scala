package graft
import org.apache.spark.sql.SparkSession

/** Dumps `.explain("formatted")` for named registry entries into
  * plans/r22/<name>_<suffix>.txt — the optimization round's before/after
  * plan evidence (dev tool).
  *
  * Usage: runMain graft.PlanDump <suffix> <entry-substring>...
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val filters = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.withDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = java.nio.file.Paths.get("plans", "r22")
    java.nio.file.Files.createDirectories(outDir)
    def dump(name: String, df: => org.apache.spark.sql.DataFrame): Unit =
      try {
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"PLAN $name -> ${name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"PLAN $name FAILED: ${e.getMessage.take(200)}")
      }
    // operator-level plans for the iterative / scale-stress operators
    // whose registry entries return literal frames or checkpoint-
    // truncated plans: the per-iteration step IS the plan under review
    if (filters.contains("op_steps")) {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val W = graft.operators.WebGraph
      val e = (0 until 2000).map(i => (s"n$i", s"n${(7 * i + 3) % 211}"))
        .toDF("src", "dst").localCheckpoint()
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
      val sketch = nodes.select(col("node"),
        array(conv(substring(md5(col("node")), 1, 15), 16, 10)
          .cast("long")).as("hs")).localCheckpoint()
      dump("op_kmv_step", W.neighborhoodStep(e, sketch, 16))
      // the LSH candidate shape (the l02/l21 path) — the entry-level
      // plans are checkpoint-truncated, so the operator plan is the
      // reviewable surface
      val docs = spark.range(2000).select(col("id").as("doc_id"),
        concat(lit("some words here repeated "), col("id") % 97)
          .as("text"))
      dump("op_lsh_candidates",
        graft.operators.Dedup.lshCandidates(docs))
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        filters.isEmpty || filters.exists(name.contains) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          System.err.println(s"PLAN $name -> ${name}_$suffix.txt")
        } catch { case e: Throwable =>
          System.err.println(s"PLAN $name FAILED: ${e.getMessage.take(200)}")
        }
      }
    spark.stop()
  }
}
