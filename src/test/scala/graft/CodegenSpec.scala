package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Generated code is compiled once per JVM: a second pass over the curate
  * panel and l10, each entry's full result written to the noop sink,
  * compiles no class. It fails when Spark's codegen cache is smaller than
  * the panel's working set (the default 100 entries: about 150 classes a
  * pass) or when an entry's generated source differs from run to run (a
  * codegen'd LIMIT names its counter from a JVM-global sequence; l10's
  * label propagation checks convergence once per round), when a
  * streaming query's tasks run under a class loader of their own (st04,
  * st12, st16: session artifact isolation), or when adaptive execution
  * plans a join differently from run to run (st23's gate join, st29's
  * per-batch join: a shuffle stage finishing first decides it).
  */
class CodegenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.withDefaults(SparkSession.builder())
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private val panel = Seq("l53_pii_redact", "l20_bm25_terms",
    "l05_embedding_neardup", "l62_pagerank", "l10_dedup_clusters",
    "st04_session_stream", "st12_stream_interval_join",
    "st16_frontier_stream", "st23_pair_gate_stream",
    "st29_paired_stream_loader")

  /** Classes compiled by Janino while each panel entry runs in full. */
  private def pass(): Map[String, Long] = panel.map { name =>
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SparkEntry.run(spark, dir, name)(
      _.df.write.format("noop").mode("overwrite").save())
    name -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }.toMap

  test("a repeated pass over the codegen panel compiles no class") {
    val first = pass()
    val second = pass()
    assert(second == panel.map(_ -> 0L).toMap, s"first pass compiled $first")
  }
}
