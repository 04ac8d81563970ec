package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** The entry contract at sf0.001: a run returns its frame and its oracle
  * together, and the oracle reads only what that run made, so it comes
  * out the same under another session and another partition count.
  */
class RunOracleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.withDefaults(SparkSession.builder())
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  // one entry of each oracle kind
  private val kinds = Seq(
    "q01_range_filter",   // fixed SQL
    "p01_full_history",   // derived from the sf dir
    "s04_ivf_trained",    // closes over a fitted centroid matrix
    "l10_dedup_clusters") // collects its run's near-dup pairs frame

  /** The oracle of one run, evaluated inside it after its frame. */
  private def oracleOf(s: SparkSession, name: String): String =
    SparkEntry.run(s, dir, name) { r => r.df.count(); r.oracle() }

  test("each oracle kind comes from its own run, same under 7 partitions") {
    val first = kinds.map(n => n -> oracleOf(spark, n)).toMap
    kinds.foreach(n => assert(first(n).trim.nonEmpty, n))

    val cents = Similarity.ivfCentroidsCached(dir,
      Tables(spark, dir, "embeddings"))
    cents.foreach { c =>
      assert(first("s04_ivf_trained").contains(c.mkString("[", ",", "]")),
        "s04's oracle must carry the fitted centroid literals")
    }

    val other = spark.newSession()
    other.conf.set("spark.sql.shuffle.partitions", "7")
    kinds.foreach(n => assert(oracleOf(other, n) == first(n), n))
  }

  test("Verify dumps only the selected oracles and writes nothing to stderr") {
    val out = Files.createTempDirectory("verify-selection").toFile
    val err = new ByteArrayOutputStream
    val saved = System.err
    System.setErr(new PrintStream(err, true))
    try {
      try Verify.dump(spark, dir, out.getPath, kinds.toSet)
      finally System.setErr(saved)
      val json = new ObjectMapper
      def read(f: String) = json.readValue(new java.io.File(out, f),
        classOf[java.util.Map[String, String]]).asScala
      assert(read("oracle_sql.json").keySet == kinds.toSet)
      val status = read("verify_status.json")
      assert(status.keySet == kinds.toSet)
      assert(status.values.forall(_ == null), status)
      assert(err.size == 0, err.toString)
    } finally FileUtils.deleteDirectory(out)
  }
}
