package graft.spark

import org.apache.spark.sql.SparkSession

/** The reference's `copy_file` strategy-conversion tool
  * (erigon_extract.c:2047-2100) as a user-facing CLI: decode a `.dat`
  * dataset with one strategy and re-encode it with another —
  *
  * {{{
  *   sbt "runMain graft.spark.CopyFile <inDir> <outDir> <strategyIn> <strategyOut>"
  * }}}
  *
  * The read path is the page-split DSv2 source, so the conversion is
  * distributed: each split decodes independently and each output partition
  * re-encodes with fresh compression state (the same state reset the
  * writer performs at every page restart). Per-partition input order is
  * preserved end-to-end (mapPartitions, no shuffle), which is what the
  * delta strategies need for compact output.
  */
object CopyFile {

  /** Library form: convert a dataset between strategies, preserving the
    * manifest's block range; an input without one (no manifest, or one
    * that records no range) declares none, so the output records its
    * rows' range.
    */
  def convert(spark: SparkSession, inDir: String, outDir: String,
              strategyIn: Int, strategyOut: Int): Unit = {
    StateFiles.save(StateFiles.read(spark, inDir, strategyIn).toDF(), outDir,
      strategyOut, overwrite = true,
      blockStart = StateFiles.manifestField(inDir, "block_start"),
      blockEnd = StateFiles.manifestField(inDir, "block_end"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: CopyFile <inDir> <outDir> <strategyIn> <strategyOut>")
    val Array(inDir, outDir, sIn, sOut) = args
    val spark = graft.Sessions.local()
    convert(spark, inDir, outDir, sIn.toInt, sOut.toInt)
    spark.stop()
  }
}
