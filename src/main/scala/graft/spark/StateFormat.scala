package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.codec.{StateReader, StateWriter}
import graft.model.StateItem

/** E1 — the order-dependent encode/decode fold as Spark operators
  * (SURVEY.md §2.9).
  *
  * The codec state machine is non-mergeable (each emit depends on every
  * prior row), so it is NOT an Aggregator; the idiomatic mapping is: sort
  * each partition in O1 order, then run the fold per partition with
  * `mapPartitions`. Page restarts (4 KiB default, erigon_extract.c:2329)
  * make every page self-contained, so the encoded chunks are independently
  * decodable — the same property that makes the reference's file format
  * splittable also makes the Spark decode side embarrassingly parallel.
  */
object StateFormat {

  /** One encoded partition: ordered chunk of the state stream. */
  final case class EncodedChunk(partition: Int, firstKey: Array[Byte],
                                numItems: Long, bytes: Array[Byte])

  /** Encode a StateItem-shaped DataFrame. The input must already be
    * partitioned and sorted in the intended stream order (the caller owns
    * the `repartitionByRange(...).sortWithinPartitions(...)` — typically via
    * [[graft.pipeline.FullHistory.sortKeys]]); this operator is a pure
    * per-partition fold and adds no shuffle.
    */
  def encode(items: Dataset[StateItem], strategy: Int,
             pageShift: Int = 12): Dataset[EncodedChunk] = {
    val spark = items.sparkSession
    import spark.implicits._
    items.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val first = it.next()
        val w = new StateWriter(strategy, pageShift)
        w.write(first)
        var n = 1L
        it.foreach { i => w.write(i); n += 1 }
        Iterator.single(EncodedChunk(pid, first.address, n, w.toArray))
      }
    }
  }

  /** Decode chunks back to items. Chunks are independent (fresh codec state
    * per chunk, as after a page restart), so this parallelizes freely.
    */
  def decode(chunks: Dataset[EncodedChunk], strategy: Int): Dataset[StateItem] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.flatMap(c => new StateReader(strategy, c.bytes))
  }

  /** Convert a StateItem-shaped DataFrame (camelCase pipeline columns) to
    * the typed Dataset the codec operates on.
    */
  def asItems(df: DataFrame): Dataset[StateItem] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(itemCols.map(col): _*).as[StateItem]
  }

  /** [[asItems]] keeping one boolean column beside each item — the form
    * [[StateFiles.writeFlagged]] counts while it encodes.
    */
  private[graft] def asFlaggedItems(
      df: DataFrame, flag: String): Dataset[(StateItem, Boolean)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(struct(itemCols.map(col): _*).as("_1"), col(flag).as("_2"))
      .as[(StateItem, Boolean)]
  }

  private val itemCols = Seq("address", "block", "isStorage", "nonce",
    "incarnation", "balance", "codeHash", "slot", "value")
}
