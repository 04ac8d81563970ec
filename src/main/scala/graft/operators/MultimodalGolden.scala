package graft.operators

import org.apache.spark.sql.SparkSession

/** Independent expected-output generator for the multimodal queries.
  *
  * [[Multimodal.syntheticMedia]] is a seeded parametric generator: every
  * payload's content is fully determined by (seed, media_id) BEFORE it is
  * encoded. This object replays exactly those draws and computes the
  * expected features directly from the RAW pixel/sample data — never
  * touching the BMP/WAV/GVID codecs — so a golden built here genuinely
  * cross-checks the encode→decode→extract path (a decode bug shifts the
  * query's histogram/mean but not the golden's). The goldens are written
  * as parquet at verify time and read back by the DuckDB oracle SQL,
  * turning the m-entries into driver-checked results.
  */
object MultimodalGolden {

  final case class ExpectedFeatures(media_id: Long, kind: String,
                                    width: Int, height: Int, n_frames: Int,
                                    size_bytes: Long, mean_byte: Double,
                                    luma_histogram: String)
  final case class ExpectedFrame(media_id: Long, n_frames: Int,
                                 frame_idx: Int)
  final case class ExpectedResize(media_id: Long, width: Int, height: Int,
                                  size_bytes: Long, new_width: Int,
                                  new_height: Int, new_size_bytes: Long)

  /** Encoded BMP size from dims alone (54-byte headers + 4-byte-padded
    * BGR rows) — file-format arithmetic, not codec execution.
    */
  def bmpBytes(w: Int, h: Int): Long =
    54L + ((3 * w + 3) & ~3).toLong * h

  /** Scala twin of [[TextAnalysis.quant4]]: floor(x·10⁴+0.5)/10⁴ in the
    * same pure IEEE double ops → bit-identical across engines.
    */
  private def quant4(x: Double): Double =
    math.floor(x * 10000.0 + 0.5) / 10000.0

  /** ITU-R BT.601 integer luma + 16-bin histogram + mean over a raw
    * top-down RGB plane (the generator's pre-encode representation).
    */
  private def lumaStats(rgb: Array[Byte]): (Double, String) = {
    val n = rgb.length / 3
    val hist = new Array[Long](16)
    var sum = 0L
    var i = 0
    while (i < n) {
      val r = rgb(i * 3) & 0xff
      val g = rgb(i * 3 + 1) & 0xff
      val b = rgb(i * 3 + 2) & 0xff
      val v = (r * 299 + g * 587 + b * 114) / 1000
      hist(v >> 4) += 1
      sum += v
      i += 1
    }
    (if (n == 0) 0.0 else sum.toDouble / n, hist.mkString("[", ",", "]"))
  }

  private def audioStats(samples: Array[Short]): (Double, String) = {
    val hist = new Array[Long](16)
    var sum = 0L
    var i = 0
    while (i < samples.length) {
      val v = ((samples(i) >> 8) & 0xff) ^ 0x80
      hist(v >> 4) += 1
      sum += v
      i += 1
    }
    (if (samples.isEmpty) 0.0 else sum.toDouble / samples.length,
      hist.mkString("[", ",", "]"))
  }

  /** Replay of syntheticMedia's per-id draw sequence (the draws must stay
    * in the generator's exact order — each extra/missing draw shifts every
    * subsequent value).
    */
  def features(n: Int, seed: Long = 42L): Seq[ExpectedFeatures] =
    (0L until n.toLong).map { id =>
      val rnd = new scala.util.Random(seed + id)
      (id % 10) match {
        case 0 | 1 =>
          val samples = Array.tabulate(2048 + rnd.nextInt(8192)) { i =>
            (math.sin(i * 0.05) * 8000 + rnd.nextInt(2001) - 1000).toShort
          }
          val (mean, hist) = audioStats(samples)
          ExpectedFeatures(id, "audio", 0, 0, 1, 44L + 2L * samples.length,
            quant4(mean), hist)
        case 2 =>
          val nFrames = 30 + rnd.nextInt(91)
          // only frame 0's pixels matter for features
          val rgb = new Array[Byte](32 * 24 * 3); rnd.nextBytes(rgb)
          val (mean, hist) = lumaStats(rgb)
          ExpectedFeatures(id, "video", 32, 24, nFrames,
            8L + nFrames.toLong * (4L + bmpBytes(32, 24)), quant4(mean),
            hist)
        case _ =>
          val w = 16 + rnd.nextInt(120)
          val h = 16 + rnd.nextInt(120)
          val rgb = new Array[Byte](w * h * 3); rnd.nextBytes(rgb)
          val (mean, hist) = lumaStats(rgb)
          ExpectedFeatures(id, "image", w, h, 1, bmpBytes(w, h),
            quant4(mean), hist)
      }
    }

  /** Expected frame-sampling rows: video ids' frame counts from the draw
    * replay; indices are plain stride arithmetic.
    */
  def frames(n: Int, everyN: Int, seed: Long = 42L): Seq[ExpectedFrame] =
    (0L until n.toLong).filter(_ % 10 == 2).flatMap { id =>
      val rnd = new scala.util.Random(seed + id)
      val nFrames = 30 + rnd.nextInt(91)
      (0 until nFrames by everyN).map(fi =>
        ExpectedFrame(id, nFrames, fi))
    }

  /** Expected resize rows: output size is format arithmetic on the target
    * dims; input dims/sizes from the draw replay.
    */
  def resizes(n: Int, newW: Int, newH: Int,
              seed: Long = 42L): Seq[ExpectedResize] =
    (0L until n.toLong).filter(id => id % 10 > 2).map { id =>
      val rnd = new scala.util.Random(seed + id)
      val w = 16 + rnd.nextInt(120)
      val h = 16 + rnd.nextInt(120)
      ExpectedResize(id, w, h, bmpBytes(w, h), newW, newH,
        bmpBytes(newW, newH))
    }

  /** Absolute on-disk location of a named golden — the single source of
    * truth for the layout, shared by the writer below and the oracle-SQL
    * builders that read it back.
    */
  def goldenBase(name: String): String =
    new java.io.File(s"target/golden/$name").getAbsolutePath

  /** Write a golden parquet once per (name, n) through [[graft.Stored]]
    * (content is deterministic, so a committed directory is already
    * valid). Returns the absolute path the oracle SQL should read.
    */
  def ensureGolden[T <: Product : org.apache.spark.sql.Encoder](
      spark: SparkSession, name: String, rows: => Seq[T]): String = {
    import spark.implicits._
    ensureGoldenDf(name, rows.toDS().toDF())
  }

  /** DataFrame variant of [[ensureGolden]] for goldens computed
    * DISTRIBUTED (e.g. a typed-map replay over a source table).
    */
  def ensureGoldenDf(name: String,
                     df: => org.apache.spark.sql.DataFrame): String =
    graft.Stored.dir(goldenBase(name))(
      df.coalesce(1).write.mode("overwrite").parquet(_))
}
