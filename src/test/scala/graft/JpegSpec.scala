package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.codec.Jpeg

/** The JPEG codec's independent oracle is the JDK's ImageIO JPEG
  * implementation (a separate codebase): graft-encoded streams must decode
  * identically (within IDCT rounding) in both decoders, and graft's decoder
  * must reproduce ImageIO's decode of ImageIO-encoded streams (which use
  * 4:2:0 subsampling, exercising the upsampling path graft's own encoder
  * never produces).
  */
class JpegSpec extends AnyFunSuite {

  // the shared draw whose smoothness the tolerance bounds here and in the
  // m04 oracle are calibrated to — one copy, in Multimodal
  private def smoothImage(w: Int, h: Int, seed: Long): Array[Byte] =
    graft.operators.Multimodal.smoothRgb(w, h, new scala.util.Random(seed))

  private def clamp(v: Double): Byte = {
    val i = math.round(v).toInt
    (if (i < 0) 0 else if (i > 255) 255 else i).toByte
  }

  private def imageIoDecode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO could not parse stream")
    val w = img.getWidth
    val h = img.getHeight
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val p = img.getRGB(x, y)
      val i = (y * w + x) * 3
      rgb(i) = ((p >> 16) & 0xff).toByte
      rgb(i + 1) = ((p >> 8) & 0xff).toByte
      rgb(i + 2) = (p & 0xff).toByte
    }
    (w, h, rgb)
  }

  private def imageIoEncode(w: Int, h: Int, rgb: Array[Byte],
                            quality: Float,
                            progressive: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      img.setRGB(x, y, ((rgb(i) & 0xff) << 16) | ((rgb(i + 1) & 0xff) << 8) |
        (rgb(i + 2) & 0xff))
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    if (progressive)
      params.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    writer.setOutput(javax.imageio.ImageIO.createImageOutputStream(bos))
    writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    writer.dispose()
    bos.toByteArray
  }

  private def maxAbsDiff(a: Array[Byte], b: Array[Byte]): Int = {
    assert(a.length == b.length)
    var m = 0
    var i = 0
    while (i < a.length) {
      m = math.max(m, math.abs((a(i) & 0xff) - (b(i) & 0xff))); i += 1
    }
    m
  }
  private def meanAbsDiff(a: Array[Byte], b: Array[Byte]): Double = {
    var s = 0L
    var i = 0
    while (i < a.length) {
      s += math.abs((a(i) & 0xff) - (b(i) & 0xff)); i += 1
    }
    s.toDouble / a.length
  }

  test("graft encode -> graft decode approximates the source image") {
    for ((w, h, seed) <- Seq((64, 48, 1L), (41, 33, 2L), (8, 8, 3L),
                             (17, 5, 4L))) {
      val src = smoothImage(w, h, seed)
      val (dw, dh, dec) = Jpeg.decode(Jpeg.encode(w, h, src, quality = 90))
      assert(dw == w && dh == h)
      // lossy but bounded: smooth content at q90 stays within a tight
      // mean error; a transform/quantization bug blows both bounds up
      assert(meanAbsDiff(src, dec) < 4.0,
        s"${w}x$h mean err ${meanAbsDiff(src, dec)}")
      assert(maxAbsDiff(src, dec) < 48, s"${w}x$h max err")
    }
  }

  test("graft-encoded streams decode identically in graft and ImageIO") {
    for ((w, h, seed) <- Seq((64, 48, 10L), (31, 57, 11L))) {
      val src = smoothImage(w, h, seed)
      val enc = Jpeg.encode(w, h, src, quality = 90)
      val (_, _, mine) = Jpeg.decode(enc)
      val (iw, ih, theirs) = imageIoDecode(enc)
      assert(iw == w && ih == h)
      // two independent IDCT/color-convert implementations: tiny rounding
      // differences allowed, anything structural fails hard
      assert(maxAbsDiff(mine, theirs) <= 3,
        s"graft vs ImageIO max diff ${maxAbsDiff(mine, theirs)}")
      assert(meanAbsDiff(mine, theirs) < 0.7)
    }
  }

  test("graft decodes ImageIO-encoded (4:2:0 subsampled) streams") {
    for ((w, h, seed) <- Seq((64, 48, 20L), (30, 22, 21L))) {
      val src = smoothImage(w, h, seed)
      val enc = imageIoEncode(w, h, src, 0.9f)
      val (dw, dh, mine) = Jpeg.decode(enc)
      val (_, _, theirs) = imageIoDecode(enc)
      assert(dw == w && dh == h)
      // chroma upsampling policies differ slightly between decoders
      // (replication vs interpolation), so chroma-heavy pixels can drift
      // more than IDCT rounding alone — but mean agreement must be tight
      assert(meanAbsDiff(mine, theirs) < 2.0,
        s"mean diff ${meanAbsDiff(mine, theirs)}")
      assert(maxAbsDiff(mine, theirs) <= 64)
    }
  }

  test("grayscale round trip") {
    val w = 40; val h = 24
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      rgb((y * w + x) * 3 + c) = clamp(128 + 90 * math.sin(x * 0.2 + y * 0.1))
    // encode gray content through ImageIO as a real grayscale JPEG
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, rgb((y * w + x) * 3) & 0xff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    val (dw, dh, dec) = Jpeg.decode(bos.toByteArray)
    assert(dw == w && dh == h)
    assert(meanAbsDiff(rgb, dec) < 4.0)
  }

  test("graft decodes ImageIO-encoded PROGRESSIVE (SOF2) streams") {
    // ImageIO's progressive writer emits the real multi-scan shape (DC
    // first + AC spectral-selection scans with successive approximation
    // and EOB runs) over 4:2:0-subsampled chroma — the ~60%-of-web-JPEGs
    // case the decoder must handle for real-corpus ingestion. Both
    // decoders must reconstruct the same pixels from the same scans.
    for ((w, h, seed) <- Seq((64, 48, 60L), (37, 29, 61L), (8, 8, 62L))) {
      val src = smoothImage(w, h, seed)
      val enc = imageIoEncode(w, h, src, 0.9f, progressive = true)
      // confirm the stream really is progressive (SOF2 present)
      assert((0 until enc.length - 1).exists(i =>
        (enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xc2),
        "ImageIO did not produce a progressive stream")
      val (dw, dh, mine) = Jpeg.decode(enc)
      val (_, _, theirs) = imageIoDecode(enc)
      assert(dw == w && dh == h)
      // same tolerance rationale as the sequential 4:2:0 test: chroma
      // upsampling policies differ, mean agreement must be tight
      assert(meanAbsDiff(mine, theirs) < 2.0,
        s"${w}x$h mean diff ${meanAbsDiff(mine, theirs)}")
      assert(maxAbsDiff(mine, theirs) <= 64)
    }
  }

  test("progressive grayscale decodes back to the source") {
    // compare against the SOURCE, not ImageIO.read: getRGB on a
    // TYPE_BYTE_GRAY image converts linear gray to sRGB (gamma), so an
    // ImageIO-decode comparison would measure the JDK's color management,
    // not our scan decoding — same rationale as the sequential
    // "grayscale round trip" test above
    val w = 40; val h = 24
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      rgb((y * w + x) * 3 + c) = clamp(128 + 90 * math.sin(x * 0.2 + y * 0.1))
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, rgb((y * w + x) * 3) & 0xff)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    writer.setOutput(javax.imageio.ImageIO.createImageOutputStream(bos))
    writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    writer.dispose()
    val enc = bos.toByteArray
    assert((0 until enc.length - 1).exists(i =>
      (enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xc2),
      "ImageIO did not produce a progressive stream")
    val (dw, dh, dec) = Jpeg.decode(enc)
    assert(dw == w && dh == h)
    assert(meanAbsDiff(rgb, dec) < 4.0,
      s"gray progressive mean err ${meanAbsDiff(rgb, dec)}")
  }

  test("progressive fuzzing: clean errors, never crashes") {
    val src = smoothImage(48, 32, 70L)
    val good = imageIoEncode(48, 32, src, 0.85f, progressive = true)
    val rnd = new scala.util.Random(101L)
    var decoded = 0
    var rejected = 0
    for (_ <- 1 to 400) {
      val fuzzed = good.clone()
      val at = rnd.nextInt(fuzzed.length)
      fuzzed(at) = (fuzzed(at) ^ (1 + rnd.nextInt(255))).toByte
      try { Jpeg.decode(fuzzed); decoded += 1 }
      catch { case _: IllegalArgumentException => rejected += 1 }
    }
    assert(decoded + rejected == 400)
    assert(rejected > 0, "no corruption was ever detected")
  }

  test("strict parser rejects malformed streams") {
    val good = Jpeg.encode(16, 16, smoothImage(16, 16, 30L))
    intercept[IllegalArgumentException](Jpeg.decode(Array[Byte](1, 2, 3)))
    intercept[IllegalArgumentException](
      Jpeg.decode(good.take(good.length / 2))) // truncated mid-scan
    val noSof = good.clone()
    // corrupt the SOF marker into an unsupported progressive SOF2
    val sofAt = (0 until noSof.length - 1).find(i =>
      (noSof(i) & 0xff) == 0xff && (noSof(i + 1) & 0xff) == 0xc0).get
    noSof(sofAt + 1) = 0xc2.toByte
    val e = intercept[IllegalArgumentException](Jpeg.decode(noSof))
    assert(e.getMessage.contains("progressive"))
    intercept[IllegalArgumentException](
      Jpeg.encode(4, 4, new Array[Byte](48), quality = 100)) // q > 95
  }

  test("m04 entry: every decoded JPEG lands within the luma tolerance") {
    val spark = graft.Sessions.withDefaults(org.apache.spark.sql.SparkSession.builder())
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val rows = graft.SparkEntry.queries("m04_jpeg_decode")(spark,
      "/root/testdata/sf0.001").collect()
    assert(rows.length == 150)
    assert(rows.forall(_.getBoolean(3)), "a decode fell outside tolerance")
    // and the flag is FALSIFIABLE: a corrupted decode (wrong quant table
    // would shift the mean) must flip it — simulate by checking the
    // tolerance is not vacuously wide: decoded means differ from raw by
    // a nonzero but small amount on at least one image
    val (w, h, rgb) = graft.operators.Multimodal.jpegRawDraw(0L)
    val dec = Jpeg.decode(Jpeg.encode(w, h, rgb))._3
    assert(!dec.sameElements(rgb), "JPEG round trip is not lossless here")
  }

  test("decoder survives byte-flip fuzzing with clean errors") {
    // strict-parse stance under corruption: every single-byte mutation of
    // a valid stream must either decode (entropy-data flips usually still
    // parse, just with wrong pixels) or raise the decoder's clean
    // IllegalArgumentException — never hang, never escape with an
    // ArrayIndexOutOfBounds/NegativeArraySize from unchecked arithmetic
    val src = smoothImage(48, 32, 50L)
    val good = Jpeg.encode(48, 32, src, quality = 85)
    val rnd = new scala.util.Random(99L)
    var decoded = 0
    var rejected = 0
    for (_ <- 1 to 400) {
      val fuzzed = good.clone()
      val at = rnd.nextInt(fuzzed.length)
      fuzzed(at) = (fuzzed(at) ^ (1 + rnd.nextInt(255))).toByte
      try { Jpeg.decode(fuzzed); decoded += 1 }
      catch { case _: IllegalArgumentException => rejected += 1 }
    }
    assert(decoded + rejected == 400)
    assert(rejected > 0, "no corruption was ever detected")
  }

  test("restart markers (DRI/RSTn) decode correctly") {
    val src = smoothImage(48, 32, 40L) // 24 MCUs -> 11 restarts at R=2
    val plain = Jpeg.encode(48, 32, src, quality = 90)
    val restarted = Jpeg.encode(48, 32, src, quality = 90,
      restartInterval = 2)
    assert(restarted.length > plain.length, "no RST markers were emitted")
    // restart changes HOW coefficients are entropy-coded (DC predictions
    // reset, byte alignment), not WHAT they decode to — the two streams
    // must reconstruct bit-identical pixels through the restart path
    val (_, _, a) = Jpeg.decode(plain)
    val (_, _, b) = Jpeg.decode(restarted)
    assert(a.sameElements(b))
    // and the emitted restart stream is spec-conformant per an
    // INDEPENDENT decoder: ImageIO parses it to the same pixels too
    val (iw, ih, theirs) = imageIoDecode(restarted)
    assert(iw == 48 && ih == 32)
    assert(maxAbsDiff(b, theirs) <= 3)
    // a DRI declaring interval 0 (what ImageIO itself writes) is a no-op
    val sosAt = (0 until plain.length - 1).find(i =>
      (plain(i) & 0xff) == 0xff && (plain(i + 1) & 0xff) == 0xda).get
    val dri0 = Array(0xff, 0xdd, 0x00, 0x04, 0x00, 0x00).map(_.toByte)
    val spliced = plain.take(sosAt) ++ dri0 ++ plain.drop(sosAt)
    assert(Jpeg.decode(spliced)._3.sameElements(a))
  }
}
