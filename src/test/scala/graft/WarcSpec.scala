package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Warc

/** WARC/WET source: framing round trips, multi-member gzip layout,
  * type filtering, plain-uncompressed input, malformed-input failure
  * modes, and the narrow no-collect plan shape.
  */
class WarcSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.withDefaults(SparkSession.builder())
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def mkRows(n: Int): Seq[(String, String, String)] =
    (0 until n).map { i =>
      val text = i % 7 match {
        case 0 => "" // empty payload
        case 1 => s"unicode § Ωmega ☃ doc $i\nsecond line"
        case 2 => s"crlf\r\nin payload $i" // framing hazard: \r\n inside
        case _ => s"plain text body of document $i " * 3
      }
      (s"https://t.example/$i", f"2026-02-0${i % 9 + 1}T01:02:03Z", text)
    }

  test("round trip: url/date/text survive exactly across multiple " +
      "part files, including empty, unicode, and embedded-CRLF payloads") {
    val rows = mkRows(40)
    val dir = Files.createTempDirectory("graft-warc-rt").toString
    Warc.write(rows.toDF("url", "warc_date", "text").repartition(3), dir)
    val back = Warc.read(spark, dir)
    // warcinfo members are typed and filterable; one per part file
    val parts = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".warc.gz"))
    assert(parts == 3, s"expected 3 part files, got $parts")
    assert(back.filter(col("rec_type") === "warcinfo").count() == parts)
    val got = back.filter(col("rec_type") === "conversion")
      .select("url", "warc_date", "text")
      .as[(String, String, String)].collect().toSet
    assert(got == rows.toSet,
      s"round-trip mismatch, e.g. ${(rows.toSet -- got).take(2)}")
    // n_bytes is the PAYLOAD byte length (UTF-8), not the char count
    val uni = back.filter(col("url") === "https://t.example/1")
      .select("n_bytes", "text").as[(Long, String)].head()
    assert(uni._1 == uni._2.getBytes("UTF-8").length.toLong)
    assert(uni._1 > uni._2.length.toLong) // multi-byte chars present
  }

  test("gzip framing: every record is its OWN member (Common Crawl " +
      "layout) — member count = warcinfo + records") {
    val rows = mkRows(5)
    val dir = Files.createTempDirectory("graft-warc-members").toString
    Warc.write(rows.toDF("url", "warc_date", "text").coalesce(1), dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).head
    val bytes = Files.readAllBytes(f.toPath)
    // count gzip member headers: 1f 8b 08 (deflate method) — compressed
    // payload bytes matching this 3-byte pattern by chance is possible
    // but vanishingly unlikely at this fixture size, and a miscount
    // fails loudly here rather than silently
    val members = bytes.sliding(3).count(w =>
      (w(0) & 0xff) == 0x1f && (w(1) & 0xff) == 0x8b && w(2) == 8)
    assert(members == rows.size + 1,
      s"expected ${rows.size + 1} gzip members, counted $members")
    // and each member is independently decodable: decompress from the
    // SECOND member's offset only — yields record 1 of the payload
    val secondOff = bytes.indices.drop(1).find(i =>
      (bytes(i) & 0xff) == 0x1f && (bytes(i + 1) & 0xff) == 0x8b &&
        bytes(i + 2) == 8).get
    val tail = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(
        java.util.Arrays.copyOfRange(bytes, secondOff, bytes.length)))
    val firstLine = scala.io.Source.fromInputStream(tail, "UTF-8")
      .getLines().next()
    assert(firstLine == "WARC/1.0")
  }

  test("plain uncompressed .warc reads identically") {
    val rows = mkRows(6)
    val gzDir = Files.createTempDirectory("graft-warc-gz").toString
    Warc.write(rows.toDF("url", "warc_date", "text").coalesce(1), gzDir)
    val gz = new java.io.File(gzDir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).head
    // gunzip the whole multi-member file to a .warc (GZIPInputStream
    // drains concatenated members)
    val plainDir = Files.createTempDirectory("graft-warc-plain").toString
    val in = new java.util.zip.GZIPInputStream(
      new java.io.FileInputStream(gz))
    val outF = Paths.get(plainDir, "part-00000.warc")
    Files.copy(in, outF)
    in.close()
    val a = Warc.read(spark, gzDir).filter(col("rec_type") === "conversion")
      .select("url", "warc_date", "text")
      .as[(String, String, String)].collect().toSet
    val b = Warc.read(spark, plainDir)
      .filter(col("rec_type") === "conversion")
      .select("url", "warc_date", "text")
      .as[(String, String, String)].collect().toSet
    assert(a == rows.toSet && b == rows.toSet)
  }

  test("malformed inputs fail loudly: truncated payload, missing " +
      "Content-Length, non-WARC bytes") {
    val dir = Files.createTempDirectory("graft-warc-bad").toString
    def gzBytes(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s.getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    def readAll(p: String): Unit =
      Warc.parseFile(Paths.get(p).toUri.toString).toList
    val trunc = Paths.get(dir, "trunc.warc.gz")
    Files.write(trunc, gzBytes(
      "WARC/1.0\r\nWARC-Type: conversion\r\nContent-Length: 100\r\n\r\nshort"))
    intercept[java.io.EOFException](readAll(trunc.toString))
    val noLen = Paths.get(dir, "nolen.warc.gz")
    Files.write(noLen, gzBytes(
      "WARC/1.0\r\nWARC-Type: conversion\r\n\r\nbody"))
    intercept[IllegalArgumentException](readAll(noLen.toString))
    val garbage = Paths.get(dir, "garbage.warc")
    Files.write(garbage, "HTTP/1.1 200 OK\r\n\r\nnope".getBytes("UTF-8"))
    intercept[IllegalArgumentException](readAll(garbage.toString))
  }

  test("hostile headers are rejected cheaply: multi-GiB Content-Length " +
      "and an unterminated header line fail loudly, never allocate") {
    val dir = Files.createTempDirectory("graft-warc-hostile").toString
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    // a crafted header demanding 2 GB — must throw BEFORE allocating
    // (the JPEG crafted-8-byte-header stance): this test OOMs if the
    // allocation happens
    val big = Paths.get(dir, "big.warc.gz")
    Files.write(big, gz(("WARC/1.0\r\nWARC-Type: conversion\r\n" +
      "Content-Length: 2000000000\r\n\r\n").getBytes("UTF-8")))
    val e1 = intercept[IllegalArgumentException](
      Warc.parseFile(big.toUri.toString).toList)
    assert(e1.getMessage.contains("Content-Length"))
    // a header "line" with no newline for 1 MB — must throw at the
    // line cap, not buffer the whole stream
    val noNl = Paths.get(dir, "nonl.warc.gz")
    Files.write(noNl, gz(("WARC/1.0\r\n" +
      "X" * (1 << 20)).getBytes("UTF-8")))
    val e2 = intercept[IllegalArgumentException](
      Warc.parseFile(noNl.toUri.toString).toList)
    assert(e2.getMessage.contains("header line"))
  }

  test("mutation fuzz: corrupting a valid .warc.gz anywhere yields " +
      "records or a clean exception — never a hang, OOM, or crash " +
      "(the Jpeg/Png/Gif codec fuzz convention)") {
    val rows = mkRows(12)
    val dir = Files.createTempDirectory("graft-warc-fuzz").toString
    Warc.write(rows.toDF("url", "warc_date", "text").coalesce(1), dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).head
    val good = Files.readAllBytes(f.toPath)
    val rnd = new scala.util.Random(421)
    val tmp = Paths.get(dir, "mut.warc.gz")
    var parsedSome = 0
    (1 to 300).foreach { i =>
      val mut = good.clone()
      rnd.nextInt(3) match {
        case 0 => // flip one random byte
          val p = rnd.nextInt(mut.length)
          mut(p) = (mut(p) ^ (1 << rnd.nextInt(8))).toByte
        case 1 => // truncate
          val keep = 1 + rnd.nextInt(mut.length - 1)
          Files.write(tmp, java.util.Arrays.copyOfRange(mut, 0, keep))
        case 2 => // duplicate a random slice in place
          val p = rnd.nextInt(mut.length - 2)
          val l = 1 + rnd.nextInt(math.min(64, mut.length - p - 1))
          System.arraycopy(mut, p, mut,
            math.min(p + l, mut.length - l), l)
      }
      if (rnd.nextInt(3) != 1) Files.write(tmp, mut)
      try { parsedSome += Warc.parseFile(tmp.toUri.toString).size }
      catch {
        case _: java.io.IOException => ()            // gzip/truncation
        case _: IllegalArgumentException => ()       // framing/header
        case _: NumberFormatException => ()          // corrupt length
        case _: NegativeArraySizeException => fail("allocated negative")
      }
    }
    // sanity: SOME mutations still parse (single bit flips in payload
    // regions survive gzip CRC only rarely, but truncations at member
    // boundaries parse their prefix) — the fuzz isn't vacuously failing
    // everything before the parser even runs
    info(s"fuzz parsed $parsedSome records across survivors")
  }

  test("HTTP-split mutation fuzz: corrupting a valid HTTP response " +
      "payload anywhere yields an HttpRecord or a clean exception — " +
      "never a hang, OOM, or crash") {
    val base = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
      "charset=utf-8\r\nServer: t\r\nContent-Length: 24\r\n\r\n" +
      "<p>body Ωmega text</p>").getBytes("UTF-8")
    val rnd = new scala.util.Random(871)
    var parsedSome = 0
    (1 to 300).foreach { _ =>
      val mut = base.clone()
      val payload: Array[Byte] = rnd.nextInt(3) match {
        case 0 => // flip one random byte
          val p = rnd.nextInt(mut.length)
          mut(p) = (mut(p) ^ (1 << rnd.nextInt(8))).toByte
          mut
        case 1 => // truncate
          java.util.Arrays.copyOfRange(mut, 0,
            1 + rnd.nextInt(mut.length - 1))
        case 2 => // duplicate a random slice in place
          val p = rnd.nextInt(mut.length - 2)
          val l = 1 + rnd.nextInt(math.min(32, mut.length - p - 1))
          System.arraycopy(mut, p, mut,
            math.min(p + l, mut.length - l), l)
          mut
      }
      val rec = graft.sources.Warc.RawRecord("fuzz.warc", "response",
        "https://f.example/", "2026-01-01T00:00:00Z",
        "application/http; msgtype=response", payload)
      try { graft.sources.Warc.splitHttp(rec); parsedSome += 1 }
      catch {
        case _: IllegalArgumentException => () // no separator / bad
        // status line — the documented loud failure modes
        case e: java.io.UnsupportedEncodingException =>
          fail(s"charset handling must pre-validate: $e")
      }
    }
    info(s"HTTP fuzz: $parsedSome of 300 mutants split cleanly")
    assert(parsedSome > 0, "fuzz vacuously rejected everything")
  }

  test("scale: parsing a 10x-record member stream costs ~10x wall, " +
      "never quadratic, with memory bounded by one record (the " +
      "l21/p13 measured-scaling convention applied to ingestion)") {
    def mkFile(n: Int): java.nio.file.Path = {
      val dir = Files.createTempDirectory(s"graft-warc-scale-$n")
      val rows = (0 until n).map(i =>
        (s"https://s.example/$i", "2026-04-01T00:00:00Z",
          s"document body number $i " * 20))
      Warc.write(rows.toDF("url", "warc_date", "text").coalesce(1),
        dir.toString)
      new java.io.File(dir.toFile.listFiles()
        .filter(_.getName.endsWith(".warc.gz")).head.getPath).toPath
    }
    val f1 = mkFile(300)
    val f10 = mkFile(3000)
    def time(p: java.nio.file.Path, expect: Int): Double = {
      val t0 = System.nanoTime()
      val n = Warc.parseFile(p.toUri.toString)
        .count(_.rec_type == "conversion")
      assert(n == expect, s"parsed $n of $expect")
      (System.nanoTime() - t0) / 1e9
    }
    // warm the parse path once so JIT doesn't ride the 1x number
    time(f1, 300)
    // retrying bound (3 attempts absorb a GC pause; a quadratic parse
    // sits ~100x and fails all of them)
    val ok = (1 to 3).exists { _ =>
      val t1 = time(f1, 300)
      val t10 = time(f10, 3000)
      val ratio = t10 / math.max(t1, 1e-4)
      info(f"warc parse 1x=${t1}%.3fs 10x=${t10}%.3fs ratio=$ratio%.1f")
      ratio < 30.0
    }
    assert(ok, "10x WARC parse exceeded 30x wall on all 3 attempts")
  }

  test("plan shape: Warc.read is mapPartitions-narrow — no exchange, " +
      "no whole-file content column in the scan") {
    val rows = mkRows(4)
    val dir = Files.createTempDirectory("graft-warc-plan").toString
    Warc.write(rows.toDF("url", "warc_date", "text").coalesce(1), dir)
    val plan = Warc.read(spark, dir).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"WARC parse plan shuffles:\n$plan")
    assert(plan.contains("MapPartitions"), s"no MapPartitions node:\n$plan")
    // the binaryFile scan must read ONLY the path column — file bytes
    // never materialize into a Spark row
    assert(plan.contains("ReadSchema: struct<path:string>"),
      s"scan reads more than the path column:\n$plan")
  }

  // ---- r12: session-conf shipping, HTTP split, commit, fd hygiene ----

  test("session Hadoop conf reaches parse tasks: a programmatic " +
      "spark.hadoop.* filesystem registration made on the SESSION " +
      "resolves in Warc.read's tasks, while a bare executor " +
      "Configuration cannot see it") {
    val rows = mkRows(10)
    val dir = Files.createTempDirectory("graft-warc-conf").toString
    Warc.write(rows.toDF("url", "warc_date", "text").coalesce(1), dir)
    spark.conf.set("spark.hadoop.fs.gtest.impl",
      classOf[GtestFileSystem].getName)
    spark.conf.set("spark.hadoop.graft.probe.marker", "r12")
    try {
      // the conf the reader ships is the session's merged view
      val shipped = Warc.sessionHadoopConf(spark)
      assert(shipped.get("graft.probe.marker") == "r12")
      assert(shipped.get("fs.gtest.impl") != null)
      // a bare Configuration (what the executor-side code used before
      // the fix) cannot resolve the scheme — the test discriminates
      val part = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".warc.gz")).head.getAbsolutePath
      val bare = intercept[Exception] {
        Warc.parseFile(s"gtest://$part").toList
      }
      assert(bare.getMessage != null &&
        bare.getMessage.toLowerCase.contains("gtest"),
        s"unexpected failure mode: ${bare.getMessage}")
      // the parse path fed the SHIPPED conf (exactly what Warc.read's
      // tasks receive) resolves the session-registered scheme
      val n = Warc.parseFile(s"gtest://$part", shipped)
        .count(_.rec_type == "conversion")
      assert(n == 10, s"expected 10 conversion records via gtest://, got $n")
    } finally {
      spark.conf.unset("spark.hadoop.fs.gtest.impl")
      spark.conf.unset("spark.hadoop.graft.probe.marker")
    }
  }

  test("readResponses: HTTP status line, Content-Type, and " +
      "charset-declared body decode (UTF-8, ISO-8859-1, default)") {
    val dir = Files.createTempDirectory("graft-warc-http").toString
    def http(status: String, headers: Seq[String],
             body: Array[Byte]): Array[Byte] = {
      val head = (status +: headers).mkString("", "\r\n", "\r\n\r\n")
      head.getBytes("ISO-8859-1") ++ body
    }
    val payloads = Seq(
      ("https://a.example/utf8", http("HTTP/1.1 200 OK",
        Seq("Content-Type: text/html; charset=utf-8", "Server: t"),
        "<p>Ωmega snowman ☃</p>".getBytes("UTF-8"))),
      ("https://a.example/latin1", http("HTTP/1.1 200 OK",
        Seq("Content-Type: text/html; charset=ISO-8859-1"),
        "café olé".getBytes("ISO-8859-1"))),
      ("https://a.example/nocharset", http("HTTP/1.0 404 Not Found",
        Seq("Content-Type: text/plain"),
        "gone".getBytes("UTF-8"))),
      ("https://a.example/quoted", http("HTTP/1.1 301 Moved",
        Seq("Content-Type: text/html; charset=\"UTF-8\"; x=1",
          "Location: https://b.example/"),
        "moved".getBytes("UTF-8"))))
    import spark.implicits._
    Warc.writeRecords(
      payloads.map { case (u, p) => (u, "2026-03-01T00:00:00Z", p) }
        .toDF("url", "warc_date", "payload").coalesce(1),
      dir, recType = "response",
      contentType = "application/http; msgtype=response")
    val got = Warc.readResponses(spark, dir).collect()
      .map(r => r.getAs[String]("url") ->
        ((r.getAs[Int]("http_status"), r.getAs[String]("charset"),
          r.getAs[String]("body"), r.getAs[String]("http_content_type"))))
      .toMap
    assert(got.size == 4)
    assert(got("https://a.example/utf8") ==
      ((200, "utf-8", "<p>Ωmega snowman ☃</p>",
        "text/html; charset=utf-8")))
    assert(got("https://a.example/latin1")._3 == "café olé")
    assert(got("https://a.example/latin1")._2 == "ISO-8859-1")
    assert(got("https://a.example/nocharset") ==
      ((404, "UTF-8", "gone", "text/plain")))
    assert(got("https://a.example/quoted")._1 == 301)
    assert(got("https://a.example/quoted")._2 == "UTF-8")
    // body byte counts are BODY bytes, not payload bytes
    val nb = Warc.readResponses(spark, dir).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[Long]("n_bytes")).toMap
    assert(nb("https://a.example/nocharset") == 4L)
    // the plain reader still surfaces the records permissively
    val plain = Warc.read(spark, dir)
      .filter(col("rec_type") === "response").count()
    assert(plain == 4)
  }

  test("readResponses fails loudly on a response payload that is not " +
      "an HTTP message") {
    val dir = Files.createTempDirectory("graft-warc-badhttp").toString
    import spark.implicits._
    Warc.writeRecords(
      Seq(("https://x.example/", "2026-03-01T00:00:00Z",
        "just some text, no status line".getBytes("UTF-8")))
        .toDF("url", "warc_date", "payload").coalesce(1),
      dir, recType = "response",
      contentType = "application/http; msgtype=response")
    val e = intercept[Exception] {
      Warc.readResponses(spark, dir).count()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(c => Option(c.getMessage)
        .exists(m => m.contains("HTTP") || m.contains("separator"))),
      s"unexpected failure: $e")
  }

  test("writer commit protocol: parts land via attempt-unique temp + " +
      "rename — no temp files remain, and a re-write REPLACES the " +
      "previous job's parts") {
    val dir = Files.createTempDirectory("graft-warc-commit").toString
    Warc.write(mkRows(30).toDF("url", "warc_date", "text")
      .repartition(3), dir)
    val names1 = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names1.count(_.startsWith("part-")) == 3)
    assert(!names1.exists(_.contains("tmp")), s"temp leftovers: $names1")
    // second job into the same dir with a DIFFERENT shape: old parts
    // must not survive to serve stale records
    Warc.write(mkRows(8).toDF("url", "warc_date", "text")
      .coalesce(1), dir)
    val names2 = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names2.count(_.startsWith("part-")) == 1, s"stale parts: $names2")
    assert(!names2.exists(_.contains("tmp")), s"temp leftovers: $names2")
    val n = Warc.read(spark, dir)
      .filter(col("rec_type") === "conversion").count()
    assert(n == 8, s"expected the second write's 8 records, got $n")
  }

  test("writeTypedRecords interleaves per-row record/content types in " +
      "one archive; readRaw returns every member's exact bytes and " +
      "readResources still sees only the resource subset") {
    val dir = Files.createTempDirectory("graft-warc-typed").toString
    // binary payloads that would break a text view: NULs, the gzip
    // magic, high bytes — plus a JSON metadata member per resource
    val rows = (0 until 12).flatMap { i =>
      val payload = Array[Byte](0x1f, 0x8b.toByte, 0x00, i.toByte,
        0xff.toByte, 0x80.toByte) ++ s"bin$i".getBytes("UTF-8")
      Seq(
        ("resource", s"https://t.example/media/$i",
          "2026-02-01T00:00:00Z", "application/octet-stream", payload),
        ("metadata", s"https://t.example/pages/$i.html#0",
          "2026-02-01T00:00:00Z", "application/json",
          s"""{"k":$i}""".getBytes("UTF-8")))
    }
    Warc.writeTypedRecords(
      rows.toDF("rec_type", "url", "warc_date", "content_type",
        "payload").repartition(3), dir)
    val back = Warc.readRaw(spark, dir)
      .filter(col("rec_type") =!= "warcinfo")
      .select("rec_type", "url", "content_type", "payload")
      .as[(String, String, String, Array[Byte])]
      .collect().map(r => (r._1, r._2) -> (r._3, r._4.toSeq)).toMap
    assert(back.size == 24, s"expected 24 members, got ${back.size}")
    rows.foreach { case (rt, url, _, ct, payload) =>
      val (gotCt, gotBytes) = back((rt, url))
      assert(gotCt == ct, s"$url content_type: $gotCt != $ct")
      assert(gotBytes == payload.toSeq, s"$url payload bytes differ")
    }
    // the typed archive's resource subset through the existing reader
    val res = Warc.readResources(spark, dir)
    assert(res.count() == 12)
    assert(res.filter(col("content_type") =!=
      "application/octet-stream").count() == 0)
    // and readRaw sees the per-part warcinfo members too (3 parts)
    assert(Warc.readRaw(spark, dir)
      .filter(col("rec_type") === "warcinfo").count() == 3)
  }

  test("early-stopped read closes the file handle at task completion " +
      "(limit pushdown must not leak an fd per file until GC)") {
    val dir = Files.createTempDirectory("graft-warc-fd").toString
    Warc.write(mkRows(200).toDF("url", "warc_date", "text")
      .coalesce(1), dir)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).head.getCanonicalPath
    // limit(1) stops the iterator after one record of 200+
    val one = Warc.read(spark, dir).limit(1).collect()
    assert(one.length == 1)
    // local[4] tasks run in THIS JVM: after the job, no fd of this
    // process may still point at the part file (the task-completion
    // listener closes the stream; before it, the handle lingered
    // until GC)
    val fdDir = new java.io.File("/proc/self/fd")
    assume(fdDir.isDirectory, "procfs not available")
    val leaked = fdDir.listFiles().toSeq.flatMap { f =>
      try Some(java.nio.file.Files.readSymbolicLink(f.toPath).toString)
      catch { case _: Exception => None }
    }.filter(_ == part)
    assert(leaked.isEmpty, s"leaked fd(s) to $part")
  }

  // ---- HTTP body transfer/content decoding ---------------------------

  private def httpRec(payload: Array[Byte]): Warc.RawRecord =
    Warc.RawRecord("t.warc", "response", "https://d.example/",
      "2026-01-01T00:00:00Z", "application/http; msgtype=response",
      payload)

  private def gzBytes(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  private def chunkBytes(b: Array[Byte], sz: Int = 7,
                         trailer: Boolean = true): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < b.length) {
      val n = math.min(sz, b.length - i)
      out.write(s"${n.toHexString}\r\n".getBytes("ISO-8859-1"))
      out.write(b, i, n); out.write("\r\n".getBytes("ISO-8859-1"))
      i += n
    }
    out.write((if (trailer) "0\r\nX-T: v\r\n\r\n" else "0\r\n\r\n")
      .getBytes("ISO-8859-1"))
    out.toByteArray
  }

  private def msg(headers: String, body: Array[Byte]): Array[Byte] = {
    val head = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
      s"charset=utf-8\r\n$headers\r\n").getBytes("ISO-8859-1")
    head ++ body
  }

  test("splitHttp decodes Transfer-Encoding: chunked — extensions, " +
      "uppercase hex sizes, trailers, bare-LF frames all parse; " +
      "n_bytes is the DECODED count") {
    val body = "chunked body Ωmega content here, crossing chunk bounds."
    val plain = body.getBytes("UTF-8")
    // standard framing
    val r1 = Warc.splitHttp(httpRec(
      msg("Transfer-Encoding: chunked\r\n", chunkBytes(plain))))
    assert(r1.body == body && r1.content_encoding == "" &&
      r1.n_bytes == plain.length.toLong)
    // extension on the size line + UPPERCASE hex + no trailer
    val framed = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(f"${plain.length}%X;ext=1\r\n".getBytes("ISO-8859-1"))
      out.write(plain); out.write("\r\n0\r\n\r\n".getBytes("ISO-8859-1"))
      out.toByteArray
    }
    assert(Warc.splitHttp(httpRec(
      msg("Transfer-Encoding: chunked\r\n", framed))).body == body)
    // bare-LF chunk lines (the readLine tolerance, mirrored)
    val lf = new String(chunkBytes(plain), "ISO-8859-1")
      .replace("\r\n", "\n").getBytes("ISO-8859-1")
    assert(Warc.splitHttp(httpRec(
      msg("Transfer-Encoding: chunked\r\n", lf))).body == body)
    // EOF immediately after the last-chunk line (stored-crawl cut)
    val cut = chunkBytes(plain, trailer = false).dropRight(2)
    assert(Warc.splitHttp(httpRec(
      msg("Transfer-Encoding: chunked\r\n", cut))).body == body)
  }

  test("splitHttp decodes Content-Encoding gzip, zlib-deflate, " +
      "raw-deflate, and the layered gzip-then-chunked case; an " +
      "unsupported coding (br) is SURFACED, not a task kill") {
    val body = "coded body § with multibyte Ω chars and length > one chunk."
    val plain = body.getBytes("UTF-8")
    val g = Warc.splitHttp(httpRec(
      msg("Content-Encoding: gzip\r\n", gzBytes(plain))))
    assert(g.body == body && g.content_encoding == "" &&
      g.n_bytes == plain.length.toLong)
    // x-gzip alias
    assert(Warc.splitHttp(httpRec(
      msg("Content-Encoding: x-gzip\r\n", gzBytes(plain)))).body == body)
    // zlib-wrapped deflate (the RFC form)
    val zlib = {
      val d = new java.util.zip.Deflater()
      d.setInput(plain); d.finish()
      val buf = new Array[Byte](plain.length * 2 + 64)
      val n = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, n)
    }
    assert(Warc.splitHttp(httpRec(
      msg("Content-Encoding: deflate\r\n", zlib))).body == body)
    // raw deflate (what many servers actually send)
    val rawDef = {
      val d = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(plain); d.finish()
      val buf = new Array[Byte](plain.length * 2 + 64)
      val n = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, n)
    }
    assert(Warc.splitHttp(httpRec(
      msg("Content-Encoding: deflate\r\n", rawDef))).body == body)
    // layered: gzip content coding UNDER chunked transfer framing
    val layered = Warc.splitHttp(httpRec(msg(
      "Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n",
      chunkBytes(gzBytes(plain), sz = 11))))
    assert(layered.body == body && layered.n_bytes == plain.length.toLong)
    // unsupported coding: surfaced in content_encoding, octets
    // preserved via latin-1 (recoverable downstream), NOT an exception
    val br = Warc.splitHttp(httpRec(
      msg("Content-Encoding: br\r\n", Array[Byte](1, 2, -120, 42))))
    assert(br.content_encoding == "br" && br.charset == "ISO-8859-1")
    assert(br.body.toCharArray.map(_.toByte).toSeq ==
      Seq[Byte](1, 2, -120, 42))
    // partial chain: gzip decoded, br left surfaced
    val partial = Warc.splitHttp(httpRec(
      msg("Content-Encoding: br, gzip\r\n", gzBytes(Array[Byte](9, 8)))))
    assert(partial.content_encoding == "br" &&
      partial.body.toCharArray.map(_.toByte).toSeq == Seq[Byte](9, 8))
    // NON-chunked transfer codings join the decode chain: the wire is
    // TE(CE(body)), so `Transfer-Encoding: gzip, chunked` leaves a gzip
    // layer that must be undone after de-chunking and BEFORE any
    // Content-Encoding layer
    val teGz = Warc.splitHttp(httpRec(msg(
      "Transfer-Encoding: gzip, chunked\r\n",
      chunkBytes(gzBytes(plain), sz = 9))))
    assert(teGz.body == body && teGz.content_encoding == "" &&
      teGz.n_bytes == plain.length.toLong)
    // bare (non-chunked) TE gzip
    assert(Warc.splitHttp(httpRec(
      msg("Transfer-Encoding: gzip\r\n", gzBytes(plain)))).body == body)
    // layered across BOTH headers: CE deflate under TE gzip+chunked —
    // undo order chunked, TE-gzip, CE-deflate
    val zlib2 = {
      val d = new java.util.zip.Deflater()
      d.setInput(plain); d.finish()
      val buf = new Array[Byte](plain.length * 2 + 64)
      val m = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, m)
    }
    val both = Warc.splitHttp(httpRec(msg(
      "Content-Encoding: deflate\r\nTransfer-Encoding: gzip, chunked\r\n",
      chunkBytes(gzBytes(zlib2), sz = 13))))
    assert(both.body == body && both.content_encoding == "")
    // an undecodable TE coding surfaces instead of silently claiming
    // "fully decoded" over compressed octets
    val teBr = Warc.splitHttp(httpRec(msg(
      "Transfer-Encoding: br, chunked\r\n",
      chunkBytes(Array[Byte](7, 6), sz = 2))))
    assert(teBr.content_encoding == "br" && teBr.charset == "ISO-8859-1")
  }

  test("splitHttp charset resolution is the WHATWG ladder: BOM over " +
      "header over meta prescan over UTF-8 default; the BOM is " +
      "consumed; the prescan stops at 1024 bytes; sniffing runs on " +
      "CODING-DECODED bytes") {
    def raw(ctype: String, body: Array[Byte],
            extra: String = ""): Warc.RawRecord = httpRec(
      (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n$extra\r\n")
        .getBytes("ISO-8859-1") ++ body)
    val text = "bom body café"
    // UTF-16LE BOM beats a LYING latin-1 header, and is consumed
    val u16 = Warc.splitHttp(raw("text/html; charset=iso-8859-1",
      Array(0xFF.toByte, 0xFE.toByte) ++ text.getBytes("UTF-16LE")))
    assert(u16.charset == "UTF-16LE" && u16.body == text, u16.body)
    // UTF-8 BOM likewise consumed (no U+FEFF prefix survives)
    val u8 = Warc.splitHttp(raw("text/html",
      Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
        text.getBytes("UTF-8")))
    assert(u8.charset == "UTF-8" && u8.body == text, u8.body)
    // UTF-16BE BOM
    val be = Warc.splitHttp(raw("text/html",
      Array(0xFE.toByte, 0xFF.toByte) ++ text.getBytes("UTF-16BE")))
    assert(be.charset == "UTF-16BE" && be.body == text)
    // header (when present and supported) beats meta
    val hdrWins = Warc.splitHttp(raw("text/html; charset=utf-8",
      "<meta charset=\"iso-8859-1\"><p>café</p>".getBytes("UTF-8")))
    assert(hdrWins.charset == "utf-8" && hdrWins.body.contains("café"))
    // html5 meta form, unquoted value, cp1252 round-trip
    val m1 = Warc.splitHttp(raw("text/html",
      "<meta charset=windows-1252><p>“q”</p>"
        .getBytes("windows-1252")))
    assert(m1.charset == "windows-1252" && m1.body.contains("“q”"))
    // legacy http-equiv form, single-quoted
    val m2 = Warc.splitHttp(raw("text/html",
      ("<meta http-equiv='Content-Type' content='text/html; " +
        "charset=iso-8859-1'><p>café</p>").getBytes("ISO-8859-1")))
    assert(m2.charset == "iso-8859-1" && m2.body.contains("café"))
    // meta OUTSIDE the 1024-byte prescan window is ignored -> UTF-8
    val far = ("<html>" + ("x" * 1100) +
      "<meta charset=iso-8859-1><p>tail</p>").getBytes("UTF-8")
    assert(Warc.splitHttp(raw("text/html", far)).charset == "UTF-8")
    // unsupported meta charset name falls through to the default
    assert(Warc.splitHttp(raw("text/html",
      "<meta charset=not-a-charset><p>x</p>".getBytes("UTF-8")))
      .charset == "UTF-8")
    // sniffing happens AFTER content decoding: gzipped page, meta inside
    val gz = Warc.splitHttp(raw("text/html",
      gzBytes("<meta charset=windows-1252><p>“q”</p>"
        .getBytes("windows-1252")),
      extra = "Content-Encoding: gzip\r\n"))
    assert(gz.charset == "windows-1252" && gz.body.contains("“q”"))
    // no BOM, no header, no meta -> UTF-8 default
    assert(Warc.splitHttp(raw("text/html",
      "plain café".getBytes("UTF-8"))).charset == "UTF-8")
  }

  test("splitHttp fails LOUDLY (with file/url context) on corrupt " +
      "framing: truncated chunk, bad size line, corrupt gzip, " +
      "oversized chunk total, non-ASCII status digits") {
    val plain = "some body".getBytes("UTF-8")
    def boom(headers: String, body: Array[Byte]): Throwable =
      intercept[Exception](Warc.splitHttp(httpRec(msg(headers, body))))
    // truncated chunk data
    val t1 = boom("Transfer-Encoding: chunked\r\n",
      "ff\r\nshort".getBytes("ISO-8859-1"))
    assert(t1.getMessage.contains("t.warc") &&
      t1.getMessage.contains("truncated chunk"))
    // malformed size line
    assert(boom("Transfer-Encoding: chunked\r\n",
      "zz\r\nab\r\n0\r\n\r\n".getBytes("ISO-8859-1"))
      .getMessage.contains("chunk-size"))
    // size line longer than 8 hex digits (overflow guard)
    assert(boom("Transfer-Encoding: chunked\r\n",
      "fffffffff\r\n\r\n".getBytes("ISO-8859-1"))
      .getMessage.contains("chunk-size"))
    // corrupt gzip stream
    val t2 = boom("Content-Encoding: gzip\r\n",
      Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0, 42, 42))
    assert(t2.getMessage.contains("corrupt gzip"))
    // Unicode digits in the status code must be rejected with context,
    // not passed to toInt for a bare NumberFormatException
    val uni = ("HTTP/1.1 ٢٠٠ OK\r\nContent-Type: text/plain\r\n\r\nx")
      .getBytes("UTF-8")
    val t3 = intercept[IllegalArgumentException](
      Warc.splitHttp(httpRec(uni)))
    assert(t3.getMessage.contains("status line"))
  }

  test("splitHttp on a WARC-Truncated record: a cut gzip/chunked body " +
      "falls back to latin-1 pass-through with the undone chain " +
      "surfaced (gatable, not fatal); an intact truncated record " +
      "still decodes; untruncated corruption still fails loudly") {
    val body = "truncated record body, long enough to cut mid-stream Ω"
    val plain = body.getBytes("UTF-8")
    def trunc(payload: Array[Byte]): Warc.RawRecord =
      httpRec(payload).copy(truncated = "length")
    // gzip stream cut mid-member (the Common Crawl ~1 MiB cut shape)
    val cutGz = gzBytes(plain).dropRight(9)
    val g = Warc.splitHttp(trunc(msg("Content-Encoding: gzip\r\n", cutGz)))
    assert(g.warc_truncated == "length" && g.content_encoding == "gzip" &&
      g.charset == "ISO-8859-1", g)
    assert(g.body.toCharArray.map(_.toByte).toSeq == cutGz.toSeq,
      "stored octets must pass through latin-1 losslessly")
    // chunk framing cut mid-chunk: the whole chain surfaces, chunked
    // LAST (it was the outermost wire layer)
    val cutChunks = chunkBytes(gzBytes(plain), sz = 11).dropRight(20)
    val c = Warc.splitHttp(trunc(msg(
      "Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n",
      cutChunks)))
    assert(c.content_encoding == "gzip,chunked" &&
      c.charset == "ISO-8859-1", c)
    // a truncated record whose stored prefix happens to decode fine
    // (cut fell on a member boundary) decodes normally
    val ok = Warc.splitHttp(trunc(msg(
      "Content-Encoding: gzip\r\n", gzBytes(plain))))
    assert(ok.body == body && ok.content_encoding == "" &&
      ok.warc_truncated == "length")
    // identity truncated body: plain pass-through, still gatable
    val id = Warc.splitHttp(trunc(msg("", plain.dropRight(5))))
    assert(id.warc_truncated == "length" && id.content_encoding == "")
    // NOT truncated -> the loud-failure stance is unchanged
    intercept[Exception](Warc.splitHttp(
      httpRec(msg("Content-Encoding: gzip\r\n", cutGz))))
  }

  test("empty-valued WARC-Truncated header gates on PRESENCE: a " +
      "reasonless `WARC-Truncated:` (real crawlers emit these) maps " +
      "to the WARC 1.1 `unspecified` token through the full record " +
      "parse, and a cut gzip body under it decodes via the fallback " +
      "instead of killing the job (VERDICT r15 #1)") {
    val plain = ("reasonless truncation body Ω " * 4).getBytes("UTF-8")
    val cutGz = gzBytes(plain).dropRight(9)
    val payload = msg("Content-Encoding: gzip\r\n", cutGz)
    def record(truncHeader: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(("WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        "WARC-Target-URI: https://cut.example/x\r\n" +
        "WARC-Date: 2026-02-01T00:00:00Z\r\n" +
        truncHeader +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n")
        .getBytes("ISO-8859-1"))
      out.write(payload)
      out.write("\r\n\r\n".getBytes("ISO-8859-1"))
      out.toByteArray
    }
    val dir = Files.createTempDirectory("graft-warc-trunc-empty")
    Files.write(dir.resolve("p0.warc"),
      record("WARC-Truncated:\r\n") ++       // reasonless
        record("WARC-Truncated: length\r\n") ++ // reasoned
        record(""))                          // absent
    val recs = Warc.parseFileRaw(dir.resolve("p0.warc").toString,
      new org.apache.hadoop.conf.Configuration()).toList
    assert(recs.map(_.truncated) == List("unspecified", "length", ""))
    // the reasonless record's cut gzip body decodes via the fallback —
    // gatable, not fatal
    val h = Warc.splitHttp(recs.head)
    assert(h.warc_truncated == "unspecified" &&
      h.content_encoding == "gzip" && h.charset == "ISO-8859-1", h)
    // the untruncated record keeps the loud-failure stance
    intercept[Exception](Warc.splitHttp(recs(2)))
  }

  test("chunked-framing mutation fuzz: corrupting a valid chunked+" +
      "gzip response anywhere yields an HttpRecord or a clean " +
      "exception — never a hang, OOM, or crash (VERDICT r12 #2)") {
    val body = ("fuzz corpus body with enough length to span several " +
      "chunk frames Ω § and multibyte noise ☃ ").* (4)
    val base = msg(
      "Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n",
      chunkBytes(gzBytes(body.getBytes("UTF-8")), sz = 13))
    val rnd = new scala.util.Random(2213)
    var parsedSome = 0
    (1 to 300).foreach { _ =>
      val mut = base.clone()
      val payload: Array[Byte] = rnd.nextInt(3) match {
        case 0 =>
          val p = rnd.nextInt(mut.length)
          mut(p) = (mut(p) ^ (1 << rnd.nextInt(8))).toByte
          mut
        case 1 =>
          java.util.Arrays.copyOfRange(mut, 0,
            1 + rnd.nextInt(mut.length - 1))
        case 2 =>
          val p = rnd.nextInt(mut.length - 2)
          val l = 1 + rnd.nextInt(math.min(32, mut.length - p - 1))
          System.arraycopy(mut, p, mut,
            math.min(p + l, mut.length - l), l)
          mut
      }
      try { Warc.splitHttp(httpRec(payload)); parsedSome += 1 }
      catch {
        case _: IllegalArgumentException => () // framing requires
        case _: java.io.IOException => ()      // corrupt gzip/deflate
      }
    }
    info(s"chunk fuzz: $parsedSome of 300 mutants split cleanly")
    assert(parsedSome > 0, "fuzz vacuously rejected everything")
  }

  test("WARC-Truncated surfaces on HTTP records: the Common Crawl " +
      "~1MiB payload cut is visible as a gateable column, absent = ''") {
    val body = "partial body".getBytes("UTF-8")
    val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n")
      .getBytes("ISO-8859-1") ++ body
    def member(url: String, truncated: Option[String]): Array[Byte] = {
      val hdr = new StringBuilder
      hdr.append("WARC/1.0\r\nWARC-Type: response\r\n")
      hdr.append(s"WARC-Target-URI: $url\r\n")
      hdr.append("WARC-Date: 2026-01-01T00:00:00Z\r\n")
      truncated.foreach(t => hdr.append(s"WARC-Truncated: $t\r\n"))
      hdr.append("Content-Type: application/http; msgtype=response\r\n")
      hdr.append(s"Content-Length: ${http.length}\r\n\r\n")
      hdr.toString.getBytes("ISO-8859-1") ++ http ++
        "\r\n\r\n".getBytes("ISO-8859-1")
    }
    val dir = Files.createTempDirectory("graft-warc-trunc")
    Files.write(dir.resolve("t.warc"),
      member("https://t.ex/cut", Some("length")) ++
        member("https://t.ex/whole", None))
    val got = Warc.readResponses(spark, dir.toString)
      .select("url", "warc_truncated").as[(String, String)]
      .collect().toMap
    assert(got == Map("https://t.ex/cut" -> "length",
      "https://t.ex/whole" -> ""), s"got $got")
  }

  test("ShippedConf broadcast is reused across reads on the same " +
      "session+conf and reminted when the hadoop conf changes (the " +
      "accumulation fix: one broadcast per session/conf, not per call)") {
    val bc1 = Warc.shippedConfBc(spark)
    val bc2 = Warc.shippedConfBc(spark)
    assert(bc1 eq bc2, "same session+conf must reuse the broadcast")
    spark.sparkContext.hadoopConfiguration
      .set("graft.test.bc.remint", s"v${System.nanoTime()}")
    val bc3 = Warc.shippedConfBc(spark)
    assert(!(bc3 eq bc1), "conf change must mint a new broadcast")
    assert(bc3.value.value.get("graft.test.bc.remint") != null)
    assert(Warc.shippedConfBc(spark) eq bc3)
  }

  private def typedRows(n: Int): org.apache.spark.sql.DataFrame =
    (0 until n).map { i =>
      val rt = if (i % 3 == 0) "resource" else "metadata"
      // payload sizes vary 1..~400 bytes so shard boundaries land
      // mid-stream, not on record multiples
      val payload = (s"payload $i " * (i % 13 + 1)).getBytes("UTF-8")
      (rt, f"https://t.example/r$i%03d", "2026-01-01T00:00:00Z",
        "application/octet-stream", payload)
    }.toDF("rec_type", "url", "warc_date", "content_type", "payload")

  test("assignShards is a PURE function of the record set: identical " +
      "shard ids under any input partitioning/order, contiguous from " +
      "0, monotone along the (rec_type, url) order") {
    val base = typedRows(60)
    def assignment(df: org.apache.spark.sql.DataFrame)
        : Map[String, Long] =
      Warc.assignShards(df, targetBytes = 600L)
        .select("url", "shard_id").as[(String, Long)].collect().toMap
    val a1 = assignment(base.repartition(1))
    val a7 = assignment(base.repartition(7))
    val aShuf = assignment(base.orderBy(rand(42)).repartition(3))
    assert(a1 == a7 && a1 == aShuf,
      "shard assignment drifted under repartitioning")
    // exact arithmetic: ids equal an INDEPENDENT driver-side fold over
    // the (rec_type, url)-ordered members (floor(offset_before/target))
    val ordered = base
      .select(col("rec_type"), col("url"), length(col("payload")))
      .as[(String, String, Int)].collect()
      .sortBy(r => (r._1, r._2))
    var off = 0L
    val expected = ordered.map { case (_, url, n) =>
      val id = off / 600L; off += n; url -> id }.toMap
    assert(a1 == expected, s"ids != driver fold: ${
      a1.toSet.diff(expected.toSet).take(3)}")
    assert(a1.values.toSet.size > 3, "fixture must exercise rotation")
    // monotone: walking members in (rec_type, url) order never
    // decreases the shard id (the rotation invariant)
    val mono = Warc.assignShards(base, 600L)
      .orderBy(col("rec_type"), col("url"))
      .select("shard_id").as[Long].collect()
    assert(mono.zip(mono.tail).forall { case (a, b) => a <= b },
      "shard ids must be monotone along the member order")
  }

  test("oversized records SKIP shard ids (offset-derived labels, not " +
      "sequence numbers) and the writer writes one file per distinct " +
      "id") {
    // one 2000-byte record among ~100-byte ones at a 600-byte target:
    // the id after the giant advances by floor-width, leaving gaps
    val rows = (0 until 20).map { i =>
      val payload =
        if (i == 7) Array.fill[Byte](2000)('x'.toByte)
        else s"payload $i padded to size".getBytes("UTF-8")
      ("resource", f"https://t.example/o$i%03d", "2026-01-01T00:00:00Z",
        "application/octet-stream", payload)
    }.toDF("rec_type", "url", "warc_date", "content_type", "payload")
    val ids = Warc.assignShards(rows, 600L)
      .select("url", "shard_id").as[(String, Long)].collect()
      .toMap.values.toSet
    assert(ids.size < ids.max + 1,
      s"fixture must produce a gap: $ids") // the giant skipped ids
    val dir = Files.createTempDirectory("graft-warc-oversize").toString
    Warc.writeShardedTypedRecords(rows, dir, 600L)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz"))
    assert(files.length == ids.size,
      s"wrote ${files.length} files for ${ids.size} distinct ids")
    // every member still lands in its assigned (possibly gapped) shard
    val got = Warc.readRaw(spark, dir)
      .filter(col("rec_type") =!= "warcinfo").count()
    assert(got == 20, s"members: $got")
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("writeShardedTypedRecords rotates shard files at the size " +
      "target and round-trips every member into the shard " +
      "assignShards computed") {
    val base = typedRows(60)
    val dir = Files.createTempDirectory("graft-warc-shard").toString
    Warc.writeShardedTypedRecords(base, dir, targetBytes = 600L)
    val expected = Warc.assignShards(base, 600L)
      .select("url", "shard_id").as[(String, Long)].collect().toMap
    val n = expected.values.toSet.size
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).map(_.getName).sorted
    assert(files.length == n, s"expected $n shard files, got $files")
    assert(files.forall(_.matches("shard-\\d{5}\\.warc\\.gz")), files)
    val got = Warc.readRaw(spark, dir)
      .filter(col("rec_type") =!= "warcinfo")
      .select(regexp_extract(col("file"),
          "shard-(\\d+)\\.warc\\.gz", 1).cast("long").as("shard"),
        col("url"))
      .as[(Long, String)].collect()
    assert(got.length == 60, s"member count: ${got.length}")
    got.foreach { case (shard, url) =>
      assert(expected(url) == shard,
        s"$url landed in shard $shard, assignment says ${expected(url)}")
    }
    // each shard is one file with its own warcinfo header
    val infos = Warc.readRaw(spark, dir)
      .filter(col("rec_type") === "warcinfo").count()
    assert(infos == n, s"one warcinfo per shard: $infos vs $n")
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("WarcDataSource (DSv2) reads the same rows readRaw parses, one " +
      "split per archive file, and the pushed rec_type/url-prefix " +
      "skip never drops a matching member") {
    val base = typedRows(40)
    val dir = Files.createTempDirectory("graft-warc-dsv2").toString
    Warc.writeTypedRecords(base.repartition(3), dir)
    def viaSource = spark.read
      .format("graft.spark.datasource.WarcDataSource").load(dir)
    // full equality against the mapPartitions reader (payload via md5)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("rec_type"), col("url"), col("warc_date"),
        col("content_type"), col("n_bytes"),
        md5(col("payload")).as("pm"))
      .as[(String, String, String, String, Long, String)]
      .collect().toSet
    assert(canon(viaSource) == canon(Warc.readRaw(spark, dir)),
      "DSv2 rows differ from readRaw")
    // one split per part file
    assert(viaSource.rdd.getNumPartitions == 3,
      s"expected 3 splits, got ${viaSource.rdd.getNumPartitions}")
    // pushdown paths: equality, IN, url prefix — results must equal the
    // residual-only evaluation (superset-safe means EQUAL post-filter)
    val md = viaSource.filter(col("rec_type") === "metadata")
    assert(md.count() == base.filter(col("rec_type") === "metadata")
      .count())
    val in2 = viaSource.filter(
      col("rec_type").isin("metadata", "warcinfo"))
    assert(in2.count() ==
      base.filter(col("rec_type") === "metadata").count() + 3)
    val pre = viaSource.filter(col("url").startsWith(
      "https://t.example/r00"))
    assert(pre.count() == 10, s"prefix skip: ${pre.count()}")
    // contradictory prefixes read nothing (and don't error)
    assert(viaSource.filter(col("url").startsWith("https://t.example/r00"))
      .filter(col("url").startsWith("other://")).count() == 0)
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("WarcDataSource column pruning: a url-only projection's scan " +
      "schema carries no payload column (the archive-listing shape), " +
      "and the pushed skip set is visible in the plan") {
    val base = typedRows(20)
    val dir = Files.createTempDirectory("graft-warc-prune").toString
    Warc.writeTypedRecords(base.repartition(2), dir)
    val df = spark.read
      .format("graft.spark.datasource.WarcDataSource").load(dir)
      .filter(col("rec_type") === "metadata")
      .select(col("url"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skip=[metadata]"),
      s"pushed rec_type skip not in plan:\n${plan.take(1500)}")
    // the scan's pruned column list excludes payload
    val scanLine = plan.linesIterator
      .find(_.contains("columns=[")).getOrElse("")
    assert(scanLine.contains("columns=[") &&
      !scanLine.contains("payload"),
      s"payload not pruned from scan: $scanLine")
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("sampleShardLocal is a PURE function of (seed, member set): " +
      "identical samples under any input partitioning, k per shard, " +
      "a different seed draws differently, and the rank matches an " +
      "independent driver-side sort") {
    val members = (0 until 60).map { i =>
      (i.toLong % 5, s"https://t.example/m$i%03d".format(i))
    }.toDF("shard", "url")
    def draw(df: org.apache.spark.sql.DataFrame, seed: String) =
      Warc.sampleShardLocal(df, k = 3, seed = seed)
        .select("shard", "url", "rn").as[(Long, String, Long)]
        .collect().toSet
    val d1 = draw(members.repartition(1), "s1")
    val d7 = draw(members.repartition(7), "s1")
    val dShuf = draw(members.orderBy(rand(99)).repartition(3), "s1")
    assert(d1 == d7 && d1 == dShuf,
      "sample drifted under repartitioning")
    assert(d1.groupBy(_._1).forall(_._2.size == 3), "k per shard")
    assert(draw(members, "s2") != d1, "seed must change the draw")
    // exact rank: the same seeded hash sort done on the driver
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): String = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expected = (0 until 60)
      .map(i => (i.toLong % 5, s"https://t.example/m$i%03d".format(i)))
      .groupBy(_._1).toSeq.flatMap { case (shard, rows) =>
        rows.map(_._2).sortBy(u => (h("s1" + u), u)).take(3)
          .zipWithIndex.map { case (u, j) => (shard, u, j + 1L) }
      }.toSet
    assert(d1 == expected, "rank != driver-side seeded sort")
  }

  // ---- DSv2 write path (r19 VERDICT #2) ----

  private def fileBytes(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz"))
      .map(f => f.getName ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap

  test("DSv2 sharded write is byte-identical to a driver-side " +
      "serialization of the assignment: assignShards + " +
      "df.write.format(...).mode(overwrite) produces the same shard " +
      "files from ANY input partitioning") {
    val base = typedRows(60)
    // the reference: every shard's warcinfo, then its members in
    // (rec_type, url) order, serialized on the driver
    val reference = Warc.assignShards(base, 600L)
      .as[(String, String, String, String, Array[Byte], Long)].collect()
      .groupBy(_._6).map { case (shard, members) =>
        val bos = new java.io.ByteArrayOutputStream()
        Warc.writeMember(bos, "warcinfo", "", "2026-01-01T00:00:00Z",
          "application/warc-fields",
          "software: graft-warc-fixture/1.0\r\n".getBytes("UTF-8"))
        members.sortBy(r => (r._1, r._2)).foreach {
          case (rt, url, date, ct, payload, _) =>
            Warc.writeMember(bos, rt, url, date, ct, payload)
        }
        f"shard-$shard%05d.warc.gz" -> bos.toByteArray.toSeq
      }
    assert(reference.size > 3, "fixture must exercise rotation")
    val viaSink = Files.createTempDirectory("graft-wsink-dsv2").toString
    // scramble the input: the Write DECLARES clustering/ordering on
    // shard_id and Spark must plan the exchange + sort itself
    Warc.assignShards(base, 600L).orderBy(rand(7)).repartition(5)
      .write.format("graft.spark.datasource.WarcDataSource")
      .mode("overwrite").save(viaSink)
    val sink = fileBytes(viaSink)
    assert(sink.keySet == reference.keySet,
      s"shard sets differ: ${sink.keySet} vs ${reference.keySet}")
    sink.keySet.foreach { n =>
      assert(sink(n) == reference(n), s"shard $n bytes differ")
    }
    assert(new java.io.File(viaSink).listFiles()
      .forall(!_.getName.startsWith(".tmp")), "temp files leaked")
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(viaSink))
  }

  test("a failed overwrite keeps the previous snapshot: Warc.read " +
      "returns exactly its records and no temp file is left; a later " +
      "overwrite sweeps a stale .tmp- leftover") {
    val dir = Files.createTempDirectory("graft-warc-failed").toString
    val a = mkRows(12)
    Warc.write(a.toDF("url", "warc_date", "text").repartition(2), dir)
    def snapshot = Warc.read(spark, dir)
      .filter(col("rec_type") === "conversion")
      .select("url", "warc_date", "text")
      .as[(String, String, String)].collect().toSet
    def names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(snapshot == a.toSet)
    // one partition, so the raising row arrives after members are
    // already streaming into the task's temp
    val failing = spark.range(0, 6, 1, 1).select(
      concat(lit("https://t.example/new/"), col("id")).as("url"),
      lit("2026-03-01T00:00:00Z").as("warc_date"),
      when(col("id") === 4, raise_error(lit("planted write failure")))
        .otherwise(concat(lit("new body "), col("id"))).as("text"))
    val e = intercept[Exception](Warc.write(failing, dir))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage)
        .exists(_.contains("planted write failure"))), e)
    assert(snapshot == a.toSet, "a failed overwrite degraded the snapshot")
    assert(!names.exists(_.contains(".tmp")), s"temp leftovers: $names")
    // a killed run's temps (this sink's name, and the shape the removed
    // per-task writers used) are garbage to the next overwrite
    val stale = Seq(".tmp-part-00007.warc.gz-attempt-99",
      ".tmp-part-00000-attempt-3.warc.gz")
    stale.foreach(n => Files.write(Paths.get(dir, n), Array[Byte](1, 2)))
    Warc.write(mkRows(3).toDF("url", "warc_date", "text").coalesce(1), dir)
    assert(!names.exists(_.contains(".tmp")), s"stale temps kept: $names")
    assert(snapshot == mkRows(3).toSet)
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("DSv2 plain batch write: append assigns FRESH part numbers " +
      "after the existing ones; overwrite publishes the new snapshot " +
      "and GCs the previous files") {
    val dir = Files.createTempDirectory("graft-wsink-plain").toString
    val a = typedRows(12).repartitionByRange(2, col("url"))
      .sortWithinPartitions(col("url"))
    a.write.format("graft.spark.datasource.WarcDataSource")
      .mode("append").save(dir)
    a.write.format("graft.spark.datasource.WarcDataSource")
      .mode("append").save(dir)
    val names1 = fileBytes(dir).keySet
    assert(names1 == Set("part-00000.warc.gz", "part-00001.warc.gz",
      "part-00002.warc.gz", "part-00003.warc.gz"), names1)
    assert(Warc.readRaw(spark, dir)
      .filter(col("rec_type") =!= "warcinfo").count() == 24)
    // overwrite: 1 new partition, previous 4 files GC'd after commit
    typedRows(5).coalesce(1)
      .write.format("graft.spark.datasource.WarcDataSource")
      .mode("overwrite").save(dir)
    val names2 = fileBytes(dir).keySet
    assert(names2 == Set("part-00004.warc.gz"),
      s"overwrite left stale files: $names2")
    assert(Warc.readRaw(spark, dir)
      .filter(col("rec_type") =!= "warcinfo").count() == 5)
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("DSv2 write validates its own shape LOUDLY (ACCEPT_ANY_SCHEMA " +
      "skips Spark's resolution): extra column, wrong shard_id type, " +
      "missing column, sharded append collision, sharded streaming") {
    val dir = Files.createTempDirectory("graft-wsink-shape").toString
    def boom(df: org.apache.spark.sql.DataFrame,
             mode: String = "append"): Throwable =
      intercept[Throwable] {
        df.write.format("graft.spark.datasource.WarcDataSource")
          .mode(mode).save(dir)
      }
    def messages(t: Throwable): String = {
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    }
    val base = typedRows(6)
    assert(messages(boom(base.withColumn("junk", lit(1))))
      .contains("unexpected columns"))
    assert(messages(boom(base.withColumn("shard_id", lit(0.5))))
      .contains("shard_id must be bigint"))
    assert(messages(boom(base.drop("warc_date")))
      .contains("warc_date"))
    // sharded append into a dir that already has shard files collides
    Warc.assignShards(base, 600L)
      .write.format("graft.spark.datasource.WarcDataSource")
      .mode("overwrite").save(dir)
    assert(messages(boom(Warc.assignShards(base, 600L)))
      .contains("ids would collide"))
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("DSv2 sink custom metrics: members / payload bytes / file " +
      "rotations flow through the CustomMetric channel (the " +
      "DatDataSource pages-decoded precedent on the write side)") {
    val dir = Files.createTempDirectory("graft-wsink-metrics").toString
    val schema = typedRows(1).withColumn("shard_id", lit(0L)).schema
    val w = new graft.spark.datasource.WarcWrite(dir, schema,
      truncate = false, queryId = "")
    assert(w.supportedCustomMetrics().map(_.name()).toSet ==
      Set("warcMembersWritten", "warcPayloadBytes", "warcFilesRotated"))
    // drive one task writer by hand: 3 members across 2 shards
    val factory = new graft.spark.datasource.WarcWriterFactory(dir,
      schema, new Warc.ShippedConf(Warc.sessionHadoopConf(spark)),
      sharded = true, partBase = 0, epochId = -1L)
    val dw = factory.createWriter(0, 42L)
    def row(shard: Long, i: Int, payload: Array[Byte]) =
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(Seq(
        org.apache.spark.unsafe.types.UTF8String.fromString("resource"),
        org.apache.spark.unsafe.types.UTF8String
          .fromString(s"https://t.example/m$i"),
        org.apache.spark.unsafe.types.UTF8String
          .fromString("2026-01-01T00:00:00Z"),
        org.apache.spark.unsafe.types.UTF8String
          .fromString("application/octet-stream"),
        payload, shard))
    dw.write(row(0L, 0, Array.fill[Byte](10)('a')))
    dw.write(row(0L, 1, Array.fill[Byte](7)('b')))
    dw.write(row(1L, 2, Array.fill[Byte](5)('c')))
    val m = dw.currentMetricsValues().map(t => t.name() -> t.value())
      .toMap
    assert(m == Map("warcMembersWritten" -> 3L,
      "warcPayloadBytes" -> 22L, "warcFilesRotated" -> 2L), m)
    dw.commit()
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("DSv2 streaming sink: epochs land as lexically-increasing " +
      "increments through writeStream.format(...), and the sidecar " +
      "replay guard makes a re-delivered epoch a no-op") {
    val dir = Files.createTempDirectory("graft-wsink-stream").toString
    val ckpt = Files.createTempDirectory("graft-wsink-ckpt").toString
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, String, String, String,
      Array[Byte])]
    val q = mem.toDF()
      .toDF("rec_type", "url", "warc_date", "content_type", "payload")
      .writeStream
      .format("graft.spark.datasource.WarcDataSource")
      .option("checkpointLocation", ckpt)
      .start(dir)
    def recs(tag: String, n: Int) = (0 until n).map(i =>
      ("conversion", s"https://t.example/$tag/$i",
        "2026-01-01T00:00:00Z", "text/plain",
        s"body $tag $i".getBytes("UTF-8")))
    mem.addData(recs("inc1", 4): _*)
    q.processAllAvailable()
    mem.addData(recs("inc2", 3): _*)
    q.processAllAvailable()
    q.stop()
    val names = fileBytes(dir).keySet.toSeq.sorted
    assert(names.forall(_.matches("stream-\\d{12}-\\d{5}\\.warc\\.gz")),
      s"epoch naming: $names")
    // two distinct epochs, names strictly increasing epoch-major
    val epochs = names.map(_.substring(7, 19)).distinct
    assert(epochs.size == 2, s"expected 2 epochs: $names")
    assert(Warc.readRaw(spark, dir)
      .filter(col("rec_type") === "conversion").count() == 7)
    // replay guard, driven directly at the StreamingWrite surface: a
    // crash between the sink commit and the engine's checkpoint commit
    // re-delivers the epoch; the sidecar must swallow it
    val hconf = Warc.sessionHadoopConf(spark)
    val hdir = new org.apache.hadoop.fs.Path(dir)
    val fs = hdir.getFileSystem(hconf)
    val sidecar = graft.spark.datasource.WarcStreamState.read(fs, hdir)
    assert(sidecar.exists(_._2 == 1L), s"sidecar after 2 epochs: " +
      s"$sidecar")
    val owner = sidecar.get._1
    val sw = new graft.spark.datasource.WarcStreamingWrite(dir,
      mem.toDF().toDF("rec_type", "url", "warc_date", "content_type",
        "payload").schema, owner)
    val tmp = new org.apache.hadoop.fs.Path(dir, ".tmp-replay")
    val out = fs.create(tmp, true)
    out.write("x".getBytes); out.close()
    sw.commit(1L, Array(graft.spark.datasource.WarcCommitMessage(
      Seq(("stream-000000000001-99999.warc.gz", tmp.toString)), 1L)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir,
      "stream-000000000001-99999.warc.gz")),
      "replayed epoch must not publish")
    assert(!fs.exists(tmp), "replayed epoch must drop its temps")
    assert(Warc.readRaw(spark, dir)
      .filter(col("rec_type") === "conversion").count() == 7)
    // a DIFFERENT query id is not a replay — it is a second producer,
    // and the landing dir refuses it loudly
    val alien = intercept[IllegalArgumentException] {
      new graft.spark.datasource.WarcStreamingWrite(dir,
        mem.toDF().toDF("rec_type", "url", "warc_date", "content_type",
          "payload").schema, "someone-else")
        .commit(2L, Array.empty)
    }
    assert(alien.getMessage.contains("stream-owned"))
    // a replayed epoch that re-plans with FEWER partitions supersedes
    // its pre-crash files: epoch-tagged names not in the new commit's
    // set are stale orphans that would duplicate rows at the consumer
    val stale = new org.apache.hadoop.fs.Path(dir,
      "stream-000000000002-00099.warc.gz")
    val so = fs.create(stale, true); so.write("old".getBytes); so.close()
    val tmp2 = new org.apache.hadoop.fs.Path(dir, ".tmp-replay2")
    val o2 = fs.create(tmp2, true); o2.write("y".getBytes); o2.close()
    sw.commit(2L, Array(graft.spark.datasource.WarcCommitMessage(
      Seq(("stream-000000000002-00000.warc.gz", tmp2.toString)), 1L)))
    assert(!fs.exists(stale),
      "pre-crash epoch file must be superseded by the replay's set")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir,
      "stream-000000000002-00000.warc.gz")))
    Seq(dir, ckpt).foreach(d => org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(d)))
  }
}

/** Local filesystem under a scheme that ONLY exists via programmatic
  * `spark.hadoop.fs.gtest.impl` session configuration — the WarcSpec
  * probe proving the reader ships the session conf to its tasks.
  */
class GtestFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "gtest"
  override def getUri: java.net.URI = java.net.URI.create("gtest:///")
}
