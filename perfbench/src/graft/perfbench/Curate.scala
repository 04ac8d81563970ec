package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.TextGolden

/** Seeded `documents`/`embeddings` tables drawn from the distributions
  * measured on the sf0.1 test data (`corpus_stats.py` measures both the
  * same way; README.md, "Curate inputs", compares them): documents of a
  * uniform 10–99 words over sf0.1's 30-word vocabulary, about 5 % of them
  * a copy of an earlier document plus " dup", 3 in 7 tagged `en`, source
  * `src<id mod 20>`; unit-length 64-dim Gaussian embeddings with labels
  * 0–9. Written as one parquet file each, as the test data ships them.
  */
final class Corpus(seed: Long, val nDocs: Int, val nVecs: Int) {
  private val vocab = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  private val langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  val texts: Array[String] = {
    val rnd = new scala.util.Random(seed)
    val out = new Array[String](nDocs)
    for (i <- 0 until nDocs) {
      out(i) =
        if (i >= 10 && rnd.nextDouble() < 0.05) out(rnd.nextInt(i)) + " dup"
        else Array.fill(10 + rnd.nextInt(90))(vocab(rnd.nextInt(vocab.length)))
          .mkString(" ")
    }
    out
  }

  /** Unit-length 64-dim vectors with a label 0–9. */
  val vectors: Array[(Array[Float], Int)] = {
    val rnd = new scala.util.Random(seed + 2)
    Array.fill(nVecs) {
      val v = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (v.map(x => (x / norm).toFloat), rnd.nextInt(10))
    }
  }

  private val docLangs: Array[String] = {
    val rnd = new scala.util.Random(seed + 1)
    Array.fill(nDocs)(langs(rnd.nextInt(langs.length)))
  }

  /** The statistics `corpus_stats.py` reports for a pair of tables, with
    * the same names and definitions.
    */
  def stats: Seq[(String, Double)] = {
    val words = texts.map(_.split(" ").length)
    val comps = vectors.flatMap(_._1.map(_.toDouble))
    val compMean = comps.sum / comps.length
    Seq(
      "docs" -> nDocs.toDouble,
      "vocabulary" -> texts.flatMap(_.split(" ")).distinct.length.toDouble,
      "words_min" -> words.min.toDouble,
      "words_max" -> words.max.toDouble,
      "words_mean" -> words.sum.toDouble / nDocs,
      "chars_mean" -> texts.map(_.length.toLong).sum.toDouble / nDocs,
      "dup_share" -> texts.count(_.endsWith(" dup")).toDouble / nDocs,
      "en_share" -> docLangs.count(_ == "en").toDouble / nDocs,
      "vectors" -> nVecs.toDouble,
      "dim" -> vectors.head._1.length.toDouble,
      "norm_mean" -> vectors.map(v => math.sqrt(v._1.map(x => x.toDouble * x).sum)).sum / nVecs,
      "component_sd" -> math.sqrt(comps.map(x => (x - compMean) * (x - compMean)).sum / comps.length),
      "labels" -> vectors.map(_._2).distinct.length.toDouble)
  }

  def write(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val docs = texts.indices.map { i =>
      Row(i.toLong, texts(i), docLangs(i), s"src${i % 20}",
        texts(i).length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val vecs = vectors.indices.map { i =>
      Row(i.toLong, vectors(i)._1.toSeq, vectors(i)._2)
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    def dump(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    dump(docs, docSchema, "documents")
    dump(vecs, vecSchema, "embeddings")
  }

  /** l05: the entry plants a copy of each of the first 10 vectors with
    * its first component raised by 0.001 (float arithmetic, as the entry
    * does), buckets all vectors by the signs of 8 seeded hyperplane
    * projections, and keeps same-bucket pairs with cosine ≥ 0.9. A planted
    * copy whose projection on some plane changes sign lands in another
    * bucket, so the pin replays the bucketing (with the entry's planes)
    * and the cosine over all pairs.
    */
  def embeddingPairs: Long = {
    val planted = vectors.take(10).map { case (v, _) =>
      v.updated(0, v(0) + 0.001f) }
    val all = vectors.map(_._1) ++ planted
    val planes = graft.operators.Similarity.rademacherPlanes(8, 64)
    def bucket(v: Array[Float]): Long = planes.indices.map { b =>
      var dot = 0.0d
      for (i <- v.indices) dot += v(i).toDouble * planes(b)(i)
      if (dot > 0) 1L << b else 0L
    }.sum
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.map(i => x(i).toDouble * y(i)).sum
      dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    }
    val byBucket = all.indices.groupBy(i => bucket(all(i))).values
    byBucket.map { ids =>
      (for (x <- ids; y <- ids if x < y && cosine(all(x), all(y)) >= 0.9)
        yield 1L).sum
    }.sum
  }

  /** l62: nodes of the entry's doc-id graph (edges from every doc_id not
    * divisible by 11 to doc_id % 13 and (7 doc_id + 3) % 101).
    */
  def pagerankNodes: Long =
    (0 until nDocs).filter(_ % 11 != 0).flatMap { i =>
      Seq(i, i % 13, (i * 7 + 3) % 101)
    }.distinct.size.toLong

  /** The panel — one entry per operator family — with each entry's
    * expected row count.
    */
  lazy val pins: Seq[(String, Long)] = Seq(
    "l53_pii_redact" -> nDocs.toLong,
    "l20_bm25_terms" -> bm25Rows,
    "l05_embedding_neardup" -> embeddingPairs,
    "l62_pagerank" -> pagerankNodes)

  /** l20: the top 3 terms of every document (fewer when it has fewer
    * distinct terms).
    */
  def bm25Rows: Long =
    texts.map(t => math.min(3, TextGolden.tokens(t).distinct.length).toLong).sum
}

object Corpus {
  private var memo: Option[Corpus] = None

  def of(args: Main.Args): Corpus = synchronized {
    if (memo.isEmpty) memo = Some(
      if (args.tiny) new Corpus(args.seed, 200, 100)
      else new Corpus(args.seed, 1000, 400))
    memo.get
  }
}

/** `curate_full`: one op = one panel entry, its full result written to
  * the `noop` sink (so kernels whose output `count()` would prune still
  * run), its row count observed on the way and checked against an
  * independently derived pin. Ops cycle through the panel in a fixed
  * order; a pass is the panel once, and the pass time reported is the sum
  * of the entries' median op times.
  */
final class CurateFull(ctx: Ctx) extends Workload {
  private val corpus = Corpus.of(ctx.args)
  private val dir = new java.io.File("sf").getCanonicalPath
  private var panel: Seq[(String, Long)] = Nil
  private val entryS, entryCpuS, untracedS =
    scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  private val entryShuffle = scala.collection.mutable.Map[String, Counts]()

  def prepare(): Unit = {
    corpus.write(ctx.spark, dir)
    panel = corpus.pins.zipWithIndex.map { case ((k, v), i) =>
      k -> (if (ctx.args.plantWrong && i == 0) v + 1 else v)
    }
    ctx.diagnostic("panel_rows", Json.obj(panel.map { case (k, v) => k -> v.toString }))
    ctx.diagnostic("corpus_stats", Json.obj(corpus.stats.map { case (k, v) =>
      k -> Json.num(v) }))
  }

  /** One entry op; returns its seconds, NaN when it threw. */
  private def entryOp(name: String, want: Long): Double = {
    var rows = -1L
    val c0 = ctx.trace.counts
    val sec = ctx.op(s"curate.$name") {
      val obs = Observation(name)
      val df = graft.SparkEntry.queries(name)(ctx.spark, dir)
      ctx.noop(df.observe(obs, count(lit(1)).as("rows")))
      rows = obs.get("rows").asInstanceOf[Long]
    } {
      if (rows != want) ctx.note(s"$name rows $rows, pinned $want")
      rows == want
    }
    if (ctx.trace.active) entryShuffle(name) = ctx.trace.counts - c0
    sec
  }

  /** The first pass runs cold (≈ 2.5× a warm one); entry times still
    * fall by a tenth or more over the next two passes (the artifact's
    * `warmup_s` and `entry_s`).
    */
  def warmup(): Unit = ctx.warm(3)(panel.map { case (n, w) => entryOp(n, w) }.sum)

  /** Whole passes until the deadline: at least one, two in a traced run
    * (one traced, one not).
    */
  def measure(deadlineNs: Long): Unit = {
    val minOps = panel.length * (if (ctx.args.trace) 2 else 1)
    var i = 0
    while (System.nanoTime() < deadlineNs || i < minOps || i % panel.length != 0) {
      val pass = i / panel.length
      // a traced run alternates traced and untraced passes: the difference
      // is the tracing overhead
      if (i % panel.length == 0) ctx.trace.attach(pass % 2 == 0)
      val (name, want) = panel(i % panel.length)
      val t = entryOp(name, want)
      if (!t.isNaN && (ctx.trace.active || !ctx.args.trace)) {
        entryS.getOrElseUpdate(name, ArrayBuffer()) += t
        entryCpuS.getOrElseUpdate(name, ArrayBuffer()) += ctx.lastCpuS
      } else if (!t.isNaN) untracedS.getOrElseUpdate(name, ArrayBuffer()) += t
      i += 1
    }
    ctx.trace.attach(true)
  }

  private def passS(times: collection.Map[String, ArrayBuffer[Double]]): Double =
    panel.map { case (name, _) =>
      times.get(name).filter(_.nonEmpty).map(t => Stats.median(t.toSeq))
        .getOrElse(Double.NaN)
    }.sum

  def endToEnd(): Unit = {
    ctx.endToEnd("op_cpu_ms", passS(entryCpuS) * 1e3, "ms")
    for ((key, times) <- Seq("entry_s" -> entryS, "entry_cpu_s" -> entryCpuS))
      ctx.diagnostic(key, Json.obj(times.toSeq.map { case (k, v) =>
        k -> Json.arr(v.toSeq.map(Json.num)) }))
  }

  /** Per-entry time and shuffle volume, and how much more the full
    * result costs than the `count()` the legacy sweep times.
    */
  def layers(): Unit = {
    ctx.diagnostic("listener_counts_per_entry", Json.obj(entryShuffle.toSeq
      .map { case (k, c) => k -> Json.counts(c) }))
    panel.foreach { case (name, _) =>
      val full = Stats.median(entryS(name).toSeq)
      val cnt = ctx.medianTime(3)(graft.SparkEntry.queries(name)(ctx.spark, dir).count())
      ctx.layer(s"curate.${name}_s", full, "s")
      ctx.layer(s"curate.$name.shuffle_write_mb",
        entryShuffle(name).shuffleWriteBytes / 1048576.0, "MB")
      ctx.layer(s"curate.$name.full_over_count", full / cnt, "ratio")
    }
    ctx.layer("curate_pass_s", passS(entryS), "s")
    ctx.layer("trace.overhead_s", passS(entryS) - passS(untracedS), "s")
  }
}
