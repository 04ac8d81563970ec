package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis._

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB shape:
  *
  *  - exact: hash-groupBy on a digest, never shuffling document bodies;
  *  - MinHash+LSH: per-row signatures computed NARROW (higher-order
  *    functions, no UDF, no shuffle), then a band-bucket equi-join that
  *    only shuffles (doc_id, band-hash) pairs — the classic
  *    shingle→minhash→band→bucket-join plan;
  *  - SimHash: 64-bit signature + pigeonhole chunk join for hamming ≤ 3;
  *  - n-gram Jaccard: exact verification on candidate pairs only;
  *  - embedding cosine: random-hyperplane LSH buckets, exact cosine verify.
  *
  * Candidate generation always shuffles only ids+signatures; document
  * payloads are re-joined by id afterwards if needed.
  */
object Dedup {

  /** Exact dedup: one hash-aggregate over a 256-bit digest. Returns one row
    * per distinct content: the kept (minimum) id and the duplicate count.
    */
  def exact(df: DataFrame, idCol: String = "doc_id",
            textCol: String = "text",
            digest: Column => Column = sha2(_, 256)): DataFrame =
    df.groupBy(digest(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signature: sig[i] = min over shingles of a seeded hash family.
    *
    * Computed by a one-pass kernel ([[graft.functions.TextHash]]) rather
    * than nested higher-order functions: Catalyst's projection collapse
    * inlines the shingle-array build into every one of the numHashes lambda
    * iterations, turning O(S + S·H) into O(S·H·|build|) — a 100× slowdown
    * observed at sf0.1. Narrow, deterministic, no shuffle.
    */
  def minhashSignature(text: Column, numHashes: Int = 128,
                       shingleK: Int = 3): Column =
    graft.functions.expressions.TextHashExpressions
      .minhash_sig(tokens(text), shingleK, numHashes)

  /** LSH banding: (band index, hash of the signature slice) rows. */
  def lshBands(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(numBands - 1)),
      b => struct(b.as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("bhash")))

  /** Candidate pairs by MinHash banding — the scale-safe generator shared
    * by [[minhashLsh]] and [[ngramJaccard]]'s default path. Only
    * (id, band, band-hash) rows shuffle; returns distinct (id_a, id_b)
    * with id_a < id_b.
    */
  /** Drop LSH buckets larger than `cap`: a bucket of n members emits
    * O(n²) candidate pairs while carrying ~no near-dup signal (giant
    * buckets are boilerplate/empty text, which EXACT dedup handles first
    * and cheaper). At corpus scale this bounds the self-join's worst case
    * — without it one degenerate bucket turns the candidate join
    * quadratic.
    */
  private def capBuckets(bands: DataFrame, cap: Int): DataFrame =
    if (cap <= 0) bands
    else {
      // windowed count, not agg+anti-join: ONE pass whose (band, bhash)
      // hash partitioning is exactly what the candidate self-join needs,
      // so the join that follows adds no exchange of its own (and over
      // the bucketed store the window itself is exchange-free)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("bhash"))
      bands.withColumn("__n", count(lit(1)).over(w))
        .filter(col("__n") <= cap).drop("__n")
    }

  /** The (id, band, bhash) banding rows — ONE copy of the shared head of
    * every LSH candidate path (batch self-join, bucketed store,
    * streaming). Null signatures (null text has no shingles) are dropped
    * HERE: `xxhash64` over a null band slice folds to the seed rather
    * than null, which would glue every null document into one degenerate
    * bucket per band — while the DuckDB oracles' signature-slice equality
    * (NULL = NULL is never true) excludes them. Dropping at the source
    * keeps engine and oracle agreeing for corpora WITH null texts.
    */
  private[operators] def bandRows(df: DataFrame, numHashes: Int,
      numBands: Int, shingleK: Int, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        minhashSignature(col(textCol), numHashes, shingleK).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("id"),
        explode(lshBands(col("sig"), numBands,
          numHashes / numBands)).as("b"))
      .select(col("id"), col("b.band"), col("b.bhash"))

  def lshCandidates(df: DataFrame, numHashes: Int = 128, numBands: Int = 32,
                    shingleK: Int = 3, idCol: String = "doc_id",
                    textCol: String = "text",
                    maxBucketSize: Int = 1000): DataFrame = {
    // candidates: explode only (id, band, bhash) — narrow row, small
    // shuffle. r21 shape: ONE (band, bhash)-keyed aggregation collects
    // each bucket's sorted member ids and the pairs expand IN-ROW
    // (ascending order ⇒ id_a < id_b), replacing the pre-r21 self-join —
    // which paid a windowed bucket-size count PLUS a (band, bhash)
    // exchange per join side over the same rows. Skew is unchanged: a
    // bucket's pairs were always produced by the one task owning its
    // join key, and the cap bounds the per-row expansion exactly as it
    // bounded the join blow-up (an over-cap bucket drops entirely,
    // same contract).
    val bands = bandRows(df, numHashes, numBands, shingleK, idCol, textCol)
      // materialized once (localCheckpoint, GC-reclaimed): the banding
      // kernel — the expensive text pass — never re-executes
      .localCheckpoint()
    // collect_set, not collect_list (ADVICE r21): duplicate idCol values
    // sort adjacent under collect_list and the positional pair expansion
    // would emit (id, id) self-pairs — the pre-r21 self-join's strict
    // x.id < y.id never did. The set form also makes the bucket cap
    // count DISTINCT ids, which is what the join's blow-up bound
    // effectively was.
    val buckets = bands.groupBy(col("band"), col("bhash"))
      .agg(array_sort(collect_set(col("id"))).as("ids"))
    val capped =
      if (maxBucketSize <= 0) buckets
      else buckets.filter(size(col("ids")) <= maxBucketSize)
    capped
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2),
            size(col("ids")) - i - lit(1)),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  /** Exact-Jaccard verification kernel over an explicit candidate-pair set:
    * shingle sets are computed ONLY for candidate ids (semi-join first — at
    * corpus scale the candidate set is orders of magnitude smaller than the
    * corpus, so the expensive shingle build is output-sized).
    */
  private def jaccardOnPairs(df: DataFrame, pairs: DataFrame, k: Int,
                             threshold: Double, idCol: String,
                             textCol: String): DataFrame = {
    // the pair frame feeds THREE consumers (final join + both sides of the
    // candidate-id union); without a checkpoint the whole candidate
    // generation subtree (LSH banding or the bucketed-store self-join)
    // re-runs per consumer — a real 3× at corpus scale. Candidate pairs
    // are tiny (ids only), so materializing once is cheap; localCheckpoint
    // blocks are GC-reclaimed with the frame, unlike a leaked persist.
    val p = pairs.localCheckpoint()
    val candidateIds = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id"))).distinct()
    val sh = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .join(candidateIds, Seq("id"), "left_semi")
      .select(col("id"), shingles(col("__text"), k).as("sh"))
    p
      .join(sh.withColumnRenamed("id", "id_a")
        .withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b")
        .withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      // engine-stable 4-dp quantization (see TextAnalysis.quant4: pure
      // double ops — decimal casts diverge across engines at halves)
      .select(col("id_a"), col("id_b"),
        TextAnalysis.quant4(col("jaccard")).as("jaccard"))
  }

  /** Signature store: materialize the LSH band signatures ONCE as a
    * bucketed+sorted table so every subsequent candidate generation is an
    * EXCHANGE-FREE sort-merge self-join (the pre-partitioned-ingest
    * strategy of SURVEY.md §7.2 applied to dedup). The corpus text is
    * scanned exactly once — at 100 TB the signature table (id, band,
    * bhash) is orders of magnitude smaller than the corpus and is the
    * only thing dedup re-reads.
    */
  def materializeSignatures(df: DataFrame, table: String, path: String,
                            numBuckets: Int = 32, numHashes: Int = 128,
                            numBands: Int = 32, shingleK: Int = 3,
                            idCol: String = "doc_id",
                            textCol: String = "text"): Unit = {
    val spark = df.sparkSession
    requireIdent(table)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    bandRows(df, numHashes, numBands, shingleK, idCol, textCol)
      // pre-shuffle into the bucket function's own partitioning
      // (HashPartitioning = pmod(murmur3) = the bucket id): each task then
      // owns exactly one bucket and writes ONE file, instead of every task
      // writing a sliver of every bucket (numPartitions × numBuckets tiny
      // files — a real small-files problem at scale)
      .repartition(numBuckets, col("band"), col("bhash"))
      .write.bucketBy(numBuckets, "band", "bhash").sortBy("band", "bhash")
      .option("path", path).mode("overwrite").saveAsTable(table)
    // record the bucket spec WITH the data: re-attachment in a later JVM
    // must register the spec the files were actually written with — a
    // wrong count silently breaks the exchange-free join's correctness
    // (rows hash to different buckets than the reader assumes)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, bucketSpecFile),
      s"""{"num_buckets":$numBuckets}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private[graft] val bucketSpecFile = "_graft_buckets.json"

  /** SQL-identifier guard for the DDL built below: interpolating an
    * arbitrary string into CREATE TABLE is an injection/breakage hazard
    * (quotes, dots, spaces), so only plain identifiers are accepted.
    */
  private def requireIdent(name: String): Unit =
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"'$name' is not a plain SQL identifier ([A-Za-z_][A-Za-z0-9_]*)")

  /** STREAMING candidate pairs — dedup-on-ingest. The same MinHash
    * banding as [[lshCandidates]], but bucket membership lives in
    * per-(band, bhash) keyed state: each arriving document joins its 32
    * band buckets and immediately emits a candidate pair against every
    * EARLIER member of each bucket. On a 100 TB ingest this is the shape
    * that avoids re-scanning the corpus per increment — signatures are
    * computed once on arrival (stateless codegen kernel), and only
    * (id, band, bhash) rows reach the shuffle/state store, never text.
    *
    * Bucket cap: state stops growing (and emitting) at `maxBucketSize`
    * members, so one degenerate bucket cannot go quadratic or bloat the
    * state store. NOTE the cap's boundary semantics deliberately DIFFER
    * from the batch policy on degenerate buckets: batch
    * [[lshCandidates]] drops an over-cap bucket entirely (it can see the
    * final size), while a stream cannot retroactively un-emit — it keeps
    * the first `maxBucketSize` members by arrival and ignores the rest.
    * On a corpus with a degenerate bucket the two surfaces (and a
    * cap-free oracle) therefore disagree by design; run EXACT dedup
    * first (the standing guidance — degenerate buckets are
    * boilerplate/empty text), after which no bucket approaches the cap.
    * An oracle-verified caller that must match a cap-free batch oracle
    * exactly passes `maxBucketSize = Int.MaxValue` (st06 does).
    * Pairs may repeat across bands; [[streamingCandidatePairsDistinct]]
    * adds the in-stream pair-dedup stage, or callers can distinct() a
    * batch-viewed sink to keep the stream single-stateful.
    */
  def streamingCandidatePairs(docs: DataFrame, numHashes: Int = 128,
      numBands: Int = 32, shingleK: Int = 3, maxBucketSize: Int = 1000,
      idCol: String = "doc_id",
      textCol: String = "text"): Dataset[(Long, Long)] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    bandRows(docs, numHashes, numBands, shingleK, idCol, textCol)
      .as[(Long, Int, Long)]
      .groupByKey { case (_, band, bhash) => (band, bhash) }
      .flatMapGroupsWithState[Array[Long], (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state) =>
          val seen = state.getOption.getOrElse(Array.empty[Long])
          val seenSet = seen.toSet
          val fresh = rows.map(_._1).toArray.distinct.sorted
            .filterNot(seenSet.contains)
          val out = Seq.newBuilder[(Long, Long)]
          var members = seen
          var i = 0
          while (i < fresh.length) {
            val id = fresh(i)
            if (members.length < maxBucketSize) {
              var j = 0
              while (j < members.length) {
                val m = members(j)
                out += (if (m < id) (m, id) else (id, m))
                j += 1
              }
              members = members :+ id
            }
            i += 1
          }
          if (members.length != seen.length) state.update(members)
          out.result().iterator
      }
  }

  /** [[streamingCandidatePairs]] with an IN-STREAM pair-dedup stage: a
    * second Append-mode keyed state (Spark permits chaining
    * flatMapGroupsWithState stages when every stage and the query are
    * Append) keyed by the pair itself, emitting each (id_a, id_b) the
    * first time any band produces it and dropping repeats — across bands
    * AND across micro-batches. The stream's output is pair-unique with
    * no batch post-processing. State cost is one empty-valued key per
    * DISTINCT emitted pair — the same cardinality a downstream consumer
    * must hold anyway, and orders of magnitude below the corpus (pairs
    * are near-dup candidates, not documents).
    */
  def streamingCandidatePairsDistinct(docs: DataFrame, numHashes: Int = 128,
      numBands: Int = 32, shingleK: Int = 3, maxBucketSize: Int = 1000,
      idCol: String = "doc_id",
      textCol: String = "text"): Dataset[(Long, Long)] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    streamingCandidatePairs(docs, numHashes, numBands, shingleK,
        maxBucketSize, idCol, textCol)
      .groupByKey(identity)
      .flatMapGroupsWithState[Boolean, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (pair, _, state) =>
          if (state.exists) Iterator.empty
          else { state.update(true); Iterator.single(pair) }
      }
  }

  /** [[streamingCandidatePairs]] under a TIME-BOUNDED state contract —
    * the production knob the unbounded variants deliberately lack.
    *
    * The two contracts, explicitly:
    *
    *  - **Exact-global** ([[streamingCandidatePairs]],
    *    [[streamingCandidatePairsDistinct]], and the `dropDuplicates`
    *    exact-dedup streams): every near-dup pair across the ENTIRE
    *    stream history is emitted, at the price of state that grows with
    *    the corpus (one (band, bhash) bucket per distinct signature
    *    slice; one key per emitted pair). Right when the stream is a
    *    bounded backfill (AvailableNow over an archive) or when global
    *    exactness is the product requirement and the state store is
    *    provisioned for it.
    *
    *  - **Windowed** (this): buckets idle past `ttlMs` of EVENT TIME are
    *    evicted (EventTimeTimeout anchored to the newest event in the
    *    bucket), so state is bounded by the TTL window's arrival volume.
    *    The price is recall at the boundary: a pair whose two members
    *    arrive more than the TTL apart in event time is NOT emitted.
    *    Right for indefinite ingest where near-dups cluster in time
    *    (crawl recrawls, wire dupes) — the standard production trade.
    *
    * Pair emission within a live bucket follows the exact variant
    * (first-arrival pairing, capped buckets); eviction differs, and the
    * output is PAIR-UNIQUE in this ONE stateful stage: each member's
    * state carries its full band-hash vector, and a colliding pair is
    * emitted only from its OWNER band — the first band where the two
    * signatures agree. A second TTL'd pair-dedup stage would need its
    * own event-time watermark over a stateful operator's output, which
    * Spark's global-watermark correctness check rejects (chained
    * watermarked stateful ops can silently drop late rows in general,
    * even though these emissions never are); the owner-band rule gets
    * pair-uniqueness without a second state layer at the price of
    * `numBands` longs per member in bucket state.
    *
    * Owner-band + TTL interplay, precisely: a pair whose members arrive
    * within `ttlMs` of each other is ALWAYS emitted — the owner bucket
    * still holds the first member (its timeout is at least that
    * member's event time + TTL). A pair further apart is emitted only
    * if intervening traffic kept the owner bucket alive — best-effort
    * by contract. Under an over-cap owner bucket the pair can also be
    * lost even if a later band would have found it (caps guard
    * degenerate buckets, where near-dup signal is ~nil — the
    * [[lshCandidates]] stance).
    *
    * Requires an event-time column; `watermarkDelay` bounds late
    * arrivals exactly as in every watermarked stream.
    */
  def streamingCandidatePairsWindowed(docs: DataFrame,
      eventTimeCol: String, watermarkDelay: String, ttlMs: Long,
      numHashes: Int = 128, numBands: Int = 32, shingleK: Int = 3,
      maxBucketSize: Int = 1000, idCol: String = "doc_id",
      textCol: String = "text"): Dataset[(Long, Long)] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(ttlMs > 0, s"ttlMs must be positive, got $ttlMs")
    val allBands = transform(
      lshBands(col("sig"), numBands, numHashes / numBands),
      s => s.getField("bhash"))
    val bands = docs.withWatermark(eventTimeCol, watermarkDelay)
      .select(col(idCol).as("id"),
        minhashSignature(col(textCol), numHashes, shingleK).as("sig"),
        col(eventTimeCol).as("ts"))
      .filter(col("sig").isNotNull)
      .select(col("id"),
        explode(lshBands(col("sig"), numBands,
          numHashes / numBands)).as("b"), col("ts"),
        allBands.as("bandvec"))
      .select(col("id"), col("b.band"), col("b.bhash"), col("ts"),
        col("bandvec"))
      .as[(Long, Int, Long, java.sql.Timestamp, Seq[Long])]
    bands.groupByKey { case (_, band, bhash, _, _) => (band, bhash) }
      .flatMapGroupsWithState[Seq[(Long, Seq[Long])], (Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((band, _), rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toArray
            val seen = state.getOption.getOrElse(Seq.empty)
            val seenSet = seen.iterator.map(_._1).toSet
            val fresh = batch.filterNot(r => seenSet.contains(r._1))
              .map(r => (r._1, r._5)).distinctBy(_._1).sortBy(_._1)
            // first band where the two signatures collide — emitting
            // only there makes the pair unique across this pair's
            // buckets without a second stateful stage
            def ownerBand(a: Seq[Long], b: Seq[Long]): Int = {
              var i = 0
              while (i < a.length && a(i) != b(i)) i += 1
              i
            }
            val out = Seq.newBuilder[(Long, Long)]
            var members = seen
            var i = 0
            while (i < fresh.length) {
              val (id, vec) = fresh(i)
              if (members.length < maxBucketSize) {
                members.foreach { case (m, mvec) =>
                  if (ownerBand(mvec, vec) == band)
                    out += (if (m < id) (m, id) else (id, m))
                }
                members = members :+ ((id, vec))
              }
              i += 1
            }
            if (members.length != seen.length) state.update(members)
            // TTL anchored to the bucket's newest event; clamped above
            // the current watermark (Spark rejects a timeout at or
            // below it — reachable when a late-but-in-watermark row is
            // the bucket's only activity)
            val maxTs = batch.map(_._4.getTime).max
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(math.max(maxTs + ttlMs, wm + 1))
            out.result().iterator
          }
      }
  }

  /** Re-attach an existing on-disk signature store (written by
    * [[materializeSignatures]] in a previous session) to this session's
    * catalog: table registrations die with the JVM but the bucketed
    * parquet does not, and re-registering is a DDL no-op against
    * re-running the whole corpus scan. The bucket spec in the DDL is what
    * keeps [[storedCandidates]] exchange-free on the re-attached store —
    * and it must match what the files were WRITTEN with, or the
    * exchange-free join silently reads wrong buckets: the count is read
    * from the store's own spec sidecar, and a caller-passed `numBuckets`
    * is verified against it rather than trusted. The table name is
    * identifier-checked and the path quote-escaped before either reaches
    * the DDL.
    *
    * @param numBuckets optional cross-check; -1 (default) = use the
    *                   store's recorded spec. Required for stores
    *                   predating the spec sidecar.
    */
  def registerSignatureStore(spark: SparkSession, table: String,
                             path: String, numBuckets: Int = -1): Unit = {
    requireIdent(table)
    val recorded: Option[Int] =
      try {
        val p = java.nio.file.Paths.get(path, bucketSpecFile)
        if (java.nio.file.Files.exists(p))
          """"num_buckets":(\d+)""".r.findFirstMatchIn(
            new String(java.nio.file.Files.readAllBytes(p),
              java.nio.charset.StandardCharsets.UTF_8))
            .map(_.group(1).toInt)
        else None
      } catch { case _: java.io.IOException => None }
    require(recorded.nonEmpty || numBuckets > 0,
      s"$path has no $bucketSpecFile and no explicit numBuckets was " +
        "passed — cannot re-attach without knowing the written bucket " +
        "count")
    require(numBuckets <= 0 || recorded.forall(_ == numBuckets),
      s"caller says $numBuckets buckets but $path was written with " +
        s"${recorded.get} — re-attaching with a wrong bucket spec would " +
        "silently produce wrong exchange-free join results")
    val n = recorded.getOrElse(numBuckets)
    val safePath = path.replace("'", "''")
    spark.sql(
      s"""CREATE TABLE $table (id BIGINT, band INT, bhash BIGINT)
         |USING PARQUET
         |CLUSTERED BY (band, bhash) SORTED BY (band, bhash)
         |INTO $n BUCKETS
         |LOCATION '$safePath'""".stripMargin)
  }

  /** Candidate pairs from a [[materializeSignatures]] table: both join
    * inputs read co-located buckets of (band, bhash), so the self-join
    * plans with zero Exchange (only the final pair-distinct shuffles, and
    * it shuffles candidate IDS, not signatures or text).
    */
  def storedCandidates(spark: SparkSession, table: String,
                       maxBucketSize: Int = 1000): DataFrame = {
    // the bucket-size count AND the anti-join both key on (band, bhash) =
    // the table's bucketing — they stay exchange-free like the self-join
    val bands = capBuckets(spark.table(table), maxBucketSize)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bhash") === col("y.bhash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  /** INCREMENTAL candidate pairs — a NEW increment deduped against a
    * PERSISTED signature store ([[materializeSignatures]]) without
    * re-scanning the archived corpus: the daily-crawl shape. Signature
    * computation touches ONLY the increment (one pass); the store side
    * is the bucketed (id, band, bhash) table, orders of magnitude
    * smaller than the corpus it summarizes; candidates are
    * (new × store) ∪ (new × new) — old×old pairs are previous runs'
    * output and are never recomputed. The store-vs-new join shuffles
    * only the increment's band rows (the store is already bucketed on
    * the join key); text is never read here at all — the caller's
    * jaccard verification then reads text for CANDIDATE IDS ONLY (the
    * semi-join-first kernel), so per increment the archived corpus
    * costs O(candidate ids), not O(corpus).
    *
    * `maxBucketSize` caps each side's buckets independently (a bucket
    * can exceed the cap only via its own side's membership) — pass 0/
    * negative to disable, the exact-oracle stance.
    */
  def incrementalCandidates(spark: SparkSession, table: String,
                            newDocs: DataFrame,
                            numHashes: Int = 128, numBands: Int = 32,
                            shingleK: Int = 3, idCol: String = "doc_id",
                            textCol: String = "text",
                            maxBucketSize: Int = 1000): DataFrame = {
    // pass the cap straight through: capBuckets' own cap<=0 bypass
    // returns the input untouched, so cap-disabled callers (l50) skip
    // the windowed per-bucket count entirely — translating to
    // Int.MaxValue here would still pay that window pass over both the
    // increment bands and the whole signature store
    val newBands = capBuckets(
      bandRows(newDocs, numHashes, numBands, shingleK, idCol, textCol)
        .localCheckpoint(), maxBucketSize)
    val store = capBuckets(spark.table(table), maxBucketSize)
    val vsStore = newBands.as("x").join(store.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bhash") === col("y.bhash") &&
          col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("id_a"),
        greatest(col("x.id"), col("y.id")).as("id_b"))
    val withinNew = newBands.as("x").join(newBands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bhash") === col("y.bhash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    vsStore.unionByName(withinNew).distinct()
  }

  /** MinHash+LSH near-duplicate pairs with exact Jaccard verification.
    *
    * NOTE `maxBucketSize`: buckets with more members than the cap are
    * DROPPED from candidate generation (see [[lshCandidates]]) — a corpus
    * with >cap exact copies of one document will not report those pairs
    * here. That family is exactly what [[exact]] dedup catches first and
    * cheaper (identical text ⇒ identical digest); run it before the LSH
    * pass, or pass maxBucketSize = 0 to disable the cap.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    */
  def minhashLsh(df: DataFrame, threshold: Double = 0.7,
                 numHashes: Int = 128, numBands: Int = 32,
                 idCol: String = "doc_id", textCol: String = "text",
                 maxBucketSize: Int = 1000): DataFrame =
    jaccardOnPairs(df,
      lshCandidates(df, numHashes, numBands, 3, idCol, textCol,
        maxBucketSize),
      k = 3, threshold, idCol, textCol)

  /** Near-duplicate CLUSTERS from a pair list: connected components via
    * iterative label propagation (each id adopts the minimum label among
    * itself and its neighbors until fixed point — the min label travels
    * ONE hop per round, so convergence is O(component diameter) rounds;
    * `localCheckpoint` truncates the growing lineage each round).
    * Returns (id, cluster) where cluster = min id of the component,
    * i.e. the canonical document to KEEP; everything else in the
    * cluster is droppable. This is the step that turns pairwise
    * near-dup detection into dedup decisions.
    *
    * A component with diameter > `maxIterations` THROWS rather than
    * returning silently-wrong labels (multiple rows would claim
    * `id == cluster` and the keeper contract would break unobserved);
    * near-dup graphs are overwhelmingly star/clique-shaped, so the
    * default covers real corpora — raise it for pathological chains.
    */
  def clusters(pairs: DataFrame, maxIterations: Int = 20): DataFrame =
    clustersWithRounds(pairs, maxIterations)._1

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * contraction (the MapReduce-and-beyond algorithm: Kiveris et al.,
    * KDD'14) — the SAME (id, cluster = component min id) output as
    * [[clusters]], but convergence takes O(log n) ROUNDS regardless of
    * component DIAMETER, where label propagation needs O(diameter).
    * A pathological chain world (each near-dup linked only to its
    * neighbors) makes [[clusters]] a driver-coordination hazard — and
    * its diameter guard THROWS past maxIterations — while the star
    * operations contract any chain exponentially.
    *
    * Per round: large-star (every node hangs its LARGER neighbors onto
    * its current minimum) then small-star (every node re-hangs its
    * smaller neighborhood onto that neighborhood's minimum) — each a
    * bounded min-aggregate + equi-join over the edge relation, nothing
    * wider than an edge shuffles, localCheckpoint truncating lineage
    * per round (the [[clusters]] convention). At the fixed point the
    * edges form stars rooted at component minima; the label read-off
    * is one left join.
    */
  def clustersStar(pairs: DataFrame, maxIterations: Int = 50): DataFrame =
    clustersStarWithRounds(pairs, maxIterations)._1

  /** [[clustersStar]] plus the executed round count (the scale
    * observable OperatorSpec bounds logarithmically on a planted
    * long-chain world that label propagation cannot finish).
    */
  def clustersStarWithRounds(pairs: DataFrame,
                             maxIterations: Int = 50): (DataFrame, Int) = {
    val typed = pairs
      .select(col("id_a").cast("long").as("u"),
        col("id_b").cast("long").as("v"))
    // nodes derive from the UNFILTERED pairs: an id appearing only in
    // self-pairs (id_a == id_b) carries no connectivity but is still a
    // node, and must label as its own singleton — the same (id, id) row
    // [[clusters]] emits for it (which seeds labels from BOTH endpoint
    // columns of the raw pair set)
    val nodes = typed.select(col("u").as("id"))
      .union(typed.select(col("v").as("id")))
      .distinct().localCheckpoint()
    var edges = typed
      .filter(col("u") =!= col("v"))
      .distinct().localCheckpoint()

    def largeStar(e: DataFrame): DataFrame = {
      val d = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = d.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      d.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient every edge (larger endpoint = center u, smaller = v)
      val d = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v")).distinct()
      val m = d.groupBy(col("u")).agg(min(col("v")).as("m")) // m < u
      val nEdges = d.join(m, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val uEdges = m.select(col("u"), col("m").as("v"))
      nEdges.union(uEdges).filter(col("u") =!= col("v")).distinct()
    }

    // fixpoint detection as ONE aggregate job per round: digest the new
    // edge set as (count, bit_xor of xxhash64(u, v)) — XOR is
    // order-insensitive and overflow-free (a wrapping SUM would trip
    // Spark 4's default-ANSI overflow check), and both sides are
    // distinct sets so self-cancellation can't occur — and compare
    // against the PREVIOUS round's digest, carried forward so `edges` is
    // never re-digested. This replaces the two except().limit(1).count()
    // jobs (two extra shuffles per round over the full edge relation)
    // the r10 review flagged: at 10^10 edges each avoided shuffle is
    // real. A false "converged" needs two distinct sets to collide on
    // cardinality AND a 64-bit hash fold (~2^-64 per round) — and the
    // labels are still hash-verified downstream.
    def digest(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var prev = digest(edges)
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val d = digest(next)
      converged = d == prev
      prev = d
      edges = next
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"star contraction did not converge in $maxIterations rounds " +
          "(expected O(log n)) — raise maxIterations")
    val labels = nodes
      .join(edges.select(col("u").as("id"), col("v").as("cluster")),
        Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("cluster"), col("id")).as("cluster"))
    (labels, i)
  }

  /** [[clusters]] plus the number of label-propagation rounds executed —
    * the scale-stress observable: rounds = component diameter (in hops
    * from the min-id node) + 1 confirming round, INDEPENDENT of pair
    * count (OperatorSpec pins both on planted components at 1x and 10x).
    */
  def clustersWithRounds(pairs: DataFrame,
                         maxIterations: Int = 20): (DataFrame, Int) = {
    // edges and the initial labels are materialized ONCE (eager
    // localCheckpoint): the pair-generation lineage (often a full LSH
    // pipeline) must not re-run per iteration, and checkpoint blocks are
    // GC-reclaimed unlike a leaked persist
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("src").as("id"))
      .distinct().withColumn("cluster", col("id")).localCheckpoint()
    var converged = false
    var i = 0
    // both joins are hinted sort-merge: adaptive execution made one a
    // broadcast join when a side's shuffle stage finished first, so the
    // classes a round compiled depended on task timing
    while (!converged && i < maxIterations) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("cluster", "dst_cluster").hint("merge"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_cluster")).as("nmin"))
      // change detection rides the SAME materialization as the new labels
      // (a __chg flag inside the checkpointed frame) instead of a separate
      // next-vs-old join: one job per round computes, one narrow
      // aggregate over the checkpoint checks convergence — halving the
      // per-round job count that dominated wall-clock on small graphs.
      // An aggregate, not limit(1).count(): a codegen'd LIMIT names its
      // counter from a JVM-global sequence, so each round would compile
      // fresh classes
      val next = labels.join(neighborMin.hint("merge"), Seq("id"),
          "left_outer")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster")))
            .as("cluster"),
          (coalesce(col("nmin"), col("cluster")) < col("cluster"))
            .as("__chg"))
        .localCheckpoint()
      converged = next.filter(col("__chg")).count() == 0L
      labels = next.drop("__chg")
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"label propagation did not converge in $maxIterations rounds — " +
          "a component's diameter exceeds the bound; raise maxIterations " +
          "(labels would be silently non-minimal otherwise)")
    (labels, i)
  }

  /** SEMANTIC dedup over embeddings (the SemDeDup shape): coarse
    * k-means cells bound the pair space — exact cosine runs only WITHIN
    * a cell — and near-duplicate pairs (cosine ≥ threshold) collapse to
    * connected components, labeled by their minimum id (the canonical
    * keeper). Cell-local by design: a near-dup pair split across a cell
    * boundary is missed, the standard recall trade every
    * billion-vector deployment makes (centroids come from
    * [[Similarity.fitIvfCentroids]] / the cached variant — train-time,
    * sample-able, plan literals forever after). Shuffle shape: the cell
    * self-join hash-partitions (id, vector, cell) by cell on BOTH sides
    * — vector payload included — so shuffled bytes ≈ 2× the embedding
    * column; at deployment scale the vectors would live in a
    * cell-bucketed store (the [[materializeSignatures]] layout applied
    * to embeddings) making the self-join exchange-free, exactly as l14
    * does for text signatures. Downstream of the join only verified
    * pair ids move.
    *
    * @return (id, cluster) for every id in at least one near-dup pair;
    *         `id == cluster` marks the keeper.
    */
  def semanticDedup(vectors: DataFrame,
                    centroids: Array[Array[Double]],
                    threshold: Double = 0.95, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    maxIterations: Int = 20): DataFrame = {
    // materialized once (localCheckpoint, GC-reclaimed): both sides of
    // the within-cell self-join read the assigned cells instead of each
    // re-running the centroid-scoring kernel over the corpus (r21 — the
    // lshCandidates banding-checkpoint convention)
    val v = Similarity.assignCells(vectors, centroids, idCol, vecCol)
      .localCheckpoint()
    val pairs = v.as("x").join(v.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .filter(Similarity.cosine(col("x.v"), col("y.v")) >= threshold)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    clusters(pairs, maxIterations)
  }

  /** 64-bit SimHash from token hashes — sign of per-bit vote sums. One-pass
    * kernel for the same Catalyst re-evaluation reason as
    * [[minhashSignature]] (64 nested aggregates re-inline the token-hash
    * array per bit).
    */
  def simhash(text: Column): Column =
    graft.functions.expressions.TextHashExpressions.simhash64(tokens(text))

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming, found by
    * the pigeonhole chunk join: split the 64-bit signature into
    * (maxHamming+1) chunks — any pair within the bound shares at least one
    * exact chunk, so candidates come from equi-joins on chunk values.
    */
  def simhashNearDup(df: DataFrame, maxHamming: Int = 3,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    hammingNearDup(
      df.select(col(idCol).as("id"), simhash(col(textCol)).as("sig")),
      maxHamming, idCol = "id", hashCol = "sig")

  /** Generic 64-bit hamming near-dup join — the pigeonhole chunk
    * strategy behind [[simhashNearDup]], exposed for ANY precomputed
    * 64-bit signature column (SimHash, perceptual image dHash, audio
    * fingerprints…): split the hash into (maxHamming+1) chunks; a pair
    * within the bound differs in ≤ maxHamming bits, so at least one
    * chunk is bit-identical (pigeonhole) and every candidate comes from
    * a chunk-value EQUI-join — never an all-pairs comparison.
    *
    * r22 shape (guide §8 "decide with small rows"): the chunk join runs
    * over the DISTINCT hash values, not the id rows. The pre-r22 form
    * chunk-joined (id, sig) rows directly, so a hash shared by n ids
    * generated nChunks·n² candidate rows that the `.distinct()` then
    * collapsed — on perceptual-hash media (where byte-different
    * re-encodes of one image share a dHash, the OPERATOR'S OWN reason
    * to exist) that is quadratic churn in id-multiplicity per hash.
    * Now: (1) the pigeonhole join compares each unordered pair of
    * distinct hash VALUES once, (2) equal-hash id pairs come from one
    * output-linear sig equi-join, (3) near-but-unequal hash pairs
    * re-attach their id sets by two sig equi-joins. Output is
    * bit-identical (OperatorSpec pins equivalence against brute-force
    * hamming); the quadratic term drops from (ids per hash)² to
    * (distinct hashes per chunk bucket)².
    *
    * Scale shape: the chunk shuffle carries (maxHamming+1)× the
    * DISTINCT-hash relation; the id attach joins shuffle (id, sig)
    * once per side; equal-hash fan-out is the output itself.
    */
  def hammingNearDup(hashes: DataFrame, maxHamming: Int = 3,
                     idCol: String = "id",
                     hashCol: String = "hash"): DataFrame = {
    val nChunks = maxHamming + 1
    val chunkBits = 64 / nChunks
    // materialized once (localCheckpoint, GC-reclaimed — the
    // lshCandidates banding convention): the (id, sig) relation feeds
    // the distinct, the equal-hash join and both id attach sides, and
    // the hash kernel behind it (simhash, image/audio decode) must not
    // re-execute per consumer
    val sigs = hashes.select(col(idCol).as("id"), col(hashCol).as("sig"))
      .localCheckpoint()
    val uniq = sigs.select(col("sig")).distinct()
    val chunks = uniq.select(col("sig"),
      explode(transform(sequence(lit(0), lit(nChunks - 1)), c =>
        struct(c.as("chunk"),
          call_function("shiftrightunsigned", col("sig"), (c * chunkBits).cast("int"))
            .bitwiseAND(lit((1L << chunkBits) - 1)).as("cval")))).as("c"))
      .select(col("sig"), col("c.chunk"), col("c.cval"))
    val hashPairs = chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") &&
          col("x.cval") === col("y.cval") &&
          col("x.sig") < col("y.sig"))
      .select(col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
    // hamming-0 pairs: ids sharing one hash value — output-linear
    val eq = sigs.as("x").join(sigs.as("y"),
        col("x.sig") === col("y.sig") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(0).as("hamming"))
    // near-but-unequal hash pairs expand to their id sets; least/
    // greatest restores the id_a < id_b contract (the hash-level
    // ordering was by sig), and the id_a =!= id_b guard keeps
    // duplicate-id inputs from minting self-pairs (matching the
    // pre-r22 id-level x.id < y.id join)
    val neq = hashPairs
      .join(sigs.as("a"), col("a.sig") === col("sig_a"))
      .join(sigs.as("b"), col("b.sig") === col("sig_b"))
      .filter(col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"), col("hamming"))
    eq.unionByName(neq).distinct()
  }

  /** Exact n-gram Jaccard over candidate pairs. With no `candidates` given,
    * pairs come from MinHash banding ([[lshCandidates]]) — NEVER all-pairs:
    * the cartesian form is a BroadcastNestedLoopJoin that dies at any real
    * corpus size, so it is not reachable by default. Callers that truly
    * want exhaustive pairs (tiny frames, ground-truth tests) pass an
    * explicit all-pairs candidate frame.
    */
  def ngramJaccard(df: DataFrame, k: Int = 3, threshold: Double = 0.5,
                   idCol: String = "doc_id", textCol: String = "text",
                   candidates: Option[DataFrame] = None,
                   maxBucketSize: Int = 1000): DataFrame =
    jaccardOnPairs(df,
      candidates.getOrElse(
        lshCandidates(df, shingleK = k, idCol = idCol, textCol = textCol,
          maxBucketSize = maxBucketSize)),
      k, threshold, idCol, textCol)

  /** Embedding near-dup via random-hyperplane LSH: `nBits` deterministic
    * Rademacher hyperplanes (seeded by xxhash64(bit, dim)) bucket the
    * vectors; exact cosine verifies candidates. Only (id, bucket) shuffles.
    */
  def embeddingNearDup(df: DataFrame, threshold: Double = 0.95,
                       nBits: Int = 12, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    // literal planes (driver-generated, same seeded draws → identical
    // buckets): per-row work is nBits fused dot products, not
    // nBits×dims interpreted xxhash64 calls
    val planes = Similarity.rademacherPlanes(nBits,
      Similarity.dimsOf(df, vecCol))
    val bucket = Similarity.hyperplaneBucket(col(vecCol), planes)
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      bucket.as("bucket"))
    val pairs = vecs.select("id", "bucket").as("x")
      .join(vecs.select("id", "bucket").as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    val v = vecs.select("id", "v")
    pairs
      .join(v.withColumnRenamed("id", "id_a").withColumnRenamed("v", "v_a"),
        "id_a")
      .join(v.withColumnRenamed("id", "id_b").withColumnRenamed("v", "v_b"),
        "id_b")
      .withColumn("cosine", Similarity.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"),
        TextAnalysis.quant4(col("cosine")).as("cosine"))
  }

  /** Edit-distance (fuzzy) self-join: all pairs whose strings are within
    * Levenshtein distance `k`, found WITHOUT the O(n²) cross join — the
    * near-duplicate-title/URL primitive MinHash is too coarse for.
    *
    * The scale shape is q-gram PREFIX FILTERING (the ppjoin family): one
    * edit operation destroys at most q of a string's positional q-grams,
    * so a pair within distance k shares ≥ max(|s1|,|s2|)−q+1−k·q gram
    * instances — which means it must share at least one instance inside
    * each string's (k·q+1)-instance PREFIX under any one GLOBAL gram
    * order. Ordering grams rarest-first makes those prefixes land on the
    * most selective grams, so the candidate join fans out on rare grams
    * only — a naive all-gram equi-join degenerates quadratically on
    * repetitive text (measured 360 s → sub-second on the sf0.1 corpus,
    * whose 24-char prefixes of small-vocabulary text are the worst
    * case). Exact `levenshtein` verifies candidates. The filter is
    * LOSSLESS above the length floor — the l31 oracle is the exhaustive
    * DuckDB cross join, so a pruned true pair would hash-mismatch,
    * proving losslessness per run.
    *
    * Cost anatomy for 100 TB: one gram explode (token-width), one
    * gram-frequency aggregate (gram-width, map-side combining), one
    * per-string window over ≤|s| rows to take the prefix, a prefix-only
    * equi-join, and one levenshtein per surviving candidate.
    *
    * Strings shorter than q + k·q can satisfy distance ≤ k while sharing
    * ZERO grams (the bound goes non-positive) — a gram join can never
    * emit such pairs, so the operator enforces a length floor rather
    * than silently missing pairs.
    */
  def fuzzyJoin(rel: DataFrame, k: Int = 2, q: Int = 3,
                idCol: String = "doc_id",
                strCol: String = "title"): DataFrame = {
    require(k >= 0 && q >= 1, s"fuzzyJoin: bad k=$k q=$q")
    val minLen = q + k * q // bound stays ≥ 1 shared gram at this length
    val src = rel.select(col(idCol).as("id"), col(strCol).as("t"))
      .filter(length(col("t")) >= minLen)
    // positional gram INSTANCES (the bound is over the multiset)
    val grams = src.select(col("id"), col("t"),
      explode(transform(sequence(lit(1), length(col("t")) - (q - 1)),
        i => col("t").substr(i, lit(q)))).as("g"))
    val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("gf"))
    // canonical global order (gf ASC, g ASC — ties broken by the gram
    // itself so every string ranks instances identically); instance
    // rank within the string picks the (k·q+1)-prefix
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("gf"), col("g"))
    val prefix = grams.join(freq, Seq("g"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k * q + 1)
      .select(col("id"), col("t"), col("g"))
    val a = prefix.select(col("id").as("id_a"), col("t").as("t_a"),
      col("g"))
    val b = prefix.select(col("id").as("id_b"), col("t").as("t_b"),
      col("g"))
    a.join(b, Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("t_a"), col("id_b"), col("t_b"))
      .distinct()
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        levenshtein(col("t_a"), col("t_b")).as("dist"))
      .filter(col("dist") <= k)
  }

  /** Length-BANDED fuzzy join: each string routes to the prefilter that
    * suits ITS length — the ≤k-deletion neighborhood ([[fuzzyJoinShort]])
    * for strings up to `maxDeletionLen`, where the O(|s|^k) signature
    * volume stays cheap and selectivity is entropy-independent (the safe
    * default for titles/URLs/names), the q-gram prefix filter
    * ([[fuzzyJoin]]) beyond, where variant generation would dominate and
    * long strings carry enough gram entropy to prune well.
    *
    * Earlier rounds dispatched the WHOLE corpus on its max length — one
    * 100-char outlier flipped every short key onto the gram path (the
    * entropy-brittle one for repetitive short text). The band split
    * keeps the mass on the deletion path and routes only the tail
    * through grams, and it drops the driver-side max() action entirely:
    * the split is two filters in the plan.
    *
    * Losslessness of the split (both prefilters are already lossless): a
    * pair within distance k has lengths differing by ≤ k, so with the
    * long band opened k early (len > maxDeletionLen − k) every pair
    * falls in at least one band — both ≤ maxDeletionLen → short band;
    * both > maxDeletionLen → long band; one on each side of the
    * boundary → the short one is within k of the long one's length, so
    * BOTH sit in the long band. Pairs wholly inside the k-wide overlap
    * emit from both paths with identical (doc_a, doc_b, dist) rows; one
    * output-side distinct (over the verified, true-pair-sized result)
    * dedupes them.
    */
  def fuzzyJoinAuto(rel: DataFrame, k: Int = 2, q: Int = 3,
                    idCol: String = "doc_id",
                    strCol: String = "title",
                    maxDeletionLen: Int = 48): DataFrame = {
    if (k > 2) return fuzzyJoin(rel, k, q, idCol, strCol) // no deletion path
    // every long-band string must clear the gram path's length floor, or
    // boundary pairs could be silently missed
    require(maxDeletionLen - k >= q + k * q,
      s"fuzzyJoinAuto: maxDeletionLen=$maxDeletionLen too small for " +
        s"k=$k q=$q (needs > ${q + k * q + k})")
    val len = length(col(strCol))
    val shortPairs = fuzzyJoinShort(
      rel.filter(len <= maxDeletionLen), k, idCol, strCol)
    val longPairs = fuzzyJoin(
      rel.filter(len > maxDeletionLen - k), k, q, idCol, strCol)
    shortPairs.unionByName(longPairs).distinct()
  }

  /** [[fuzzyJoin]] for SHORT keys (titles, URLs, names; k ≤ 2) via the
    * SymSpell DELETION NEIGHBORHOOD: lev(s1,s2) ≤ k implies some string
    * obtained by ≤ k character deletions from s1 equals one obtained by
    * ≤ k deletions from s2 — so exploding each string's ≤ k-deletion
    * variants and equi-joining on the variant yields a candidate set
    * whose false positives are only pairs within distance ≤ 2k.
    *
    * The trade vs the q-gram prefix filter: O(|s|^k) signature rows per
    * string (301 for |s|=24, k=2) but candidate precision that does NOT
    * depend on the text's gram entropy — on the repetitive small-
    * vocabulary fixture the prefix filter's 400-gram universe yields
    * ~3.9M candidates where the deletion join yields ~the true pairs
    * (measured; the prefix path is the right one for LONG strings,
    * where |s|² variants explode but grams are selective). Exact
    * `levenshtein` verifies candidates; lossless for all strings of
    * length ≥ 1 (no gram length floor — deletes of short strings,
    * including the empty variant, pair correctly).
    */
  def fuzzyJoinShort(rel: DataFrame, k: Int = 2,
                     idCol: String = "doc_id",
                     strCol: String = "title"): DataFrame = {
    require(k >= 0 && k <= 2, s"fuzzyJoinShort: k=$k (use fuzzyJoin)")
    val src = rel.select(col(idCol).as("id"), col(strCol).as("t"))
      .filter(col("t").isNotNull && length(col("t")) >= 1)
    // ONE native codegen pass per row builds all O(|t|²) variants
    // (duplicates from repeated characters included — deduping them is
    // O(|v|²) string compares per row, measured worse than letting the
    // pair distinct absorb the few extra join rows). The signature join
    // carries IDs only (titles would triple the shuffle width); titles
    // re-attach to the id-pair candidates afterwards.
    val variants = graft.functions.expressions.TextHashExpressions
      .deletion_variants(col("t"), k)
    val sig = src.select(col("id"), explode(variants).as("v"))
    // the optimizer sizes the Generate output from its tiny pre-explode
    // child and tries to BROADCAST the |s|²-times-larger signature side
    // (measured: a 1.5M-row hashed-relation build dominating the whole
    // operator); force the shuffle join — identical subplans on both
    // sides then share ONE exchange (ReusedExchange), so the variant
    // kernel also runs once instead of twice
    val cand = sig.select(col("id").as("id_a"), col("v"))
      .hint("shuffle_hash")
      .join(sig.select(col("id").as("id_b"), col("v"))
        .hint("shuffle_hash"), Seq("v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(src.select(col("id").as("id_a"), col("t").as("t_a")), Seq("id_a"))
      .join(src.select(col("id").as("id_b"), col("t").as("t_b")), Seq("id_b"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        levenshtein(col("t_a"), col("t_b")).as("dist"))
      .filter(col("dist") <= k)
  }

  /** Corpus-level exact PASSAGE dedup — the rewrite step the
    * document-level family (l01–l05) and the measurement step (l24)
    * both stop short of: each document is cut into consecutive
    * non-overlapping `passageTokens`-token passages, every passage
    * keeps only its FIRST corpus occurrence (ordered by (doc id,
    * passage index) — deterministic, replayable), and each document is
    * reassembled from its surviving passages. This is the scalable
    * fixed-granularity approximation of suffix-array ExactSubstr dedup
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): boilerplate repeated across documents is removed
    * everywhere but its first appearance, while each document's unique
    * material survives untouched.
    *
    * Output (one row per input document, including zero-token ones):
    * (doc_id, n_passages, n_kept, text_dedup).
    *
    * Scale shape: ONE tokenize projection in the plan — both consumer
    * branches (the passage explode and the arithmetic n_passages count)
    * derive from the same `(doc_id, toks, n)` sub-plan, so the tokenizer
    * expression appears exactly once (n_passages is never re-exploded).
    * Spark executes a shared (un-persisted) subtree once per consumer,
    * so the corpus is SCANNED twice; a deployment would `.persist()` the
    * tokenized projection to make it one physical pass — kept pure-plan
    * here so the DuckDB oracle can mirror it. First
    * occurrence is `row_number() = 1` over the passage string, which
    * Spark executes with WindowGroupLimit pushdown — each map
    * partition forwards at most ONE row per passage into the
    * exchange, so a passage repeated a billion times ("lorem ipsum"
    * boilerplate) contributes ≤ numPartitions rows to its reducer:
    * skew-free by construction, no salting needed. Reassembly is one
    * doc-keyed aggregate. Passages shuffle as their own text (~tens
    * of bytes at the default granularity); a deployment at longer
    * granularities would key the window on a 128-bit digest of the
    * passage and let the (first-doc, first-idx) pair disambiguate —
    * the l01 convention.
    */
  def passageDedup(docs: DataFrame, passageTokens: Int = 8,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(passageTokens > 0, s"passageTokens=$passageTokens")
    val k = passageTokens
    // the ONE tokenizer call site; both branches below derive from it
    val base = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
    val p = base
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("n") - 1, lit(k))).as("start"))
      .select(col("doc_id"),
        expr(s"CAST(start div $k AS BIGINT)").as("p_idx"),
        array_join(slice(col("toks"), col("start") + 1, lit(k)), " ")
          .as("passage"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("passage"))
      .orderBy(col("doc_id"), col("p_idx"))
    val kept = p.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val perDoc = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(sort_array(collect_list(struct(col("p_idx"),
          col("passage")))), s => s.getField("passage")), " ")
        .as("text_dedup"))
    base
      .select(col("doc_id"),
        expr(s"CAST((n + ${k - 1}) div $k AS BIGINT)")
          .as("n_passages"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_passages"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** LINE-level boilerplate removal — the web-corpus cleaning step the
    * passage family ([[passageDedup]], l39) is the wrong granularity
    * for: navigation menus, cookie banners, footer legalese repeat as
    * whole LINES across thousands of pages of a site while the prose
    * around them is unique (CCNet, Wenzek et al. 2020; RefinedWeb,
    * Penedo et al. 2023 both dedup at this granularity before any
    * document-level pass). A line is BOILERPLATE when its trimmed form
    * occurs in ≥ `minDocs` DISTINCT documents; boilerplate lines are
    * removed from EVERY document (unlike passage dedup's keep-first —
    * a cookie banner's "first" occurrence is no more content than its
    * millionth), unique lines survive untouched.
    *
    * Lines are `\n`-split; a trailing `\r` joins the trim. Lines whose
    * trimmed form is empty are dropped and not counted (they carry no
    * content and would otherwise be the corpus's hottest "line").
    * Output, one row per input document: (doc_id, n_lines, n_kept,
    * text_clean) — counts over non-empty lines, text_clean the kept
    * lines' TRIMMED form joined by `\n` in original order (trimming is
    * part of the normalization, so the output is the normalized doc).
    *
    * Scale shape: the line relation is built NARROW (split +
    * posexplode, no shuffle); doc-frequency is two map-side-combinable
    * phases — distinct (doc_id, line) then count by line — so a line
    * repeated a million times inside ONE document contributes one row
    * to the count shuffle, and partial aggregation keeps both phases
    * skew-free. The verdict join back to the line relation is keyed on
    * the line string; a planetary-hot boilerplate line ("Home") lands
    * on one reducer there — that is the one skew point, and it is the
    * AQE skew-join shape (one fat probe partition against a one-row
    * build group, split at runtime); a deployment at longer line
    * lengths would key on a 128-bit digest of the line (the l01
    * convention) to shrink shuffle bytes — kept as the raw string here
    * so the DuckDB oracle mirrors the plan exactly. Reassembly is one
    * doc-keyed aggregate over (idx, line) pairs.
    */
  def lineDedup(docs: DataFrame, minDocs: Int = 5,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "raw")))
      .select(col("doc_id"), col("idx"),
        trim(regexp_replace(col("raw"), "\r$", "")).as("line"))
      .filter(col("line") =!= "")
    // doc-frequency of each distinct line: distinct then count — both
    // phases partial-aggregate, so neither is hot-key-bound
    val boiler = lines.select(col("line"), col("doc_id")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("line"), lit(true).as("is_boiler"))
    val kept = lines.join(boiler, Seq("line"), "left_outer")
      .filter(col("is_boiler").isNull)
    val perDoc = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(sort_array(collect_list(struct(col("idx"),
          col("line")))), s => s.getField("line")), "\n")
        .as("text_clean"))
    val counts = lines.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"))
    docs.select(col(idCol).as("doc_id"))
      .join(counts, Seq("doc_id"), "left_outer")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** ExactSubstr span REMOVAL — the operator behind "Deduplicating
    * Training Data Makes Language Models Better" (Lee et al., ACL
    * 2022): where l24 measures how much of a document is corpus-
    * repeated material, this one CUTS it. A token position is
    * duplicated when ANY word n-gram covering it occurs in ≥ `minDocs`
    * distinct documents (the n≈10 "sharing means copying" threshold);
    * maximal runs of duplicated positions merge into spans, which are
    * removed from every document — the Lee et al. reading: a licence
    * header's first occurrence is no more signal than its millionth
    * (the keep-first alternative lives in l39's passage dedup).
    *
    * Output, one row per input document: (doc_id, n_tokens, n_covered,
    * n_spans, dup_frac, text_clean) — text_clean is the surviving
    * tokens in original order, whitespace-normalized (tokenization is
    * part of the operator's normalization, the lineDedup stance; docs
    * shorter than n tokens pass through untouched).
    *
    * Scale shape: positional n-grams are built NARROW (the
    * tokenNgramsAll kernel + posexplode, no shuffle) and materialized
    * once for both consumers (the l24 localCheckpoint stance);
    * doc-support is distinct-then-count — both phases partial-
    * aggregate, so a doc repeating one n-gram 10⁶× shuffles one row;
    * the duplicated-gram verdict joins back on the gram string
    * (boilerplate grams are the hot keys — the AQE skew-join shape; a
    * deployment keys on xxhash64 digests, kept as strings here so the
    * DuckDB oracle mirrors string-for-string); span merge + text
    * reassembly are ONE doc-keyed aggregate each over doc-length-
    * bounded arrays (never a per-corpus window).
    */
  def exactSubstrSpans(docs: DataFrame, n: Int = 10, minDocs: Int = 2,
                       withinDoc: Boolean = false,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // (doc, start-position, gram), scanned once, used twice
    val pg = docs.select(col(idCol).as("doc_id"),
        posexplode(tokenNgramsAll(col(textCol), n))
          .as(Seq("pos", "ngram")))
      .localCheckpoint()
    // withinDoc = the full Lee et al. reading: ANY ≥ minDocs
    // occurrences qualify, a doc repeating its own licence block
    // included (support counts multiplicity). Default counts DISTINCT
    // documents — the cross-doc contract l24 measures, leaving
    // within-doc repetition to the l23/l24 signals.
    val support =
      if (withinDoc) pg.groupBy(col("ngram"))
        .agg(count(lit(1)).as("nd"))
      else pg.select(col("ngram"), col("doc_id")).distinct()
        .groupBy(col("ngram")).agg(count(lit(1)).as("nd"))
    val shared = support
      .filter(col("nd") >= minDocs)
      .select(col("ngram"))
    // every token position under a duplicated gram, collected per doc
    val cov = pg.join(shared, Seq("ngram"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + n - 1)).as("cpos"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_covered"),
        sort_array(collect_list(col("cpos"))).as("cs"))
    // span count: 1 + the number of gaps > 1 between consecutive
    // covered positions (cs is doc-length-bounded)
    val nsp = lit(1) + size(filter(
      zip_with(slice(col("cs"), lit(2), size(col("cs")) - 1),
        slice(col("cs"), lit(1), size(col("cs")) - 1),
        (a, b) => a - b),
      d => d > 1))
    val base = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("toks"))
    base.join(cov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        coalesce(when(col("n_covered").isNotNull, nsp), lit(0))
          .cast("long").as("n_spans"),
        quant4(when(size(col("toks")) > 0,
          coalesce(col("n_covered"), lit(0L)).cast("double") /
            size(col("toks")).cast("double"))
          .otherwise(lit(0.0d))).as("dup_frac"),
        array_join(filter(col("toks"), (t, i) =>
          !array_contains(
            coalesce(col("cs"), array().cast("array<int>")), i)), " ")
          .as("text_clean"))
  }
}
