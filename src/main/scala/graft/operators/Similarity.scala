package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the query set
  * against a full scan, ranked per query with a window. Scale path:
  * random-hyperplane LSH buckets (same signature machinery as
  * [[Dedup.embeddingNearDup]]) probed bucket-locally, turning the O(N·Q)
  * scan into a bucket equi-join.
  *
  * All math is double precision, sequential left-to-right —
  * bit-reproducible across engines that do the same (the DuckDB oracle
  * casts to DOUBLE[]). The per-row vector kernels are native codegen'd
  * expressions ([[graft.functions.expressions.VectorExpressions]]); their
  * interpreted `zip_with`/`aggregate` column forms stay as references.
  */
object Similarity {

  import graft.functions.expressions.VectorExpressions.{hyperplane_bucket,
    literal_dots}

  /** Double-precision dot product of two array columns (column-function
    * form, kept as the reference implementation for tests).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (0 for zero vectors) — native expression: same
    * left-to-right double accumulation as the lambda form (bit-identical,
    * incl. vs the DuckDB DOUBLE[] oracle) but one fused loop instead of a
    * ~200-node codegen tree.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.VectorExpressions.cosine_sim(a, b)

  /** Top-k neighbors per query by exact `cosine(v, q)` over candidate
    * pairs (id, v, query_id, q), ties to the lower id: every
    * single-vector ANN search's (query_id, rank, neighbor_id, cosine).
    */
  private def rankByCosine(pairs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("id"))
    pairs.withColumn("cosine", cosine(col("v"), col("q")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Brute-force exact top-k: every query (broadcast) against every vector,
    * ranked per query. The O(N·Q) baseline and recall oracle for the ANN
    * variants.
    */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    rankByCosine(allPairs(vectors, queries, idCol, vecCol), k)
  }

  /** Every (id, v, query_id, q) pair but self-pairs, the queries
    * broadcast; v is `vSide(vec)`, q is `qSide(vec)`.
    */
  private def allPairs(vectors: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String,
                       vSide: Column => Column = identity,
                       qSide: Column => Column = identity): DataFrame =
    vectors.select(col(idCol).as("id"), vSide(col(vecCol)).as("v"))
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        qSide(col(vecCol)).as("q"))), col("id") =!= col("query_id"))

  /** Random-hyperplane signature (nBits-bit bucket id), deterministic via
    * seeded xxhash64 Rademacher planes — the column-function REFERENCE
    * implementation (like [[dot]]): it re-hashes nBits×dims per row
    * through an interpreted expression. Production paths use
    * [[hyperplaneBucket]] with driver-generated literal planes
    * (identical values, one native loop).
    */
  def lshBucket(vec: Column, nBits: Int): Column = {
    val dims = size(vec)
    aggregate(sequence(lit(0), lit(nBits - 1)), lit(0L), (acc, b) => {
      val d = aggregate(sequence(lit(0), dims - 1), lit(0.0d),
        (a, i) => a + element_at(vec, i.cast("int") + 1).cast("double") *
          when(xxhash64(b, i).bitwiseAND(1L) === 1L, 1.0d).otherwise(-1.0d))
      acc.bitwiseOR(when(d > 0, call_function("shiftleft", lit(1L), b.cast("int")))
        .otherwise(0L))
    })
  }

  /** Seeded Rademacher hyperplane signs generated DRIVER-SIDE with the
    * exact xxhash64 draws the in-plan expression uses — bit-identical
    * buckets, but the signs enter the plan as literals (plan metadata,
    * not per-row hashing).
    */
  private[graft] def rademacherPlanes(nBits: Int,
                                      dims: Int): Array[Array[Double]] =
    Array.tabulate(nBits) { b =>
      Array.tabulate(dims) { i =>
        if ((xxhash64IntPair(b, i) & 1L) == 1L) 1.0d else -1.0d
      }
    }

  /** nBits-bit hyperplane bucket from literal planes: the native
    * `hyperplane_bucket` kernel, one loop over the planes with the same
    * ascending-index accumulation and the same seeded draws as
    * [[lshBucket]] → identical bucket ids (asserted in OperatorSpec).
    * Vectors whose length differs from the plane matrix raise with the
    * [[guardDims]] message.
    */
  private[graft] def hyperplaneBucket(
      vec: Column, planes: Array[Array[Double]]): Column =
    if (planes.isEmpty) lit(0L) else hyperplane_bucket(vec, planes)

  /** The interpreted column-function REFERENCE form of `literal_dots`
    * (the [[dot]]/[[lshBucket]] convention), kept for OperatorSpec to
    * assert the native kernel matches it.
    */
  private[graft] def literalDotsColumnForm(
      vec: Column, m: Array[Array[Double]]): Column =
    guardDims(vec, m.head.length, array(m.toIndexedSeq.map { row =>
      aggregate(zip_with(vec, array(row.map(lit).toIndexedSeq: _*),
        (x, s) => x.cast("double") * s), lit(0.0d), (a, d) => a + d)
    }: _*))

  /** First row's embedding dimensionality — one driver-side metadata
    * lookup (0 for an empty frame), used to size literal plane/centroid
    * matrices. The first row in partition order is read with the physical
    * plan's `executeTake`, not `take(1)`: a `take` plans a LIMIT that
    * Catalyst pushes below unions and joins, and each codegen'd LIMIT
    * names its counter from a JVM-global sequence, so every call would
    * compile fresh classes.
    */
  private[graft] def dimsOf(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).queryExecution.executedPlan.executeTake(1)
      .headOption.map { r =>
        require(!r.isNullAt(0), s"$vecCol is null in the first row")
        r.getInt(0)
      }.getOrElse(0)

  /** LSH-bucketed ANN top-k with multi-probe: each query scores vectors in
    * its own bucket plus every bucket at hamming distance 1 (flipping each
    * signature bit) — the standard recall fix for hyperplane LSH. Cost
    * drops from O(N·Q) to O(N·Q·(nBits+1)/2^nBits), still a pure bucket
    * equi-join (only ids+buckets shuffle; recall measured in tests against
    * [[bruteForceTopK]]).
    */
  def lshTopK(vectors: DataFrame, queries: DataFrame, k: Int,
              nBits: Int = 8, idCol: String = "vec_id",
              vecCol: String = "embedding", dims: Int = -1): DataFrame = {
    val planes = rademacherPlanes(nBits,
      if (dims >= 0) dims else dimsOf(vectors, vecCol))
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("v"),
      hyperplaneBucket(col(vecCol), planes).as("bucket"))
    val probes = (0 until nBits)
      .map(i => col("bucket").bitwiseXOR(lit(1L << i))) :+ col("bucket")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q"),
        hyperplaneBucket(col(vecCol), planes).as("bucket"))
      .withColumn("probe", explode(array(probes: _*)))
    rankByCosine(v.join(q,
        v("bucket") === q("probe") && col("id") =!= col("query_id")), k)
  }

  /** Seeded Rademacher PROJECTION matrix (projDims × dims, entries ±1)
    * for [[randomProjectionTopK]] — the Achlioptas database-friendly
    * Johnson–Lindenstrauss construction (±1 entries preserve pairwise
    * inner-product ORDER in expectation, and candidate ranking only
    * needs order, so the 1/√projDims JL scale factor is dropped). Rows
    * draw from the same seeded xxhash64 stream as [[rademacherPlanes]]
    * but at a disjoint row-index offset, so the projection is
    * independent of the LSH hyperplanes.
    */
  private[graft] val ProjSeedOffset = 1 << 20
  private[graft] def rademacherProjection(projDims: Int,
                                          dims: Int): Array[Array[Double]] =
    Array.tabulate(projDims) { j =>
      Array.tabulate(dims) { i =>
        if ((xxhash64IntPair(j + ProjSeedOffset, i) & 1L) == 1L) 1.0d
        else -1.0d
      }
    }

  /** projDims-element reduced vector from literal projection rows: the
    * native `literal_dots` kernel ([[hyperplaneBucket]]'s loop, each dot
    * kept as a VALUE instead of collapsed to a sign bit). Dimension
    * mismatches raise with the [[guardDims]] message.
    */
  private[graft] def projectVec(vec: Column,
                                proj: Array[Array[Double]]): Column =
    if (proj.isEmpty) array() else literal_dots(vec, proj)

  /** Random-projection ANN (Johnson–Lindenstrauss): vectors and queries
    * project through a seeded ±1 matrix to `projDims` dimensions, the
    * all-pairs candidate scan runs ENTIRELY in the reduced space, the
    * top `shortlist` per query re-rank by exact cosine on the original
    * vectors. This is the dimension-REDUCTION point on the compression
    * spectrum (PQ/SQ8/BQ quantize per-dimension precision; JL cuts the
    * dimension count) — at 64→32 dims the candidate scan's compute AND
    * shuffle width both drop 2×, and the full-width vectors never enter
    * the cross join at all: they re-attach by id for only shortlist·Q
    * candidate rows. Queries broadcast (the q-side of every ANN entry
    * here); recall vs [[bruteForceTopK]] is measured in OperatorSpec.
    */
  def randomProjectionTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                           projDims: Int = 32, shortlist: Int = 128,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           dims: Int = -1): DataFrame = {
    val d = if (dims >= 0) dims else dimsOf(vectors, vecCol)
    val proj = rademacherProjection(projDims, d)
    val approx = allPairs(vectors, queries, idCol, vecCol,
        projectVec(_, proj), projectVec(_, proj))
      .withColumn("s", cosine(col("v"), col("q")))
    rerankExact(approx, vectors, queries, idCol, vecCol, k, shortlist)
  }

  /** Driver-side replica of the in-plan `xxhash64(a, b)` over two
    * IntegerType columns (seed 42, left-to-right fold; integers hash via
    * `XXH64.hashInt`, NOT `hashLong` — the two mix different input
    * lengths and give different values). This is what lets the seeded
    * plan constants (planes, pseudo-centroids) be generated ON THE DRIVER
    * with exactly the values the reference in-plan expressions draw —
    * OperatorSpec asserts [[lshBucket]] ≡ [[hyperplaneBucket]] on data.
    */
  private[graft] def xxhash64IntPair(a: Int, b: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    XXH64.hashInt(b, XXH64.hashInt(a, 42L))
  }

  private def pmodL(x: Long, m: Long): Long = { val r = x % m; if (r < 0) r + m else r }

  /** Per-row dimensionality guard for the column-form literal-matrix
    * kernels: `zip_with` against a fixed-length literal NULL-pads a
    * mismatched vector, which would silently zero bucket bits / skew
    * codes — so a vector whose length differs from the matrix raises
    * instead (the native kernels raise with the same message).
    */
  private def guardDims(vec: Column, dims: Int, out: Column): Column =
    when(size(vec) === lit(dims), out)
      .otherwise(raise_error(concat(
        lit(s"graft: expected $dims-dim vector, got "),
        size(vec).cast("string"))))

  /** The seeded pseudo-centroid matrix (deterministic stand-in for trained
    * k-means centroids), components in [-1, 1) from the same xxhash64
    * draws the in-plan expression form uses.
    */
  private[graft] def pseudoCentroids(nCentroids: Int,
                                     dims: Int): Array[Array[Double]] =
    Array.tabulate(nCentroids) { c =>
      Array.tabulate(dims) { i =>
        pmodL(xxhash64IntPair(c, i), 2000L).toDouble / 1000.0d - 1.0d
      }
    }

  /** IVF-style ANN: partition vectors by nearest of `nCentroids` seeded
    * pseudo-random unit directions (a deterministic stand-in for trained
    * k-means centroids), probe the query's `nProbe` nearest cells. The
    * Spark shape — centroid assignment as a narrow column expression, then
    * a cell equi-join — is exactly what a trained-IVF would use.
    *
    * The centroid matrix is generated DRIVER-SIDE and enters the plan
    * through the same native `literal_dots` kernel as [[ivfTopKTrained]]:
    * a 16×dims constant is plan metadata, not per-row work, so scoring is
    * one codegen'd loop over the centroids instead of re-hashing 16×dims
    * per row.
    * `dims` defaults to one driver-side metadata row (pass it explicitly
    * to avoid the lookup job); vectors of any other length raise.
    */
  def ivfTopK(vectors: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id",
              vecCol: String = "embedding", dims: Int = -1): DataFrame = {
    val d = if (dims >= 0) dims else dimsOf(vectors, vecCol)
    val cents = pseudoCentroids(nCentroids, d)
    rankByCosine(cellPairs(vectors, queries,
      cellScores(cents, (dot, _) => dot), nProbe, idCol, vecCol), k)
  }

  /** Fit k-means (Spark MLlib) on the corpus and return the centroid
    * matrix. At 100 TB, fit on a sample (`vectors.sample(...)`): k-means
    * cost is per-centroid-dim, not corpus-sized, and assignment is the
    * same narrow scan either way.
    */
  def fitIvfCentroids(vectors: DataFrame, nCentroids: Int = 16,
                      vecCol: String = "embedding", maxIter: Int = 10,
                      seed: Long = 7L): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val train = vectors.select(
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    new KMeans().setK(nCentroids).setSeed(seed).setMaxIter(maxIter)
      .fit(train).clusterCenters.map(_.toArray)
  }

  /** IVF probe against an EXPLICIT centroid matrix (plan literals).
    * Nearest-centroid score = 2·v·c − ‖c‖², which orders cells exactly
    * like −‖v−c‖² (the ‖v‖² term is constant per vector) but is a single
    * dot product per cell — and, with ‖c‖² precomputed driver-side, is
    * reproducible operation-for-operation by an external engine's
    * `list_inner_product` (the DuckDB oracle recomputes the assignment
    * independently from the same literals).
    */
  def ivfTopKWithCentroids(vectors: DataFrame, queries: DataFrame, k: Int,
                           centroids: Array[Array[Double]], nProbe: Int = 4,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame =
    rankByCosine(cellPairs(vectors, queries, literalCellScores(centroids),
      nProbe, idCol, vecCol), k)

  /** The ONE copy of the literal-centroid cell-scoring expression:
    * per cell, `2·v·c − ‖c‖²` (orders like −‖v−c‖², the ‖v‖² term being
    * constant per vector) with ‖c‖² folded in driver-side — one
    * reproducible dot per cell, all cells' dots from one native
    * `literal_dots` loop (a `transform` over the cells then builds the
    * structs), re-derivable by an external engine via
    * `list_inner_product(e, c) * 2 − c2`. Every consumer of the
    * centroid-matrix convention ([[ivfTopKWithCentroids]],
    * [[ivfPqTopK]], [[assignCells]]) MUST go through this helper: the
    * accumulation order and tie convention are load-bearing for the
    * DuckDB oracle contract.
    */
  private[graft] def literalCellScores(
      centroids: Array[Array[Double]]): Column => Column = {
    require(centroids.nonEmpty, "empty centroid matrix")
    val c2 = centroids.map(c => c.map(x => x * x).sum)
    val c2Lit = array(c2.map(lit).toIndexedSeq: _*)
    cellScores(centroids,
      (dot, idx) => dot * lit(2.0d) - element_at(c2Lit, idx + 1))
  }

  /** Per-cell `struct(score, cell)` over one `literal_dots` of the vector
    * with the centroid matrix; `score(dot, cell)` sees each cell's dot.
    * The `transform` left is a loop over cells, not over dimensions.
    */
  private def cellScores(centroids: Array[Array[Double]],
                         score: (Column, Column) => Column): Column => Column =
    vec => transform(literal_dots(vec, centroids),
      (dot, idx) => struct(score(dot, idx).as("score"), idx.as("cell")))

  /** Nearest-cell assignment against an explicit centroid matrix:
    * (id, v, cell), cell = argmax (2·v·c − ‖c‖²) with ties to the
    * HIGHER cell id — the exact convention of [[ivfTopKWithCentroids]]'
    * scan side (reverse array_sort), reproducible by an external engine
    * as `ORDER BY score DESC, cell DESC`. The coarse-partition primitive
    * that cell-local operators (IVF probes, semantic dedup) share.
    */
  def assignCells(vectors: DataFrame, centroids: Array[Array[Double]],
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val scores = literalCellScores(centroids)
    vectors.select(col(idCol).as("id"), col(vecCol).as("v"),
      element_at(reverse(array_sort(scores(col(vecCol)))), 1)
        .getField("cell").as("cell"))
  }

  /** PERSIST the IVF index: cell assignments written as parquet
    * PARTITIONED BY cell — one directory per coarse cell, the layout
    * every production vector store deploys ("build once, query many").
    * At 100 TB this is the difference between an index and a scan: a
    * query touches nProbe/nCells of the DIRECTORIES, pruned by the file
    * index at plan time before any task launches. Rewrites are
    * `mode(overwrite)`; content is a pure function of (corpus,
    * centroids), so callers key the path by both (the entry hashes the
    * centroid matrix into the path — testdata drift remints the index).
    */
  def writeIvfIndex(vectors: DataFrame, centroids: Array[Array[Double]],
                    path: String, idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit =
    assignCells(vectors, centroids, idCol, vecCol)
      .select(col("id").as(idCol), col("v").as(vecCol), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Merge a secondary [[writeIvfIndex]] segment into a primary one —
    * the incremental-indexing maintenance step (new crawl slices land
    * as their own segments; a vector store periodically compacts them):
    * the PRIMARY's centroids are adopted (the Lucene-style merge
    * policy — retraining k-means over the union would invalidate every
    * existing cell assignment and force a full rebuild), the primary's
    * rows copy through with their cell assignments INTACT, and only
    * the secondary's vectors re-assign — one narrow literal-centroid
    * projection over the smaller side. The merged store is
    * bit-identical to an index built over the union with the primary's
    * centroids (OperatorSpec asserts it; the s18 oracle re-derives the
    * query result from that identity), so [[queryIvfIndex]] needs no
    * merge awareness. At scale the copy is the rewrite a compaction
    * pays anyway; partition layout (cell directories) is preserved.
    */
  def mergeIvfIndex(spark: org.apache.spark.sql.SparkSession,
                    primary: String,
                    secondary: String, centroids: Array[Array[Double]],
                    out: String, idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    val a = spark.read.parquet(primary)
      .select(col(idCol), col(vecCol), col("cell"))
    val b = assignCells(
        spark.read.parquet(secondary).select(col(idCol), col(vecCol)),
        centroids, idCol, vecCol)
      .select(col("id").as(idCol), col("v").as(vecCol), col("cell"))
    a.unionByName(b)
      .write.mode("overwrite").partitionBy("cell").parquet(out)
  }

  /** Compact a [[writeIvfIndex]] segment against a tombstone relation —
    * the DELETE half of index maintenance beside [[mergeIvfIndex]]'s
    * merge half (right-to-be-forgotten requests and takedowns arrive as
    * id lists; a vector store honors them by rewriting segments without
    * the tombstoned rows — assignments never change, so no centroid
    * work): one id-keyed LEFT ANTI join, cell partition layout
    * preserved. The compacted store is identical to an index built
    * over the corpus minus the tombstones (the s19 oracle queries that
    * identity), so [[queryIvfIndex]] needs no delete awareness.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String,
                      tombstones: DataFrame, out: String,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit =
    spark.read.parquet(path)
      .select(col(idCol), col(vecCol), col("cell"))
      .join(tombstones.select(col(idCol)), Seq(idCol), "left_anti")
      .write.mode("overwrite").partitionBy("cell").parquet(out)

  /** Query a [[writeIvfIndex]] index: the probe cells come from the
    * literal centroid matrix (same 2·v·c − ‖c‖², ties to the higher
    * cell), their union becomes a plan-time `IN` literal on the
    * PARTITION column — the scan's file index prunes every unprobed
    * cell directory before execution (PlanSpec pins the
    * PartitionFilters) — and exact cosine ranks within the probed
    * union, result-identical to the in-memory [[ivfTopKWithCentroids]]
    * (asserted in OperatorSpec; the s17 oracle is byte-for-byte s04's).
    * The driver-side cell-union collect is bounded by the CELL COUNT,
    * never the corpus.
    */
  def queryIvfIndex(path: String, centroids: Array[Array[Double]],
                    queries: DataFrame, k: Int, nProbe: Int = 4,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val scores = literalCellScores(centroids)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q"),
      explode(topCells(scores, col(vecCol), nProbe)).as("cell"))
    val cells = q.select(col("cell")).distinct().collect()
      .map(_.getInt(0)).sorted
    val idx = spark.read.parquet(path)
      .filter(col("cell").isin(cells.map(Int.box).toIndexedSeq: _*))
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("cell"))
    rankByCosine(idx.join(q, Seq("cell"))
      .filter(col("id") =!= col("query_id")), k)
  }

  /** IVF with TRAINED centroids: k-means fit, then the literal-centroid
    * probe of [[ivfTopKWithCentroids]].
    */
  def ivfTopKTrained(vectors: DataFrame, queries: DataFrame, k: Int,
                     nCentroids: Int = 16, nProbe: Int = 4,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     maxIter: Int = 10, seed: Long = 7L): DataFrame =
    ivfTopKWithCentroids(vectors, queries, k,
      fitIvfCentroids(vectors, nCentroids, vecCol, maxIter, seed), nProbe,
      idCol, vecCol)

  // ---- product quantization (PQ) ----

  /** Fit per-subspace PQ codebooks: `m` subspaces of `dims/m` components,
    * `k` codewords each (k-means per subspace). Returns
    * `books(sub)(codeword)(component)`. At 100 TB, fit on a sample —
    * codebook training cost is per-subspace-dim, not corpus-sized, and
    * the codebooks are a few KB of plan literals forever after.
    */
  def fitPqCodebooks(vectors: DataFrame, m: Int = 8, k: Int = 16,
                     vecCol: String = "embedding", maxIter: Int = 10,
                     seed: Long = 7L,
                     dims: Int = -1): Array[Array[Array[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val d = if (dims >= 0) dims else dimsOf(vectors, vecCol)
    require(m > 0 && d > 0 && d % m == 0,
      s"dims $d not divisible into $m subspaces")
    val subLen = d / m
    // the M fits are independent (own seed each, so concurrency cannot
    // change the result) and each is dominated by fixed per-job cost at
    // fit time — run them as concurrent Spark actions instead of a
    // sequential M-fold job-latency sum
    concurrently((0 until m).map { sub => () =>
      val train = vectors.select(array_to_vector(
        slice(col(vecCol).cast("array<double>"), sub * subLen + 1, subLen))
        .as("features"))
      new KMeans().setK(k).setSeed(seed + sub).setMaxIter(maxIter)
        .fit(train).clusterCenters.map(_.toArray)
    }).toArray
  }

  /** Run independent blocking Spark actions concurrently on a DEDICATED
    * fixed pool sized to the task count (never the shared global EC — a
    * hung action there starves everything else using it), with a finite
    * deadline so a wedged fit surfaces as an error instead of an
    * Await(Inf) hang. Results keep input order.
    */
  private[graft] def concurrently[A](tasks: Seq[() => A],
      timeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(10, "min")): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    if (tasks.isEmpty) return Seq.empty
    if (tasks.lengthCompare(1) == 0) return Seq(tasks.head())
    // daemon threads + shutdownNow: a task still wedged when the Await
    // deadline fires must neither keep running unobserved nor pin the
    // JVM open (a plain shutdown() would let a non-daemon thread do both)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      tasks.size,
      (r: Runnable) => {
        val t = new Thread(r, "graft-concurrent-fit")
        t.setDaemon(true)
        t
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(
      Future.sequence(tasks.map(t => Future(blocking(t())))), timeout)
    finally pool.shutdownNow()
  }

  // ---- train-time fit memoization ----
  //
  // Codebooks/centroids are "plan literals forever after" (a real
  // deployment fits once on a sample and stores the matrices), so
  // repeated invocations against the same corpus — the bench's
  // median-of-N loop, a Verify pass after a bench, a FRESH JVM running
  // the same suite — should pay the k-means cost ONCE and measure the
  // query path. Two layers, both keyed by (corpus key, fit params):
  // graft.Memo over a CROSS-JVM disk cache under target/fitcache (the
  // sigstore/golden write-once convention — doubles serialize via
  // shortest-roundtrip toString, which parseDouble inverts EXACTLY, so
  // a reloaded matrix is bit-identical to the fitted one and every
  // downstream oracle capture is unaffected).

  private[graft] def fitCachePath(kind: String, key: Product): java.nio.file.Path = {
    val raw = key.productIterator.mkString("_")
    // readable sanitized prefix + md5 of the RAW key: sanitization maps
    // distinct corpus paths onto the same characters ("/a/b" vs "/a_b");
    // the digest keeps such keys distinct
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(raw.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString.take(12)
    java.nio.file.Paths.get("target", "fitcache",
      s"$kind-${raw.replaceAll("[^A-Za-z0-9_.-]", "_")}-$digest.txt")
  }

  /** Rows = centroids (or flattened codewords); cols = components —
    * one line per row, space-separated shortest-roundtrip doubles.
    */
  private[graft] def diskLoad(p: java.nio.file.Path): Option[Array[Array[Double]]] =
    if (!java.nio.file.Files.exists(p)) None
    else scala.util.Try {
      java.nio.file.Files.readAllLines(p).toArray(Array.empty[String])
        .filter(_.nonEmpty)
        .map(_.split(" ").map(java.lang.Double.parseDouble))
    }.toOption

  private[graft] def diskStore(p: java.nio.file.Path,
                        rows: Array[Array[Double]]): Unit = {
    java.nio.file.Files.createDirectories(p.getParent)
    val body = rows.map(_.mkString(" ")).mkString("\n")
    // temp + atomic move: a concurrent reader never sees a torn file, and
    // a per-write temp name keeps two JVMs storing the same fit from
    // moving each other's temp
    val tmp = p.resolveSibling(
      s"${p.getFileName}.tmp-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.write(tmp,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** [[fitIvfCentroids]] memoized per (corpusKey, params) — in-JVM and
    * on disk. `corpusKey` must identify the corpus contents (e.g. the
    * sf dir path); `vectors` is by-name and only evaluated when both
    * cache layers miss.
    */
  def ivfCentroidsCached(corpusKey: String, vectors: => DataFrame,
                         nCentroids: Int = 16, vecCol: String = "embedding",
                         maxIter: Int = 10,
                         seed: Long = 7L): Array[Array[Double]] = {
    val key = (s"$corpusKey|$vecCol", nCentroids, maxIter, seed)
    graft.Memo(("similarity.cents", key)) {
      val p = fitCachePath("cents", key)
      diskLoad(p).filter(_.length == nCentroids).getOrElse {
        val fitted = fitIvfCentroids(vectors, nCentroids, vecCol,
          maxIter, seed)
        diskStore(p, fitted)
        fitted
      }
    }
  }

  /** [[fitPqCodebooks]] memoized per (corpusKey, params) — in-JVM and
    * on disk (codebooks flatten to `m·k` rows of `subLen` components).
    */
  def pqCodebooksCached(corpusKey: String, vectors: => DataFrame,
                        m: Int = 8, k: Int = 16,
                        vecCol: String = "embedding", maxIter: Int = 10,
                        seed: Long = 7L): Array[Array[Array[Double]]] = {
    val key = (s"$corpusKey|$vecCol", m, k, maxIter, seed)
    graft.Memo(("similarity.books", key)) {
      val p = fitCachePath("books", key)
      diskLoad(p).filter(_.length == m * k)
        .map(_.grouped(k).toArray)
        .getOrElse {
          val fitted = fitPqCodebooks(vectors, m, k, vecCol, maxIter, seed)
          diskStore(p, fitted.flatten)
          fitted
        }
    }
  }

  /** PQ code assignment: `array<int>` of one codeword id per subspace.
    * Per subspace, argmin ‖v_sub − c_j‖² computed as
    * argmax (2·v_sub·c_j − ‖c_j‖²) — one reproducible dot per codeword
    * with ‖c_j‖² folded in driver-side (the same trick as
    * [[ivfTopKWithCentroids]]); ties break toward the HIGHER codeword id
    * (reverse of an ascending (score, cw) sort), mirrored exactly by the
    * oracle's `ORDER BY score DESC, cw DESC`.
    */
  private[graft] def pqCodes(vec: Column,
      books: Array[Array[Array[Double]]]): Column = {
    require(books.nonEmpty && books.head.nonEmpty, "empty codebooks")
    graft.functions.expressions.VectorExpressions.pq_codes(vec, books)
  }

  /** The interpreted column-function REFERENCE form of [[pqCodes]] (the
    * [[dot]]/[[lshBucket]]/[[bqBits]] convention): identical argmax
    * arithmetic and tie order, but k structs sorted per subspace through
    * HOF nodes — CodegenFallback, measured ~4× the whole-query wall of
    * the fused [[graft.functions.expressions.PqCodesExpr]] kernel on the
    * s13 10× corpus. Kept for OperatorSpec to assert the promotion
    * changed nothing.
    */
  private[graft] def pqCodesColumnForm(vec: Column,
      books: Array[Array[Array[Double]]]): Column = {
    require(books.nonEmpty && books.head.nonEmpty, "empty codebooks")
    val subLen = books.head.head.length
    guardDims(vec, books.length * subLen,
      array(books.zipWithIndex.map { case (cws, sub) =>
        val subVec = slice(vec, sub * subLen + 1, subLen)
        val scored = cws.zipWithIndex.map { case (c, j) =>
          val cl = array(c.map(lit).toIndexedSeq: _*)
          val c2 = c.map(x => x * x).sum
          struct(
            (aggregate(zip_with(subVec, cl, (x, cc) => x.cast("double") * cc),
              lit(0.0d), (a, dd) => a + dd) * lit(2.0d) - lit(c2))
              .as("score"),
            lit(j).as("cw"))
        }
        element_at(reverse(array_sort(array(scored.toIndexedSeq: _*))), 1)
          .getField("cw")
      }.toIndexedSeq: _*))
  }

  /** Per-query ADC lookup tables: `tables(sub)(codeword) = q_sub · c` —
    * K·M doubles per query, one `literal_dots` per subspace slice against
    * that subspace's codebook, broadcast with the query row.
    */
  private[graft] def pqQueryTables(vec: Column,
      books: Array[Array[Array[Double]]]): Column = {
    val subLen = books.head.head.length
    guardDims(vec, books.length * subLen,
      array(books.zipWithIndex.map { case (cws, sub) =>
        literal_dots(slice(vec, sub * subLen + 1, subLen), cws)
      }.toIndexedSeq: _*))
  }

  /** Asymmetric distance computation: Σ_sub tables(sub)(codes(sub)) —
    * M table lookups per candidate pair instead of a d-component dot,
    * accumulated left-to-right in subspace order (bit-reproducible).
    * The PER-PAIR hot kernel, so it runs as the fused codegen
    * [[graft.functions.expressions.AdcScoreExpr]] rather than an
    * interpreted HOF ([[adcScoreColumnForm]] kept as the reference).
    */
  private def adcScore(codes: Column, tables: Column): Column =
    graft.functions.expressions.VectorExpressions.adc_score(codes, tables)

  private[graft] def adcScoreColumnForm(codes: Column,
                                        tables: Column): Column =
    aggregate(zip_with(codes, tables, (c, t) => element_at(t, c + 1)),
      lit(0.0d), (a, x) => a + x)

  /** PQ-ADC top-k with exact re-rank — the memory-side scale path: the
    * scan side carries only the M-code array (at the defaults, 8×4-bit
    * codewords ≈ 4 bytes vs 256 bytes of float32s, 64×) plus ids; full
    * vectors are
    * touched only for the `rerank` exact-cosine candidates per query.
    * Approximate ADC ranks select the candidate set; exact cosine orders
    * the final top-k. Codes would be precomputed and stored in a real
    * deployment ([[pqCodes]] is the one-scan encoder); compose with the
    * IVF cell join ([[ivfPqTopK]]) to also prune the candidate-pair space.
    */
  def pqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
             books: Array[Array[Array[Double]]], rerank: Int = 64,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    // the candidate scan carries codes only — full vectors re-attach to
    // the ≤ rerank survivors inside rerankExact
    val approx = allPairs(vectors, queries, idCol, vecCol,
        pqCodes(_, books), pqQueryTables(_, books))
      .withColumn("s", adcScore(col("v"), col("q")))
    rerankExact(approx, vectors, queries, idCol, vecCol, k, rerank)
  }

  /** IVF-PQ: coarse cell equi-join (nearest of `centroids`, queries probe
    * `nProbe` cells) + ADC scoring + exact re-rank — the standard
    * billion-scale ANN layout (both the pair space AND the bytes-per-pair
    * are pruned). Recall is measured against [[bruteForceTopK]] in
    * OperatorSpec; the oracled registry entry uses the flat [[pqTopK]]
    * form so DuckDB re-derives the full candidate pipeline.
    */
  def ivfPqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                centroids: Array[Array[Double]],
                books: Array[Array[Array[Double]]], nProbe: Int = 4,
                rerank: Int = 32, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val approx = cellPairs(vectors, queries, literalCellScores(centroids),
        nProbe, idCol, vecCol, pqCodes(_, books), pqQueryTables(_, books))
      .withColumn("s", adcScore(col("v"), col("q")))
    rerankExact(approx, vectors, queries, idCol, vecCol, k, rerank)
  }

  /** Shared two-stage finish: approximate top-`rerank` candidates per
    * query, then exact cosine over just those, final top-k.
    *
    * r21 shape (the [[randomProjectionTopK]] re-attach pattern applied
    * to the whole quantized family): `approx` carries ONLY
    * (query_id, id, s) — the candidate sort/shuffle moves ~20 bytes per
    * pair instead of two full vectors (the pre-r21 plan sorted and
    * exchanged both float arrays per candidate pair: 30×+ the bytes at
    * 64 dims, unboundedly worse at production widths). Survivors
    * (≤ rerank per query) re-attach the full vectors by id / query_id
    * equi-joins against the vectors' (id, v) and the queries'
    * (query_id, q) columns —
    * unhinted since r22, see the join-site comment — the "decide with
    * small rows, move big rows once" trade: one extra (column-pruned)
    * scan of the vector relation in exchange for a vector-free
    * candidate shuffle.
    */
  private def rerankExact(approx: DataFrame, vectors: DataFrame,
                          queries: DataFrame, idCol: String, vecCol: String,
                          k: Int, rerank: Int): DataFrame = {
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("s").desc, col("id"))
    val cand = approx.select(col("query_id"), col("id"), col("s"))
      .withColumn("arn", row_number().over(wA))
      .filter(col("arn") <= rerank)
      .select(col("query_id"), col("id"))
    // no broadcast() hint on the query side (ADVICE r21): the IVF callers feed
    // query relations of caller-controlled size, and an unconditional
    // hint is a driver/executor memory hazard at large query batches
    // (the resolveCodeHash no-hard-broadcast rationale). AQE/statistics
    // still pick BHJ whenever the query side is actually small — which
    // every fixture-scale caller is.
    rankByCosine(cand
      .join(vectors.select(col(idCol).as("id"), col(vecCol).as("v")),
        Seq("id"))
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("q")),
        Seq("query_id")), k)
  }

  /** Shared IVF probe: candidate pairs (id, v, query_id, q) from a cell
    * equi-join instead of an O(N·Q) scan — each vector in its best cell
    * by `scores`, carrying `vSide(vec)` as v, each query in its `nProbe`
    * best cells, carrying `qSide(vec)` as q; self-pairs dropped.
    */
  private def cellPairs(vectors: DataFrame, queries: DataFrame,
                        scores: Column => Column, nProbe: Int, idCol: String,
                        vecCol: String, vSide: Column => Column = identity,
                        qSide: Column => Column = identity): DataFrame = {
    val vec = col(vecCol)
    val v = vectors.select(col(idCol).as("id"), vSide(vec).as("v"),
      element_at(topCells(scores, vec, 1), 1).as("cell"))
    val q = queries.select(col(idCol).as("query_id"), qSide(vec).as("q"),
      explode(topCells(scores, vec, nProbe)).as("cell"))
    v.join(q, Seq("cell")).filter(col("id") =!= col("query_id"))
  }

  /** Cell ids of the `n` best entries of `scores(vec)`: descending score,
    * ties to the higher cell (a reverse of the ascending struct sort).
    */
  private def topCells(scores: Column => Column, vec: Column,
                       n: Int): Column =
    transform(slice(reverse(array_sort(scores(vec))), 1, n),
      s => s.getField("cell"))

  // ---- filtered ANN: metadata predicate ∩ vector search ----

  /** Probe width for a FILTERED search: widen `nProbe` by the inverse of
    * the predicate's selectivity, capped at `nCells`. Rationale: with
    * only `eligible/total` of the corpus passing the filter, a fixed
    * nProbe-of-nCells probe inspects ≈ nProbe/nCells of the ELIGIBLE
    * set — recall collapses exactly when the filter is selective.
    * Widening to `nProbe·total/eligible` keeps the number of probed
    * eligible vectors ≈ the unfiltered design point (so cost is flat),
    * and a >90 %-selective filter widens to ALL cells — the cell join
    * degenerates to a scan of the (tiny) eligible set, which is the
    * brute-force-on-filtered fallback every production vector store
    * takes at high selectivity. The two counts are driver scalars; a
    * 100 TB deployment would substitute a cached column statistic or a
    * sample estimate — only the ORDER of magnitude matters here.
    */
  def filteredProbeWidth(vectors: DataFrame, pred: Column, nProbe: Int,
                         nCells: Int): Int = {
    val total = vectors.count()
    val eligible = vectors.filter(pred).count()
    if (eligible <= 0) nCells
    else math.min(nCells.toLong,
      math.max(nProbe.toLong,
        math.ceil(nProbe.toDouble * total / eligible).toLong)).toInt
  }

  /** Filtered ANN: top-k by exact cosine among vectors satisfying a
    * metadata predicate, candidates via the IVF cell join. The predicate
    * is applied to the VECTOR side BEFORE cell assignment — a
    * PRE-filter, pushed to the scan — never a post-filter of an
    * unfiltered top-k (which returns fewer than k, often zero, whenever
    * the filter is selective: the classic filtered-ANN failure mode).
    * The probe is widened per [[filteredProbeWidth]] (pass
    * `nProbeOverride` to pin it, e.g. to a captured value) so recall
    * holds at any selectivity. Plan shape: predicate → parquet scan
    * (PushedFilters), cell assignment on survivors only, cell equi-join,
    * exact-cosine window top-k — identical to [[ivfTopKWithCentroids]]
    * modulo the filter and the widened probe.
    */
  def filteredIvfTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                      centroids: Array[Array[Double]], pred: Column,
                      nProbe: Int = 4, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      nProbeOverride: Int = -1): DataFrame = {
    val np = if (nProbeOverride > 0) nProbeOverride
      else filteredProbeWidth(vectors, pred, nProbe, centroids.length)
    rankByCosine(cellPairs(vectors.filter(pred), queries,
      literalCellScores(centroids), np, idCol, vecCol), k)
  }

  /** Cluster-balanced sampling — the embedding-space curation step that
    * stops one dominant topic/domain from swamping a training mix
    * (the DataComp-style balancing that samples per semantic cluster
    * instead of uniformly): assign each vector to its trained coarse
    * cell ([[assignCells]] — the shared cell primitive, literal
    * centroids, reverse-sort tie convention) and keep a deterministic
    * per-cell quota under content-hash order (md5 of the id rendered as
    * a string — reproducible across engines, runs, and cluster sizes,
    * unbiased w.r.t. physical row order; the [[graft.operators
    * .TextAnalysis.samplePerGroup]] convention). Output
    * (cell, id, cell_rank ≤ nPerCell).
    *
    * Scale shape: narrow cell assignment (centroid matrix is plan
    * literals) + ONE shuffle on cell for the quota window — cells are
    * the balance dimension, so the window key has bounded cardinality
    * and the per-cell top-n uses WindowGroupLimit pushdown.
    */
  def clusterBalancedSample(vectors: DataFrame,
                            centroids: Array[Array[Double]], nPerCell: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(nPerCell > 0, s"nPerCell must be positive: $nPerCell")
    val asg = assignCells(vectors, centroids, idCol, vecCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"))
      .orderBy(md5(col("id").cast("string")), col("id"))
    asg.withColumn("cell_rank", row_number().over(w))
      .filter(col("cell_rank") <= nPerCell)
      .select(col("cell").cast("long").as("cell"),
        col("id").as(idCol), col("cell_rank").cast("long").as("cell_rank"))
  }

  // ---- SQ8: per-dimension scalar quantization ----

  /** SQ8's entire "training": per-dimension [lo, hi] bounds over the
    * corpus — ONE order-independent min/max aggregate (exact, seed-free,
    * iteration-free; contrast with the k-means fits behind IVF/PQ),
    * collected dims-sized. At 100 TB this is a single map-side-combining
    * pass; the bounds land as plan literals exactly like the
    * plane/centroid/codebook matrices.
    */
  def fitSqBounds(vectors: DataFrame, vecCol: String = "embedding")
      : (Array[Double], Array[Double]) = {
    val rows = vectors
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))
      .orderBy(col("pos")).collect()
    require(rows.nonEmpty, "fitSqBounds: empty corpus")
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** [[fitSqBounds]] memoized per corpusKey — in-JVM and on disk (the
    * [[ivfCentroidsCached]] convention extended to the aggregate-only
    * fits: deterministic min/max, so cached == fitted; the fit is
    * train-time, not query-time, and a deployment loads stored bounds).
    */
  def fitSqBoundsCached(corpusKey: String, vectors: => DataFrame,
                        vecCol: String = "embedding")
      : (Array[Double], Array[Double]) =
    graft.Memo(("similarity.sqbounds", s"$corpusKey|$vecCol")) {
      val p = fitCachePath("sqbounds", (s"$corpusKey|$vecCol", 0))
      diskLoad(p).filter(_.length == 2)
        .map(r => (r(0), r(1)))
        .getOrElse {
          val f = fitSqBounds(vectors, vecCol)
          diskStore(p, Array(f._1, f._2))
          f
        }
    }

  /** [[fitBqThresholds]] memoized per corpusKey — in-JVM and on disk
    * (same rationale as [[fitSqBoundsCached]]).
    */
  def fitBqThresholdsCached(corpusKey: String, vectors: => DataFrame,
                            vecCol: String = "embedding"): Array[Double] =
    graft.Memo(("similarity.bqmu", s"$corpusKey|$vecCol")) {
      val p = fitCachePath("bqmu", (s"$corpusKey|$vecCol", 0))
      diskLoad(p).filter(_.length == 1).map(_.head)
        .getOrElse {
          val f = fitBqThresholds(vectors, vecCol)
          diskStore(p, Array(f))
          f
        }
    }

  /** 8-bit scalar quantization: code_d = clamp₀₂₅₅(⌊(x−lo)/(hi−lo)·255
    * + 0.5⌋) — round-half-up via floor, the rounding both engines
    * reproduce bit-for-bit from identical doubles; a degenerate
    * dimension (hi ≤ lo) codes to 0. The scan side then carries d bytes
    * per vector instead of 8d (doubles) — the faiss-SQ8 memory layout.
    */
  private[graft] def sqCodes(vec: Column, lo: Array[Double],
                             hi: Array[Double]): Column = {
    require(lo.length == hi.length && lo.nonEmpty, "sqCodes: bad bounds")
    val loL = array(lo.map(lit).toIndexedSeq: _*)
    val hiL = array(hi.map(lit).toIndexedSeq: _*)
    guardDims(vec, lo.length,
      zip_with(vec,
        zip_with(loL, hiL, (a, b) => struct(a.as("lo"), b.as("hi"))),
        (x, bnd) => {
          val l = bnd.getField("lo")
          val h = bnd.getField("hi")
          when(h <= l, lit(0)).otherwise(
            least(lit(255), greatest(lit(0),
              floor((x.cast("double") - l) / (h - l) * lit(255.0d)
                + lit(0.5d)).cast("int"))))
        }))
  }

  /** SQ8 top-k with exact re-rank — the third point in the memory-layout
    * family (full vectors → [[pqTopK]] 4-bit-ish codes → this, byte
    * codes): candidates rank by the symmetric CENTERED quantized dot
    * Σ (code_d−128)(qcode_d−128). Centering matters: the raw code is an
    * affine shift of the value (≈ (x−lo)·255/range), so a raw-code dot
    * adds a candidate-dependent Σx_d bias that wrecks ranking on
    * zero-centered embeddings; code−128 ≈ x·255/range recovers a
    * per-dim-scaled dot. Still pure INTEGER arithmetic —
    * order-independent and bit-exact in every engine, so the oracle's
    * unordered SUM reproduces the engine's fold with no explicit-order
    * gymnastics (the s05 ADC sum needed them; integer candidates
    * don't). Exact cosine over the top-`rerank` candidates orders the
    * final top-k.
    */
  def sqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
             lo: Array[Double], hi: Array[Double], rerank: Int = 64,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val approx = allPairs(vectors, queries, idCol, vecCol,
        sqCodes(_, lo, hi), sqCodes(_, lo, hi))
      .withColumn("s", sqDot(col("v"), col("q")))
    rerankExact(approx, vectors, queries, idCol, vecCol, k, rerank)
  }

  /** The centered integer SQ8 dot Σ (code_d−128)(qcode_d−128). */
  private def sqDot(codes: Column, qcodes: Column): Column =
    aggregate(zip_with(codes, qcodes,
      (a, b) => ((a - lit(128)) * (b - lit(128))).cast("long")),
      lit(0L), (acc, x) => acc + x).cast("double")

  /** IVF-SQ8: coarse cell equi-join + centered integer SQ dot + exact
    * re-rank — [[ivfPqTopK]]'s layout with the SQ8 code side instead of
    * PQ: the pair space is pruned by the cell join AND the scan side
    * carries byte codes, while (unlike PQ-ADC) the candidate arithmetic
    * stays integer — so the composed oracle needs no explicit-order sum.
    * The practical middle ground when PQ's accuracy loss is too much but
    * full vectors don't fit: faiss's `IVF…,SQ8` index family.
    */
  def ivfSqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                centroids: Array[Array[Double]], lo: Array[Double],
                hi: Array[Double], nProbe: Int = 4, rerank: Int = 64,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val approx = cellPairs(vectors, queries, literalCellScores(centroids),
        nProbe, idCol, vecCol, sqCodes(_, lo, hi), sqCodes(_, lo, hi))
      .withColumn("s", sqDot(col("v"), col("q")))
    rerankExact(approx, vectors, queries, idCol, vecCol, k, rerank)
  }

  // ---- BQ: 1-bit binary quantization ----

  /** Per-dimension mean thresholds — binary quantization's "training"
    * (one aggregate; like the SQ bounds these land as plan literals and
    * as the oracle's captured literals).
    */
  def fitBqThresholds(vectors: DataFrame,
                      vecCol: String = "embedding"): Array[Double] = {
    val rows = vectors
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(avg(col("x").cast("double")).as("mu"))
      .orderBy(col("pos")).collect()
    require(rows.nonEmpty, "fitBqThresholds: empty corpus")
    rows.map(_.getDouble(1))
  }

  /** Sign bits against the per-dimension thresholds as a BOOLEAN array —
    * the column-function REFERENCE implementation (the [[dot]] /
    * [[lshBucket]] convention): semantically the unpacked form of
    * [[bqPackedBits]], kept for tests to assert the packed layout
    * changes nothing.
    */
  private[graft] def bqBits(vec: Column, mu: Array[Double]): Column = {
    require(mu.nonEmpty, "bqBits: empty thresholds")
    val muL = array(mu.map(lit).toIndexedSeq: _*)
    guardDims(vec, mu.length,
      zip_with(vec, muL, (x, m) => x.cast("double") > m))
  }

  /** Production sign-bit layout: 64 bits per long via the codegen
    * [[graft.functions.expressions.VectorExpressions.bq_pack_bits]]
    * expression (8 bytes per 512 dims; thresholds enter codegen as ONE
    * reference object). Dimension mismatches raise inside the kernel
    * (the [[guardDims]] stance).
    */
  private[graft] def bqPackedBits(vec: Column, mu: Array[Double]): Column =
    graft.functions.expressions.VectorExpressions.bq_pack_bits(vec, mu)

  /** Binary-quantization top-k with exact re-rank — the 1-bit end of the
    * quantization spectrum (full → SQ8 → PQ → this): candidates rank by
    * NEGATIVE hamming distance between sign-bit vectors (pure integer
    * arithmetic — the s08 oracle stance), exact cosine orders the final
    * top-k. One bit per dimension is the coarsest signal, so the default
    * re-rank pool is deeper than SQ8's. The scan carries PACKED words
    * and the hamming sum is one XOR+popcount per 64 dims
    * ([[bqPackedBits]] — r7 ran an interpreted per-dimension `zip_with`,
    * ~64× the ALU work for the same integer distances; the oracle's
    * per-dimension SUM re-derives the identical numbers either way).
    */
  def bqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
             mu: Array[Double], rerank: Int = 128,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val approx = allPairs(vectors, queries, idCol, vecCol,
        bqPackedBits(_, mu), bqPackedBits(_, mu))
      .withColumn("s",
        -graft.functions.expressions.VectorExpressions
          .hamming_packed(col("v"), col("q")).cast("double"))
    rerankExact(approx, vectors, queries, idCol, vecCol, k, rerank)
  }

  /** IVF-BQ: coarse cell equi-join + packed-bit hamming + deep exact
    * re-rank — the composition a billion-vector 1-bit deployment ships
    * ([[ivfSqTopK]]'s layout with sign bits on the scan side): trained
    * cells prune the PAIR space, the 1-bit codes prune the
    * bytes-per-pair to 8 per 512 dims, and the candidate arithmetic
    * stays pure integer so the composed oracle re-derives cell
    * assignment + per-dimension bit disagreement + exact re-rank with
    * plain SQL (no explicit-order sums). r7 shipped the flat scan
    * ([[bqTopK]]) only — linear per query by design; this prunes the
    * corpus side too.
    */
  def ivfBqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                centroids: Array[Array[Double]], mu: Array[Double],
                nProbe: Int = 4, rerank: Int = 128,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val approx = cellPairs(vectors, queries, literalCellScores(centroids),
        nProbe, idCol, vecCol, bqPackedBits(_, mu), bqPackedBits(_, mu))
      .withColumn("s",
        -graft.functions.expressions.VectorExpressions
          .hamming_packed(col("v"), col("q")).cast("double"))
    rerankExact(approx, vectors, queries, idCol, vecCol, k, rerank)
  }

  // ---- MaxSim: multi-vector late interaction ----

  /** ColBERT-style late-interaction scoring: documents and queries are
    * BAGS of vectors (one per token/chunk), and
    * score(q, d) = Σ_{i∈q} max_{j∈d} cos(q_i, d_j) — every query vector
    * finds its best match in the document independently. This is the
    * multi-vector retrieval shape single-vector ANN (s01–s08) cannot
    * express: a document matching all of a query's distinct aspects
    * beats one matching a single aspect strongly.
    *
    * Determinism across engines: the per-(query-vector, doc) MAX of
    * cosines is order-independent; the per-pair maxes are then
    * round-half-up quantized to integer MICRO-units before the sum, so
    * the final Σ is integer arithmetic — an unordered SQL SUM reproduces
    * the engine bit-for-bit (the s08 integer-dot trick applied to
    * doubles).
    *
    * Spark shape for 100 TB: queries broadcast (a query workload is
    * small by contract — the s01 stance); the corpus vector table
    * streams through ONE join and two map-side-combining aggregates
    * whose keys are (query, token, doc) then (query, doc) — token-width
    * rows, never document-width. For a billion-doc corpus compose with
    * an ANN candidate stage first (any of s02–s08) and MaxSim-score
    * only the candidates.
    */
  def maxSimTopK(docVecs: DataFrame, queryVecs: DataFrame, k: Int,
                 docCol: String = "doc", idxCol: String = "token_idx",
                 vecCol: String = "embedding"): DataFrame = {
    val d = docVecs.select(col(docCol).as("ddoc"), col(vecCol).as("dv"))
    val q = queryVecs.select(col(docCol).as("qdoc"), col(idxCol).as("qi"),
      col(vecCol).as("qv"))
    maxSimRank(
      d.join(broadcast(q), col("ddoc") =!= col("qdoc"))
        .withColumn("c", cosine(col("dv"), col("qv"))), k)
  }

  /** The shared MaxSim scoring tail — one copy so [[maxSimTopK]] and
    * [[maxSimRescoreTopK]] cannot drift: per-(query-token, doc) MAX,
    * micro-unit quantization, integer SUM, tie-broken rank.
    */
  private def maxSimRank(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qdoc")).orderBy(col("smicro").desc, col("ddoc"))
    scored
      .groupBy(col("qdoc"), col("qi"), col("ddoc"))
      .agg(max(col("c")).as("m"))
      .withColumn("mq",
        floor(col("m") * lit(1000000.0d) + lit(0.5d)).cast("long"))
      .groupBy(col("qdoc"), col("ddoc"))
      .agg(sum(col("mq")).as("smicro"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qdoc").as("query_doc"), col("rank"),
        col("ddoc").as("doc"),
        (col("smicro").cast("double") / lit(1000000.0d)).as("maxsim"))
  }

  /** TWO-STAGE retrieval: [[maxSimTopK]]'s late-interaction scoring
    * restricted to an ANN-pruned candidate set — the composition the
    * s09 scale note recommends and a billion-doc ColBERT-style
    * deployment ships: a cheap single-vector ANN stage (any of s02–s11
    * over pooled/CLS document vectors) nominates `candidates`
    * (qdoc, ddoc) pairs, and the token-level MaxSim kernel — the
    * expensive |q|·|d| part — runs ONLY over those pairs.
    *
    * Plan shape: `candidates` is k·|Q| rows by construction, so it
    * broadcasts; the corpus token table is pruned by one broadcast
    * equi-join on ddoc BEFORE any token×token work, then query tokens
    * join in (broadcast — query workloads are small by the s01
    * contract). The scoring tail is literally [[maxSimTopK]]'s
    * ([[maxSimRank]]), so the two stages compose without changing
    * MaxSim semantics on the surviving pairs.
    */
  def maxSimRescoreTopK(docVecs: DataFrame, queryVecs: DataFrame,
      candidates: DataFrame, k: Int, docCol: String = "doc",
      idxCol: String = "token_idx", vecCol: String = "embedding",
      candQueryCol: String = "qdoc",
      candDocCol: String = "ddoc"): DataFrame = {
    val d = docVecs.select(col(docCol).as("ddoc"), col(vecCol).as("dv"))
    val q = queryVecs.select(col(docCol).as("qdoc"), col(idxCol).as("qi"),
      col(vecCol).as("qv"))
    val cand = candidates.select(col(candQueryCol).as("qdoc"),
      col(candDocCol).as("ddoc"))
    maxSimRank(
      d.join(broadcast(cand), Seq("ddoc"))
        .join(broadcast(q), Seq("qdoc"))
        .filter(col("ddoc") =!= col("qdoc"))
        .withColumn("c", cosine(col("dv"), col("qv"))), k)
  }
}
