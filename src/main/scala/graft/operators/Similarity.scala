package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Similarity search over an embedding column (`array<float>`).
  *
  * Determinism: float embeddings are quantized per-element to
  * `floor(x * 1e6)` longs, so dot products are exact integer sums —
  * order-independent, hence reproducible across engines and partitionings.
  * Cosine is then derived with single correctly-rounded IEEE ops (sqrt,
  * multiply, divide) on exact inputs, which is bit-identical everywhere.
  *
  * Scale: the brute-force path broadcasts the (small) query set and scans
  * the corpus once — linear, no shuffle of the corpus itself; the window
  * ranks only `|queries| × k`-bounded groups after a partial top-k. The LSH
  * path ([[signBuckets]], [[annLsh]]) buckets by random-hyperplane sign
  * bits so candidate generation is an equi-join on the bucket key.
  */
object Similarity {

  /** Default sign-LSH plane count: 2^6 = 64 buckets — sized so the provided
    * embeddings corpora keep several vectors per bucket (12+ planes make
    * nearly every bucket a singleton and starve the candidate set).
    */
  val DefaultNumPlanes = 6

  /** Per-element quantization to exact longs (floor(x * 1e6)). */
  def quantize(c: Column): Column =
    transform(c, x => floor(x.cast("double") * 1000000).cast("long"))

  /** Exact integer dot product of two quantized vectors — a codegen'd
    * custom Catalyst expression ([[graft.expressions.DotProductLong]]);
    * ~20× the interpreted `aggregate(zip_with(...))` formulation on
    * all-pairs scans.
    */
  def dot(a: Column, b: Column): Column = {
    val bridge = org.apache.spark.sql.graft.bridge
    bridge.column(graft.expressions.DotProductLong(bridge.expression(a), bridge.expression(b)))
  }

  private def withQuantized(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("qe"))
      .withColumn("n2", dot(col("qe"), col("qe")))

  /** Brute-force exact top-k cosine neighbors for the query set
    * `vec_id < numQueries`. Output: (query_id, neighbor_id, rnk, dp, cosine).
    */
  def knnBruteForce(embeddings: DataFrame, numQueries: Int = 10, k: Int = 10): DataFrame = {
    val e = withQuantized(embeddings)
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"), col("n2").as("q_n2"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("dp", dot(col("qe"), col("q_qe")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dp").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        col("rnk"),
        col("dp"),
        (col("dp").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("q_n2").cast("double")))).as("cosine"))
  }

  /** All-pairs cosine near-duplicate detection above `minCosine` — the
    * exact quadratic baseline ([[annLsh]] is the scale path).
    */
  def cosinePairs(embeddings: DataFrame, minCosine: Double): DataFrame = {
    val e = withQuantized(embeddings)
    val b = e.select(col("vec_id").as("vec_b"), col("qe").as("qe_b"), col("n2").as("n2_b"))
    e.join(b, col("vec_id") < col("vec_b"))
      .withColumn("dp", dot(col("qe"), col("qe_b")))
      .withColumn(
        "cosine",
        col("dp").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("n2_b").cast("double"))))
      .filter(col("cosine") >= minCosine)
      .select(col("vec_id").as("vec_a"), col("vec_b"), col("dp"), col("cosine"))
  }

  /** SemDeDup-style semantic deduplication over the embedding column:
    * vectors land in sign-LSH buckets (cheap semantic partitions standing
    * in for the k-means clusters of the paper — same mechanics, no
    * training pass), and within each bucket a vector is DROPPED when a
    * lower-`vec_id` bucket-mate sits at exact cosine ≥ `minCosine`; the
    * lowest such mate is reported as the canonical `dup_of`. The rule is
    * a pure per-vector predicate ("exists a lower-id near-twin in my
    * bucket"), not the paper's sequential greedy sweep — deterministic,
    * order-free, and one shuffle cheaper, at the cost of occasionally
    * dropping both ends of a borderline chain a greedy sweep would split.
    *
    * Output: one row per vector — `(vec_id, kept, dup_of, dp, cosine)`,
    * `dup_of`/`dp`/`cosine` null for keepers.
    *
    * Scale design: quadratic work is confined WITHIN buckets (the whole
    * point of the cluster step in SemDeDup); the bucket equi-join
    * shuffles quantized vectors once, scoring is the codegen'd integer
    * dot product, and the final per-vector verdict is a window over the
    * candidate pairs (bounded by bucket occupancy), then a doc-keyed
    * left join back to the id universe.
    */
  def semanticDedup(
      embeddings: DataFrame,
      minCosine: Double = 0.2,
      numPlanes: Int = DefaultNumPlanes,
      dim: Int = 64): DataFrame =
    semanticDedupPlan(embeddings, minCosine, numPlanes, dim)._1

  /** [[semanticDedup]] as a caller-owned-lifecycle bracket: runs the
    * action `f` over the verdict frame, then unpersists the bucketed
    * quantized table this call persisted — the
    * [[graft.operators.Dedup.withNearDupAgainst]] convention for
    * one-shot callers (a bench sweep, a one-off audit), so long-lived
    * sessions never accumulate session-lifetime caches.
    */
  def withSemanticDedup[T](
      embeddings: DataFrame,
      minCosine: Double = 0.2,
      numPlanes: Int = DefaultNumPlanes,
      dim: Int = 64)(f: DataFrame => T): T = {
    val (result, cached) = semanticDedupPlan(embeddings, minCosine, numPlanes, dim)
    try f(result) finally cached.unpersist()
  }

  private def semanticDedupPlan(
      embeddings: DataFrame,
      minCosine: Double,
      numPlanes: Int,
      dim: Int): (DataFrame, DataFrame) = {
    // Both self-join sides consume the quantize+bucket pass — persist so
    // the corpus is scanned once, not once per side.
    val b = signBucketsQuantized(embeddings, numPlanes, dim)
      .select(col("vec_id"), col("_qe").as("qe"), col("bucket"))
      .withColumn("n2", dot(col("qe"), col("qe")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lower = b.select(
      col("vec_id").as("dup_id"), col("qe").as("d_qe"),
      col("n2").as("d_n2"), col("bucket"))
    val best = b.join(lower, Seq("bucket"))
      .filter(col("dup_id") < col("vec_id"))
      .withColumn("dp", dot(col("qe"), col("d_qe")))
      .withColumn(
        "cosine",
        col("dp").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("d_n2").cast("double"))))
      .filter(col("cosine") >= minCosine)
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("vec_id")).orderBy(col("dup_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("dup_id").as("dup_of"), col("dp"), col("cosine"))
    val verdicts = embeddings
      .select(col("vec_id"))
      .join(best, Seq("vec_id"), "left_outer")
      .select(
        col("vec_id"), col("dup_of").isNull.as("kept"),
        col("dup_of"), col("dp"), col("cosine"))
    (verdicts, b)
  }

  /** Deterministic random hyperplanes: component (p, d) is derived from
    * md5(p ":" d), mapped to [-1, 1). Fixed given (numPlanes, dim) — no RNG
    * state, so plans are reproducible and resumable.
    */
  def hyperplanes(numPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (0 until numPlanes).map { p =>
      (0 until dim).map { d =>
        val h = digest.digest(s"$p:$d".getBytes("UTF-8"))
        ((h(0) & 0xff) - 127.5) / 128.0
      }
    }
  }

  /** Sign-LSH bucket key: one bit per hyperplane (sign of the projection),
    * assembled into a long. Narrow computation — no shuffle.
    */
  def signBuckets(embeddings: DataFrame, numPlanes: Int = DefaultNumPlanes, dim: Int = 64): DataFrame =
    signBucketsQuantized(embeddings, numPlanes, dim).drop("_qe")

  /** As [[signBuckets]] but keeps the quantized vector as `_qe` so callers
    * (annLsh) don't re-quantize the corpus a second time.
    */
  private[operators] def signBucketsQuantized(
      embeddings: DataFrame, numPlanes: Int, dim: Int): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    // Quantize the plane components too, so the projection sign comes from
    // the codegen'd integer dot product (sign-preserving up to quantization
    // granularity — immaterial for an approximate bucketing).
    val withQ = embeddings.withColumn("_qe", quantize(col("embedding")))
    val bucketBits = planes.zipWithIndex.map { case (plane, p) =>
      val planeCol = array(plane.map(c => lit(math.floor(c * 1000000).toLong)): _*)
      when(dot(col("_qe"), planeCol) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    withQ.withColumn("bucket", bucketBits.reduce((a, b) => a + b))
  }

  /** Margin-based parallel-pair mining (Artetxe & Schwenk 2019's
    * margin-scoring over ANN candidates, absolute-margin variant) — the
    * standard bitext/paraphrase miner: a cross-side pair scores not by
    * raw similarity but by how much it stands out above each endpoint's
    * OTHER nearest neighbors, which kills the hub vectors that plain
    * cosine thresholds mis-pair. Sides come from `sideA` (language,
    * source, split — any boolean partition of the corpus); emitted
    * pairs are MUTUAL margin-argmaxes with positive margin.
    *
    * Exact-integer scoring: dots are the codegen'd quantized
    * [[dot]]; each endpoint's neighborhood average is
    * `lo + ⌊(Σtopk − k'·lo)/k'⌋` with the `lo`-shift keeping the
    * floor-division operand NONNEGATIVE even for negative dot sums
    * (Spark `div` truncates, DuckDB `//` floors — they only agree
    * above zero; q149's convention), and the pair score is
    * `margin2 = 2·dp − avg_a − avg_b` — pure BIGINT, no ratio, no
    * sign traps. Ties break on the partner id everywhere.
    *
    * Approximation contract (the PUBLISHED practice — the paper mines
    * over FAISS): candidates and neighborhoods are the sign-LSH
    * co-bucket pairs, so both the kNN averages and the argmaxes see
    * bucket-local candidates, never all-pairs. Endpoints with fewer
    * than `k` candidates average over what they have; endpoints with
    * none are absent.
    *
    * Scale: the only expansion is the co-bucket join (bucket-bounded);
    * the top-k windows, the side-sized average tables, and the mutual
    * argmax windows are all keyed — nothing quadratic in the corpus.
    * Eager like [[graft.operators.Graphs.pageRank]]: candidates persist
    * for their three consumers and are released once the (pair-sized)
    * result materializes; the result owns the one remaining cache.
    */
  def marginBitextPairs(
      embeddings: DataFrame,
      sideA: Column,
      k: Int = 4,
      numPlanes: Int = DefaultNumPlanes,
      dim: Int = 64): DataFrame = {
    require(k >= 1 && k <= 1000, s"k=$k out of range [1, 1000]")
    val P = 1000000000000000L // lo-shift bound: |64-dim quantized dot| < 8e13
    val b = signBucketsQuantized(embeddings, numPlanes, dim)
      .select(col("vec_id"), col("bucket"), col("_qe"), sideA.as("is_a"))
    val cand = b.filter(col("is_a"))
      .select(col("vec_id").as("a_id"), col("bucket"), col("_qe").as("qa"))
      .join(
        b.filter(!col("is_a"))
          .select(col("vec_id").as("b_id"), col("bucket"), col("_qe").as("qb")),
        Seq("bucket"))
      .select(col("a_id"), col("b_id"), dot(col("qa"), col("qb")).as("dp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wa = Window.partitionBy(col("a_id")).orderBy(col("dp").desc, col("b_id"))
    val wb = Window.partitionBy(col("b_id")).orderBy(col("dp").desc, col("a_id"))
    def sideAvg(rn: Column, key: String, alias: String) = cand
      .withColumn("rn", rn)
      .filter(col("rn") <= k)
      .groupBy(col(key))
      .agg(sum(col("dp")).as("s"), count(lit(1)).as("c"))
      .select(col(key), expr(s"-${P}L + (s + c * ${P}L) div c").as(alias))
    val avgA = sideAvg(row_number().over(wa), "a_id", "avg_a")
    val avgB = sideAvg(row_number().over(wb), "b_id", "avg_b")
    val margins = cand
      .join(avgA, Seq("a_id"))
      .join(avgB, Seq("b_id"))
      .withColumn("margin2", lit(2L) * col("dp") - col("avg_a") - col("avg_b"))
    val wma = Window.partitionBy(col("a_id")).orderBy(col("margin2").desc, col("b_id"))
    val wmb = Window.partitionBy(col("b_id")).orderBy(col("margin2").desc, col("a_id"))
    val out = margins
      .withColumn("ma", row_number().over(wma))
      .withColumn("mb", row_number().over(wmb))
      .filter(col("ma") === 1 && col("mb") === 1 && col("margin2") > 0)
      .select(col("a_id"), col("b_id"), col("dp"), col("margin2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    cand.unpersist()
    out
  }

  /** One-row frame holding every centroid as a struct — the deterministic
    * "sample" `vec_id < numCentroids` (at real scale they'd come from
    * k-means, but assignment/search mechanics are identical). Broadcast as
    * a single row so cell assignment is a per-row argmax EXPRESSION, not a
    * join + window: the corpus is never replicated or shuffled.
    */
  private def centroidArray(e: DataFrame, numCentroids: Int): DataFrame =
    e.filter(col("vec_id") < numCentroids)
      .agg(collect_list(struct(
        col("vec_id").as("cent_id"),
        col("qe").as("c_qe"),
        col("n2").as("c_n2"))).as("cents"))

  /** Nearest-centroid cell as a narrow expression over the broadcast
    * centroid array: `array_max` over struct(cosine, -cent_id) picks the
    * highest cosine with the LOWEST centroid id on ties — the same total
    * order the DuckDB oracle's `ROW_NUMBER` uses.
    */
  private def withCell(vectors: DataFrame, centsArr: DataFrame, qeCol: String): DataFrame =
    vectors.crossJoin(broadcast(centsArr))
      // `n2` (the row's own norm from withQuantized) is loop-invariant —
      // recomputing dot(qe, qe) inside the lambda would redo a 64-element
      // dot per centroid.
      .withColumn("_best", array_max(transform(col("cents"), c =>
        struct(
          (dot(col(qeCol), c.getField("c_qe")).cast("double") /
            (sqrt(col("n2").cast("double")) *
              sqrt(c.getField("c_n2").cast("double")))).as("cos_c"),
          (-c.getField("cent_id")).as("neg_cent")))))
      .withColumn("cell", -col("_best.neg_cent"))
      .drop("_best", "cents")

  /** IVF-style cell assignment: each vector gets the cell of its nearest
    * (by cosine, centroid id on ties) coarse centroid. Fully narrow — the
    * centroid set broadcasts as one row and the argmax is a per-row
    * expression, so a billion-vector corpus is scanned once with zero
    * shuffle.
    */
  def ivfAssign(embeddings: DataFrame, numCentroids: Int = 16): DataFrame = {
    val e = withQuantized(embeddings)
    withCell(e, centroidArray(e, numCentroids), "qe")
      .select(col("vec_id"), col("qe"), col("n2"), col("cell"))
  }

  /** Deterministic Lloyd (k-means) fit of the IVF coarse quantizer over a
    * bounded sample of the corpus — the real trainer behind
    * [[ivfSearchLearned]] (the `vec_id < k` placeholder of [[ivfSearch]]
    * gives cells only as good as the first k vectors).
    *
    * Determinism, no RNG state: the sample is the `sampleSize` vectors
    * with the smallest `md5(vec_id)` (hash order is uncorrelated with any
    * data ordering), the seeds are the first `numCentroids` of them in the
    * same order, and every update is exact integer arithmetic (per-cell
    * per-dimension long sums, integral division) — identical centroids on
    * every run and every partitioning.
    *
    * Scale: each iteration is one narrow scan of the cached sample
    * (broadcast-argmax assignment, same expression the full-corpus path
    * uses) plus a (numCentroids × dim)-row aggregate; only
    * metadata-sized centroid rows ever reach the driver. The full corpus
    * is NEVER scanned during training — standard coarse-quantizer
    * practice (train on a sample, assign everything with the result).
    */
  def trainIvfCentroids(
      embeddings: DataFrame,
      numCentroids: Int = 16,
      iters: Int = 8,
      sampleSize: Int = 4096): Seq[(Long, Seq[Long])] =
    trainIvfCentroidsQuantized(withQuantized(embeddings), numCentroids, iters, sampleSize)

  /** [[trainIvfCentroids]] over ALREADY-QUANTIZED vectors
    * `(vec_id, qe, n2)` — the rebuild path's trainer
    * ([[graft.streaming.StreamingOps.rebuildIvfState]]): a streamed IVF
    * state carries its postings' `qe` vectors, so re-training the
    * quantizer never re-reads raw embeddings. Identical arithmetic to
    * the raw-embedding path (ONE body — the raw entry quantizes then
    * delegates here), so training on `withQuantized(corpus)` and on the
    * state's own postings of the same corpus yields the same centroids.
    */
  def trainIvfCentroidsQuantized(
      e: DataFrame,
      numCentroids: Int = 16,
      iters: Int = 8,
      sampleSize: Int = 4096): Seq[(Long, Seq[Long])] = {
    val sampled = e
      .withColumn("_r", md5(col("vec_id").cast("string")))
      .orderBy(col("_r"), col("vec_id"))
      .limit(sampleSize)
      .select(col("qe"), col("n2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var cents: Seq[(Long, Seq[Long])] = sampled.limit(numCentroids).collect()
      .map(_.getAs[scala.collection.Seq[Long]]("qe").toSeq)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
    // Scoped round width (r21): each Lloyd iteration shuffles at most
    // sampleSize × dim exploded cells — sample-bounded by construction,
    // so cluster-width exchanges are pure scheduling overhead.
    Graphs.withRoundWidth(sampled, sampleSize.toLong * 64L) {
    for (_ <- 1 to iters) {
      val perCell = withCell(sampled, centroidFrame(e.sparkSession, cents), "qe")
        .select(col("cell"), posexplode(col("qe")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .select(col("cell"), col("pos"), expr("s DIV n").as("m"))
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("dims"))
        .collect()
        .map { r =>
          r.getAs[Long]("cell") ->
            r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("dims")
              .map(_.getAs[Long]("m")).toSeq
        }.toMap
      // An emptied cell keeps its previous centroid (deterministic, and
      // leaves it eligible to re-acquire vectors next iteration).
      cents = cents.map { case (id, v) => (id, perCell.getOrElse(id, v)) }
    }
    }
    sampled.unpersist()
    cents
  }

  /** One-row broadcastable centroid frame (the [[centroidArray]] shape)
    * from driver-side centroid vectors — k × dim longs, metadata-sized.
    */
  private def centroidFrame(spark: SparkSession, cents: Seq[(Long, Seq[Long])]): DataFrame = {
    val structs = cents.sortBy(_._1).map { case (id, v) =>
      struct(
        lit(id).as("cent_id"),
        array(v.map(lit): _*).as("c_qe"),
        lit(v.map(x => x * x).sum).as("c_n2"))
    }
    spark.range(1).select(array(structs: _*).as("cents"))
  }

  // --- Product quantization (the IVF companion: compressed-domain ANN) --

  /** Placeholder PQ codebooks as a one-row broadcastable frame, the PQ
    * analog of [[centroidArray]]'s `vec_id < k` convention: codeword `c`
    * of subspace `s` is dims `[s·subDim, (s+1)·subDim)` of vector
    * `vec_id = c` (quantized longs). `cbs` is ordered (sub, code) so ADC
    * can flat-index it; [[pqCodebookFrame]] builds the same shape from
    * [[trainPqCodebooks]]' learned codewords.
    */
  private def pqCodebookOf(e: DataFrame, m: Int, codes: Int): DataFrame =
    e.filter(col("vec_id") < codes)
      .select(col("vec_id").cast("int").as("code"), col("qe"))
      .agg(sort_array(collect_list(struct(col("code"), col("qe")))).as("vecs"))
      .select(flatten(transform(sequence(lit(0), lit(m - 1)), s =>
        transform(col("vecs"), v =>
          struct(
            s.cast("int").as("sub"),
            v.getField("code").as("code"),
            slice(v.getField("qe"),
              s * (size(v.getField("qe")) / m) + 1,
              size(v.getField("qe")) / m).as("cq"))))).as("cbs"))

  /** One-row codebook frame from driver-side trained codewords
    * (`(sub, code) -> quantized sub-vector`), the PQ analog of
    * [[centroidFrame]].
    */
  def pqCodebookFrame(
      spark: SparkSession, books: Seq[((Int, Int), Seq[Long])]): DataFrame = {
    val structs = books.sortBy(_._1).map { case ((s, c), v) =>
      struct(lit(s).as("sub"), lit(c).as("code"), array(v.map(lit): _*).as("cq"))
    }
    spark.range(1).select(array(structs: _*).as("cbs"))
  }

  private def l2Sub(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)

  /** The flat-index convention everything PQ shares: `cbs` is DENSE —
    * exactly `codes` entries per subspace, ordered (sub, code) — so
    * subspace `s` is `cbs[s·codes+1 .. (s+1)·codes]` and ADC can index
    * `tabs[s·codes + code + 1]`. A corpus with fewer than `codes`
    * vectors under the placeholder convention (or a sparse trained
    * codebook) would silently read the WRONG subspace's entries, so the
    * search entry points verify density loudly first (one metadata-sized
    * driver action).
    */
  private def requireDense(cb: DataFrame, m: Int, codes: Int): Unit = {
    val n = cb.selectExpr("size(cbs)").head().getInt(0)
    require(n == m * codes,
      s"PQ codebook has $n entries, expected m*codes = ${m * codes} — " +
        "fewer than `codes` source vectors (or a sparse trained book) breaks flat indexing")
  }

  /** Per-row PQ code assignment as a narrow expression over the
    * broadcast codebooks: for each subspace, the codeword minimizing
    * exact integer L2² (lowest code on ties). `pq` is
    * `array<struct<d2, code>>` indexed by subspace. Subspace blocks are
    * `slice`d out of the (sub, code)-ordered dense `cbs` — O(codes) per
    * subspace, no per-entry predicate over the whole codebook.
    */
  private def withPqCodes(e: DataFrame, cb: DataFrame, m: Int, codes: Int): DataFrame =
    e.crossJoin(broadcast(cb))
      .withColumn("pq", transform(sequence(lit(0), lit(m - 1)), s =>
        array_min(transform(
          slice(col("cbs"), s * codes + 1, lit(codes)),
          b => struct(
            l2Sub(
              slice(col("qe"), s * (size(col("qe")) / m) + 1, size(col("qe")) / m),
              b.getField("cq")).as("d2"),
            b.getField("code").as("code"))))))
      .drop("cbs")

  /** Per-query flat ADC distance table, ordered (sub, code) like `cbs`:
    * exact integer L2² from the query's sub-vector to every codeword.
    * `keyCols` are passed through alongside the table (the residual
    * variant keys tables by (query, probed cell), not query alone).
    */
  private def adcTables(
      queries: DataFrame, cb: DataFrame, m: Int,
      keyCols: Seq[String] = Seq("query_id")): DataFrame =
    queries
      .crossJoin(broadcast(cb))
      .select(
        keyCols.map(col) :+
          transform(col("cbs"), b =>
            l2Sub(
              slice(col("q_qe"),
                b.getField("sub") * (size(col("q_qe")) / m) + 1,
                size(col("q_qe")) / m),
              b.getField("cq"))).as("tabs"): _*)

  /** The ADC sum: `m` flat-table lookups on the row's codes. */
  private def adcDistance(m: Int, codes: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0L), (acc, s) =>
      acc + element_at(col("tabs"), s * codes + element_at(col("pcodes"), s + 1) + 1))

  /** Product-quantization encoding: each vector compressed to `m`
    * sub-codes (`m` bytes at 256 codes — a 32×+ compression of a
    * 64-float embedding), one row per (vector, subspace) with the chosen
    * code and its exact L2² residual distance. Fully narrow: codebooks
    * broadcast as one row, the argmin is a per-row expression — a
    * billion-vector corpus is scanned once with zero shuffle, which is
    * the whole point of PQ at 100 TB (the compressed codes, not the
    * vectors, are what ANN search scans).
    */
  def pqEncode(embeddings: DataFrame, m: Int = 8, codes: Int = 16): DataFrame = {
    val e = withQuantized(embeddings)
    val cb = pqCodebookOf(e, m, codes)
    requireDense(cb, m, codes)
    withPqCodes(e, cb, m, codes)
      .select(col("vec_id"), posexplode(col("pq")).as(Seq("sub", "sc")))
      .select(
        col("vec_id"), col("sub").cast("int").as("sub"),
        col("sc.code").as("code"), col("sc.d2").as("d2"))
  }

  /** PQ asymmetric-distance (ADC) search: queries stay exact, the corpus
    * is scanned in the COMPRESSED domain. Each query precomputes its
    * `m × codes` distance table (exact integer L2² to every codeword);
    * a corpus vector's approximate distance is the sum of `m` table
    * lookups on its codes — `m` adds per vector instead of `dim`
    * multiplies, over `m`-byte codes instead of `dim`-float vectors.
    * Top-k per query by (adc_d2 asc, vec_id), self excluded.
    *
    * Scale: codebooks and the query tables broadcast (numQueries ×
    * m × codes longs); the corpus is scanned once, narrowly; only the
    * per-query candidate ranking shuffles. Compose with [[ivfAssign]]
    * (probe cells first, ADC within cells) for the full IVF-PQ stack.
    */
  def pqSearch(
      embeddings: DataFrame,
      numQueries: Int = 10,
      k: Int = 10,
      m: Int = 8,
      codes: Int = 16): DataFrame = {
    val e = withQuantized(embeddings)
    val cb = pqCodebookOf(e, m, codes)
    requireDense(cb, m, codes)
    val encoded = withPqCodes(e, cb, m, codes)
      .select(col("vec_id"), transform(col("pq"), sc => sc.getField("code")).as("pcodes"))
    val tabs = adcTables(
      e.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("qe").as("q_qe")),
      cb, m)
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_d2"), col("vec_id"))
    encoded.crossJoin(broadcast(tabs))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc_d2", adcDistance(m, codes))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"), col("adc_d2"))
  }

  /** Int8 scalar quantization + asymmetric-distance search (the FAISS
    * `SQ8` semantics — the third compression point on the accuracy/size
    * curve next to [[pqSearch]]'s PQ and [[hammingSearch]]'s 1-bit
    * signs: 4× smaller than raw floats at near-exact recall, far
    * cheaper to train than PQ since the "codebook" is just per-dim
    * bounds). Training is one per-dimension min/max aggregate; encoding
    * is the affine code `⌊255·(x−lo)/(hi−lo)⌋` clamped to [0, 255];
    * search reconstructs `x̂ = lo + ⌊code·(hi−lo)/255⌋` and ranks by
    * exact integer `Σ(q−x̂)²` against the TRUE query vector
    * (asymmetric: only the corpus side is quantized). All arithmetic on
    * [[quantize]]'s exact longs with floor division on nonnegative
    * operands — engine-bit-identical; constant dims degenerate to
    * code 0 and reconstruct exactly `lo`.
    *
    * Scale: the trainer is ONE map-side-combined 64-group aggregate
    * folded to a one-row broadcast (per-dim bounds — bytes, not a
    * table); encode + reconstruct + distance are per-row expressions in
    * the one corpus scan (queries broadcast); only the per-query rank
    * window shuffles, and its input is corpus×queries rows of
    * (id, id, d2) — never vectors.
    */
  def sqSearch(
      embeddings: DataFrame,
      numQueries: Int = 10,
      k: Int = 10): DataFrame = {
    val e = withQuantized(embeddings)
    val statsRow = e
      .select(posexplode(col("qe")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .agg(
        expr("transform(array_sort(collect_list(struct(d, lo))), s -> s.lo)").as("lo_arr"),
        expr("transform(array_sort(collect_list(struct(d, hi))), s -> s.hi)").as("hi_arr"))
    val reconstructed = e.crossJoin(broadcast(statsRow))
      .select(
        col("vec_id"),
        expr(
          "transform(arrays_zip(qe, lo_arr, hi_arr), s -> CAST(CASE " +
            "WHEN s.hi_arr = s.lo_arr THEN 0 " +
            "ELSE least(255, ((s.qe - s.lo_arr) * 255) div (s.hi_arr - s.lo_arr)) " +
            "END AS INT))").as("codes"),
        col("lo_arr"), col("hi_arr"))
      .select(
        col("vec_id"),
        expr(
          "transform(arrays_zip(codes, lo_arr, hi_arr), s -> " +
            "s.lo_arr + ((CAST(s.codes AS BIGINT) * (s.hi_arr - s.lo_arr)) div 255))")
          .as("xhat"))
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_d2"), col("vec_id"))
    reconstructed.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn(
        "adc_d2",
        expr("aggregate(zip_with(q_qe, xhat, (a, b) -> (a - b) * (a - b)), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"), col("adc_d2"))
  }

  /** The full IVF-PQ stack — the canonical billion-vector ANN shape:
    * the coarse quantizer prunes the corpus to each query's `nProbe`
    * cells, and WITHIN the probed cells ranking runs in the compressed
    * code domain via ADC ([[pqSearch]]'s tables). The corpus pays one
    * narrow scan (cell argmax + PQ argmin are per-row expressions over
    * broadcast codebooks); candidates are an equi-join on the cell id;
    * only the bounded candidate set shuffles for the per-query rank.
    */
  def ivfPqSearch(
      embeddings: DataFrame,
      numQueries: Int = 10,
      k: Int = 10,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      m: Int = 8,
      codes: Int = 16): DataFrame = {
    val e = withQuantized(embeddings)
    val centsArr = centroidArray(e, numCentroids)
    val cb = pqCodebookOf(e, m, codes)
    requireDense(cb, m, codes)
    val encoded = withPqCodes(withCell(e, centsArr, "qe"), cb, m, codes)
      .select(
        col("vec_id"), col("cell"),
        transform(col("pq"), sc => sc.getField("code")).as("pcodes"))
    val queries = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"))
    val probes = probeCells(queries, centsArr, nProbe)
    val tabs = adcTables(queries, cb, m)
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_d2"), col("vec_id"))
    encoded.join(broadcast(probes.select("query_id", "cell")), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(tabs), Seq("query_id"))
      .withColumn("adc_d2", adcDistance(m, codes))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"), col("adc_d2"))
  }

  /** Exact residual vs the row's assigned/probed `cell`'s centroid:
    * `res = qe − c_qe(cell)`, looked up from the broadcast centroid
    * array (O(centroids) per row, no join). Input rows need `cell` and
    * the `qeCol` vector.
    */
  private def withResidual(vectors: DataFrame, centsArr: DataFrame, qeCol: String): DataFrame =
    vectors.crossJoin(broadcast(centsArr))
      .withColumn(
        "_c",
        element_at(filter(col("cents"), c => c.getField("cent_id") === col("cell")), 1))
      .withColumn("res", zip_with(col(qeCol), col("_c").getField("c_qe"), (a, b) => a - b))
      .drop("_c", "cents")

  /** IVF-PQ with RESIDUAL encoding — the canonical FAISS `IVFPQ`
    * semantics: each corpus vector is PQ-coded on its residual from the
    * assigned coarse centroid (residuals are smaller than raw vectors,
    * so the same code budget quantizes finer), and each query builds one
    * ADC table PER PROBED CELL from its own residual against that cell's
    * centroid. Distances approximate `‖(q − c) − (v − c)‖² = ‖q − v‖²`
    * within the probed cell — the coarse term cancels, which is why the
    * residual formulation ranks better than raw-vector PQ at equal bits.
    *
    * Scale: identical shape to [[ivfPqSearch]] — one narrow corpus scan
    * (cell argmax + residual + PQ argmin are per-row expressions over
    * broadcast arrays), candidates equi-join on the cell id, tables
    * broadcast at `numQueries × nProbe × m × codes` longs, and only the
    * bounded candidate set shuffles for the per-query rank.
    */
  def ivfPqResidualSearch(
      embeddings: DataFrame,
      numQueries: Int = 10,
      k: Int = 10,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      m: Int = 8,
      codes: Int = 16): DataFrame = {
    val e = withQuantized(embeddings)
    val centsArr = centroidArray(e, numCentroids)
    val corpusRes = withResidual(withCell(e, centsArr, "qe"), centsArr, "qe")
      .select(col("vec_id"), col("cell"), col("res"))
    val cb = pqCodebookOf(corpusRes.select(col("vec_id"), col("res").as("qe")), m, codes)
    requireDense(cb, m, codes)
    val encoded =
      withPqCodes(corpusRes.select(col("vec_id"), col("cell"), col("res").as("qe")), cb, m, codes)
        .select(
          col("vec_id"), col("cell"),
          transform(col("pq"), sc => sc.getField("code")).as("pcodes"))
    val queries = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"))
    val probes = probeCells(queries, centsArr, nProbe)
    val qres = withResidual(probes, centsArr, "q_qe")
      .select(col("query_id"), col("cell"), col("res").as("q_qe"))
    val tabs = adcTables(qres, cb, m, Seq("query_id", "cell"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_d2"), col("vec_id"))
    encoded.join(broadcast(probes.select("query_id", "cell")), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(tabs), Seq("query_id", "cell"))
      .withColumn("adc_d2", adcDistance(m, codes))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"), col("adc_d2"))
  }

  /** Binary-Hamming ANN with exact re-rank — the third compressed
    * search domain next to PQ/ADC ([[pqSearch]]) and residual IVF-PQ:
    * each vector binarizes to its 64 coordinate SIGNS packed as two
    * 32-bit words (axis-aligned sign quantization — 64 bits per vector,
    * a 32× compression of f32), candidates shortlist by popcount
    * Hamming distance (two `bit_count(xor)` ops per comparison — the
    * cheapest distance there is), and the shortlist re-ranks by the
    * EXACT integer dot product. Two words, not one, because a 64th sign
    * bit needs `1 << 63`, which overflows BIGINT loudly in DuckDB and
    * silently in Java — the split keeps the packing exact in both
    * engines.
    *
    * Scale: queries broadcast, one narrow corpus scan computes the
    * packing and the Hamming distance inline, the shortlist window is
    * WindowGroupLimit-bounded, and only `numQueries × shortlist` rows
    * reach the exact re-rank.
    */
  def hammingSearch(
      embeddings: DataFrame,
      numQueries: Int = 10,
      k: Int = 10,
      shortlist: Int = 50): DataFrame = {
    def packWord(lo: Int): String =
      s"aggregate(sequence($lo, ${lo + 31}), CAST(0 AS BIGINT), (acc, d) -> " +
        s"acc + IF(element_at(qe, d + 1) >= 0, shiftleft(CAST(1 AS BIGINT), d - $lo), CAST(0 AS BIGINT)))"
    val e = withQuantized(embeddings)
      .withColumn("w_lo", expr(packWord(0)))
      .withColumn("w_hi", expr(packWord(32)))
    val q = e.filter(col("vec_id") < numQueries)
      .select(
        col("vec_id").as("query_id"), col("qe").as("q_qe"), col("n2").as("q_n2"),
        col("w_lo").as("q_lo"), col("w_hi").as("q_hi"))
    val wH = Window.partitionBy(col("query_id")).orderBy(col("hamming"), col("vec_id"))
    val wD = Window.partitionBy(col("query_id")).orderBy(col("dp").desc, col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn(
        "hamming",
        expr("CAST(bit_count(w_lo ^ q_lo) + bit_count(w_hi ^ q_hi) AS INT)"))
      .withColumn("sr", row_number().over(wH))
      .filter(col("sr") <= shortlist)
      .withColumn("dp", dot(col("qe"), col("q_qe")))
      .withColumn("rnk", row_number().over(wD).cast("int"))
      .filter(col("rnk") <= k)
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
        col("hamming"), col("dp"),
        (col("dp").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("q_n2").cast("double")))).as("cosine"))
  }

  /** Maximal-Marginal-Relevance diversification (Carbonell & Goldstein)
    * of each query's top-`candidates` retrieval — the re-rank a
    * dedup-aware sampler or RAG retriever runs so the k results aren't
    * k near-copies: greedily pick
    * `argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`,
    * with relevance and similarity both EXACT integer dot products and
    * λ an integer percent — every score is a BIGINT, ties break on
    * vec_id, so the greedy trace is engine-bit-identical. Step 1 has no
    * selected set: `max_sel_dp`/`mmr_score` are NULL there and the pick
    * is pure argmax relevance.
    *
    * Scale: the expensive part (top-`candidates` retrieval) is the
    * standard broadcast-scan shape; the greedy loop then runs on
    * `numQueries × candidates` rows — dimension-sized — for `k − 1`
    * rounds of small joins, all queries advancing in parallel
    * (candidate and pair tables persist for the loop and are released
    * once the final selection materializes, [[graft.operators.Graphs]]'
    * pageRank convention).
    */
  def mmrDiversify(
      embeddings: DataFrame,
      numQueries: Int = 10,
      candidates: Int = 20,
      k: Int = 5,
      lambdaPct: Int = 50): DataFrame = {
    require(lambdaPct >= 0 && lambdaPct <= 100, s"lambdaPct=$lambdaPct outside [0, 100]")
    require(k >= 1 && k <= candidates, s"k=$k outside [1, candidates=$candidates]")
    val lam = lambdaPct.toLong
    val e = withQuantized(embeddings)
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"))
    val wC = Window.partitionBy(col("query_id")).orderBy(col("rel_dp").desc, col("vec_id"))
    val cand = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("rel_dp", dot(col("qe"), col("q_qe")))
      .withColumn("crnk", row_number().over(wC))
      .filter(col("crnk") <= candidates)
      .select(col("query_id"), col("vec_id"), col("qe"), col("rel_dp"), col("crnk"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = cand.select(col("query_id"), col("vec_id").as("va"), col("qe").as("qe_a"))
      .join(
        cand.select(col("query_id"), col("vec_id").as("vb"), col("qe").as("qe_b")),
        Seq("query_id"))
      .filter(col("va") =!= col("vb"))
      .select(col("query_id"), col("va"), col("vb"), dot(col("qe_a"), col("qe_b")).as("sim_dp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Scoped round width (r21, the Graphs-loop standard): every frame the
    // greedy loop touches is ≤ numQueries·candidates² rows — per-round
    // exchanges at cluster width are pure task-scheduling overhead.
    Graphs.withRoundWidth(e, numQueries.toLong * candidates * candidates) {
    var selected = cand.filter(col("crnk") === 1)
      .select(
        col("query_id"), lit(1).as("rnk"), col("vec_id").as("neighbor_id"),
        col("rel_dp"), lit(null).cast("long").as("max_sel_dp"),
        lit(null).cast("long").as("mmr_score"))
    var cache: Option[DataFrame] = None
    val wS = Window.partitionBy(col("query_id")).orderBy(col("mmr_score").desc, col("vec_id"))
    for (t <- 2 to k) {
      val selIds = selected.select(col("query_id"), col("neighbor_id").as("vec_id"))
      val remaining = cand.join(selIds, Seq("query_id", "vec_id"), "left_anti")
      val maxSim = pairs
        .join(
          selected.select(col("query_id"), col("neighbor_id").as("vb")),
          Seq("query_id", "vb"))
        .groupBy(col("query_id"), col("va").as("vec_id"))
        .agg(max(col("sim_dp")).as("max_sel_dp"))
      val pick = remaining
        .join(maxSim, Seq("query_id", "vec_id"))
        .withColumn(
          "mmr_score",
          lit(lam) * col("rel_dp") - lit(100L - lam) * col("max_sel_dp"))
        .withColumn("prn", row_number().over(wS))
        .filter(col("prn") === 1)
        .select(
          col("query_id"), lit(t).as("rnk"), col("vec_id").as("neighbor_id"),
          col("rel_dp"), col("max_sel_dp"), col("mmr_score"))
      // Materialize each round and rebuild the frame from the cached RDD:
      // `selected` is read twice per round, so an un-materialized loop
      // would TRIPLE the logical plan per iteration (O(3^k) nodes —
      // Catalyst analysis, not execution, becomes the bottleneck). The
      // rebuild keeps RDD lineage while giving every round a
      // constant-depth plan — dedupClusters' convention.
      val next = selected.unionByName(pick).persist(StorageLevel.MEMORY_AND_DISK)
      next.count()
      cache.foreach(_.unpersist())
      cache = Some(next)
      selected = next.sparkSession.createDataFrame(next.rdd, next.schema)
    }
    if (cache.isEmpty) { // k == 1: still materialize before releasing cand
      val only = selected.persist(StorageLevel.MEMORY_AND_DISK)
      only.count()
      cache = Some(only)
      selected = only
    }
    cand.unpersist()
    pairs.unpersist()
    selected
    }
  }

  /** Greedy k-center / farthest-point coreset selection (Gonzalez 1985;
    * the Sener & Savarese active-learning coreset) — pick `k` corpus
    * vectors that COVER embedding space: each round selects the point
    * farthest from every center chosen so far, the 2-approximation to
    * the optimal k-center cover. The curation use is
    * diversity-maximizing subset selection (seed sets, eval panels,
    * annotation batches) — where [[mmrDiversify]] diversifies each
    * query's RESULT list, this selects one global panel from the whole
    * corpus. Output: the centers in selection order with `radius_d2` —
    * the picked point's exact squared distance to the previous centers,
    * i.e. the coverage radius the selection just improved (a
    * monotonically non-increasing sequence; the seed, chosen as the
    * lowest id for determinism, has NULL).
    *
    * All distances are exact integer `Σ(a−b)²` over [[quantize]]'s
    * longs, ties break on id — the greedy trace is engine-bit-identical
    * and the oracle replays every round.
    *
    * Scale: the per-point state `(vec_id, qe, d2min)` updates against
    * ONLY the newest center (the standard incremental trick — never
    * re-scans the center set), compiled in as a LITERAL vector (one
    * bounded 1-row collect per round, the Lloyd-trainer convention —
    * no join at all); the argmax is a TakeOrdered(1). k narrow corpus
    * scans total — the inherent cost of the sequential greedy — with
    * each round's state persisted and the previous released
    * (constant-depth plans, the mmrDiversify convention).
    */
  def kCenterSelect(embeddings: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 1 && k <= 256, s"k=$k out of range [1, 256]")
    val spark = embeddings.sparkSession
    val e = withQuantized(embeddings).select(col("vec_id"), col("qe"))
    val seedRows = e.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("qe")).collect()
    require(seedRows.nonEmpty, "kCenterSelect: empty corpus")
    val seed = seedRows.head
    val centers = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Long])](
      (1, seed.getLong(0), None))
    def d2To(center: Seq[Long]): Column =
      expr(s"aggregate(zip_with(qe, array(${center.mkString(", ")}L), " +
        "(a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    var state = e
      .withColumn("d2min", d2To(seed.getSeq[Long](1)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    state.count()
    var prev = state
    for (t <- 2 to k) {
      val pick = state.orderBy(col("d2min").desc, col("vec_id")).limit(1).collect().head
      centers += ((t, pick.getLong(0), Some(pick.getLong(2))))
      state = prev
        .withColumn("d2min", least(col("d2min"), d2To(pick.getSeq[Long](1))))
        .persist(StorageLevel.MEMORY_AND_DISK)
      state.count()
      prev.unpersist()
      prev = state
    }
    state.unpersist()
    import spark.implicits._
    centers.toSeq
      .map { case (r, id, rad) => (r, id, rad) }
      .toDF("rnk", "vec_id", "radius_d2")
      .select(col("rnk").cast("int"), col("vec_id"), col("radius_d2").cast("long"))
  }

  /** Recall@k evaluator for the ANN stack — the acceptance gate every
    * approximate index must pass before it replaces brute force: joins
    * an approximate result against the exact ground truth (both in the
    * `(query_id, neighbor_id, rnk)` shape all the search operators
    * emit) and reports per-query hit counts and recall, plus the rank
    * positions the index missed.
    * `recall = |approx ∩ exact@k| / |exact@k|` — the denominator is the
    * ground truth actually present (equal to `k` whenever the corpus
    * has ≥ k true neighbors; a short ground-truth list is not charged
    * as misses). One IEEE division of exact integers.
    *
    * Scale: both inputs are `numQueries × k` — dimension-sized; the
    * join and aggregate are trivial next to the searches themselves.
    */
  def annRecall(approx: DataFrame, exact: DataFrame, k: Int = 10): DataFrame = {
    val a = approx.filter(col("rnk") <= k).select(col("query_id"), col("neighbor_id"))
    val e = exact.filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("exact_rnk"))
    e.join(a.withColumn("hit", lit(1L)), Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
        min(when(col("hit").isNull, col("exact_rnk"))).as("first_missed_rank"))
      .withColumn("recall", col("n_hit").cast("double") / col("n_exact").cast("double"))
  }

  /** Each query's `nProbe` nearest coarse cells (cosine, centroid id on
    * ties) — shared by [[ivfSearchFrom]] and [[ivfPqSearch]] so the
    * probing semantics cannot drift. Input: (query_id, q_qe) rows.
    */
  private def probeCells(queries: DataFrame, centsArr: DataFrame, nProbe: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id")).orderBy(col("cos_c").desc, col("cent_id"))
    queries
      .crossJoin(broadcast(centsArr))
      .select(col("query_id"), col("q_qe"), explode(col("cents")).as("c"))
      .select(
        col("query_id"), col("q_qe"),
        col("c.cent_id").as("cent_id"),
        (dot(col("q_qe"), col("c.c_qe")).cast("double") /
          (sqrt(dot(col("q_qe"), col("q_qe")).cast("double")) *
            sqrt(col("c.c_n2").cast("double")))).as("cos_c"))
      .withColumn("pn", row_number().over(wq))
      .filter(col("pn") <= nProbe)
      .select(col("query_id"), col("q_qe"), col("cent_id").as("cell"))
  }

  /** Deterministic per-subspace Lloyd fit of PQ codebooks — the real
    * trainer behind [[pqCodebookFrame]], exactly [[trainIvfCentroids]]'
    * recipe applied independently to each subspace's sub-vectors:
    * md5-ordered sample, first-`codes` seeds, exact integer L2
    * assignment (lowest code on ties), integral-mean updates, emptied
    * codes keep their previous codeword. Returns
    * `((sub, code) -> sub-vector)` for [[pqCodebookFrame]].
    */
  def trainPqCodebooks(
      embeddings: DataFrame,
      m: Int = 8,
      codes: Int = 16,
      iters: Int = 4,
      sampleSize: Int = 4096): Seq[((Int, Int), Seq[Long])] = {
    val spark = embeddings.sparkSession
    val e = withQuantized(embeddings)
    val sampled = e
      .withColumn("_r", md5(col("vec_id").cast("string")))
      .orderBy(col("_r"), col("vec_id"))
      .limit(sampleSize)
      .select(col("qe"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seeds = sampled.limit(codes).collect()
      .map(_.getAs[scala.collection.Seq[Long]]("qe").toSeq)
    require(seeds.nonEmpty, "trainPqCodebooks: empty corpus/sample — nothing to seed from")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val subDim = dim / m
    // Degrade gracefully to fewer codes when the sample is small (the
    // trainIvfCentroids convention) — note the result is then SPARSE
    // relative to the requested `codes`, and the flat-indexing searches
    // will reject it loudly via requireDense; re-run them with
    // `codes = kEff`.
    val kEff = math.min(codes, seeds.length)
    var books: Seq[((Int, Int), Seq[Long])] =
      for (s <- 0 until m; c <- 0 until kEff)
        yield ((s, c), seeds(c).slice(s * subDim, (s + 1) * subDim))
    for (_ <- 1 to iters) {
      val assigned = withPqCodes(sampled, pqCodebookFrame(spark, books), m, kEff)
      val perCode = assigned
        .select(posexplode(col("pq")).as(Seq("sub", "sc")), col("qe"))
        .select(
          col("sub"), col("sc.code").as("code"),
          posexplode(slice(col("qe"), col("sub") * subDim + 1, lit(subDim)))
            .as(Seq("pos", "v")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .select(col("sub"), col("code"), col("pos"), expr("s DIV n").as("mval"))
        .groupBy(col("sub"), col("code"))
        .agg(sort_array(collect_list(struct(col("pos"), col("mval")))).as("dims"))
        .collect()
        .map { r =>
          (r.getAs[Int]("sub"), r.getAs[Int]("code")) ->
            r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("dims")
              .map(_.getAs[Long]("mval")).toSeq
        }.toMap
      books = books.map { case (key, v) => (key, perCode.getOrElse(key, v)) }
    }
    sampled.unpersist()
    books
  }

  /** [[ivfSearch]] with a LEARNED coarse quantizer: fit centroids with
    * [[trainIvfCentroids]], then run the identical broadcast-argmax
    * assign + probe + rank plan.
    */
  def ivfSearchLearned(
      embeddings: DataFrame,
      numQueries: Int = 10,
      k: Int = 10,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      iters: Int = 8,
      sampleSize: Int = 4096): DataFrame = {
    val cents = trainIvfCentroids(embeddings, numCentroids, iters, sampleSize)
    ivfSearchFrom(
      withQuantized(embeddings),
      centroidFrame(embeddings.sparkSession, cents),
      numQueries, k, nProbe)
  }

  /** IVF search: each query probes its `nProbe` nearest cells and ranks
    * only the vectors indexed there — the inverted-file analog of
    * [[annLsh]]. The corpus is quantized and cell-assigned once (shared
    * scan), candidates come from a broadcast equi-join on the cell id, and
    * only the candidate set ever shuffles (for the per-query ranking) —
    * the plan shape survives a billion-vector corpus.
    */
  def ivfSearch(
      embeddings: DataFrame,
      numQueries: Int = 10,
      k: Int = 10,
      numCentroids: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val e = withQuantized(embeddings)
    ivfSearchFrom(e, centroidArray(e, numCentroids), numQueries, k, nProbe)
  }

  private def ivfSearchFrom(
      e: DataFrame,
      centsArr: DataFrame,
      numQueries: Int,
      k: Int,
      nProbe: Int): DataFrame = {
    val assigned = withCell(e, centsArr, "qe")
    // Query → its nProbe nearest cells: tiny (numQueries × numCentroids)
    // cross product, ranked per query.
    val probes = probeCells(
      e.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("qe").as("q_qe")),
      centsArr, nProbe)
    rankProbedCandidates(assigned, probes, k)
  }

  /** The IVF candidate ranking shared by the one-shot search and the
    * streamed-postings search: probed cells equi-join the assigned
    * corpus, exact dot ranks the candidates.
    */
  private def rankProbedCandidates(
      assigned: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val wr = Window.partitionBy(col("query_id")).orderBy(col("dp").desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dp", dot(col("qe"), col("q_qe")))
      .withColumn("rnk", row_number().over(wr).cast("int"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"), col("dp"))
  }

  /** The `vec_id < k` placeholder coarse centroids as bounded driver
    * rows — the FROZEN quantizer handed to a streaming postings sink
    * (an ANN index's quantizer is trained once and frozen; only
    * assignments stream). Swap in [[trainIvfCentroids]]' output for the
    * learned variant — both are `(cent_id, qe)` rows.
    */
  def placeholderCentroids(
      embeddings: DataFrame, numCentroids: Int = 16): Seq[(Long, Seq[Long])] =
    withQuantized(embeddings).filter(col("vec_id") < numCentroids)
      .select(col("vec_id"), col("qe"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq.sortBy(_._1)

  /** Cell assignment under a frozen quantizer passed as driver rows —
    * the per-micro-batch body of streaming IVF index maintenance. Fully
    * narrow (broadcast-argmax, zero shuffle), so each epoch writes its
    * own postings `(vec_id, qe, n2, cell)` independently.
    */
  def ivfAssignWith(
      embeddings: DataFrame, cents: Seq[(Long, Seq[Long])]): DataFrame =
    ivfAssignWithQuantized(withQuantized(embeddings), cents)

  /** [[ivfAssignWith]] over ALREADY-QUANTIZED vectors `(vec_id, qe, n2)`
    * — re-assignment during an IVF state rebuild, where the vectors come
    * from the state's own postings, never a raw-embedding re-read.
    */
  def ivfAssignWithQuantized(
      e: DataFrame, cents: Seq[(Long, Seq[Long])]): DataFrame =
    withCell(e, centroidFrame(e.sparkSession, cents), "qe")
      .select(col("vec_id"), col("qe"), col("n2"), col("cell"))

  /** IVF search against EXTERNALLY-MAINTAINED postings (the streamed
    * index): probes rank cells under the same frozen quantizer, then the
    * shared candidate ranking runs over the postings frame instead of a
    * fresh full-corpus assignment. With vec-disjoint epochs the merged
    * postings equal the one-shot assignment, so this must return exactly
    * [[ivfSearch]]'s rows — the batch-parity gate.
    */
  def ivfSearchOverPostings(
      postings: DataFrame,
      queries: DataFrame,
      cents: Seq[(Long, Seq[Long])],
      numQueries: Int = 10,
      k: Int = 10,
      nProbe: Int = 4): DataFrame = {
    val centsArr = centroidFrame(postings.sparkSession, cents)
    val probes = probeCells(
      withQuantized(queries).filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("qe").as("q_qe")),
      centsArr, nProbe)
    rankProbedCandidates(postings, probes, k)
  }

  /** Graph-based ANN — the DiskANN/HNSW-family search shape, the one
    * ANN family the IVF/LSH/PQ stack doesn't cover: BEAM SEARCH over a
    * bounded-degree kNN graph. The graph is built once (exact top-
    * `degree` neighbor lists here — the demo-baseline convention; at
    * corpus scale the edge list comes from the [[annLsh]]/[[ivfSearch]]
    * shortlist, and the search below is edge-source-independent); a
    * query starts at a fixed entry point (the lowest vec_id — the
    * deterministic stand-in for a medoid), and each hop expands the
    * current top-`beam` visited nodes' out-edges, scores the new
    * candidates exactly, and re-selects the beam. Everything is
    * relational: per hop ONE frontier⋈edges equi-join plus one bounded
    * window — frontiers are `beam` rows per query, visited is ≤
    * `1 + hops·beam·degree` rows per query, and `hops` is a small
    * constant, so the loop's lineage is fixed-depth with every join on
    * the persisted vector/edge frames.
    *
    * Determinism: exact integer dots, beams and answers total-ordered
    * by `(dp DESC, vec_id)`, dedup on `(query_id, vec_id)` where the
    * score is pair-determined — the DuckDB oracle replays every hop.
    * Output: [[knnBruteForce]]'s `(query_id, neighbor_id, rnk, dp)`
    * (self excluded from the ANSWER only — the walk may pass through
    * the query itself).
    */
  def graphAnnSearch(
      embeddings: DataFrame,
      degree: Int = 6,
      beam: Int = 4,
      hops: Int = 3,
      numQueries: Int = 10,
      k: Int = 10,
      edgeBuild: String = "lsh",
      numPlanes: Int = DefaultNumPlanes,
      probeBits: Int = 1,
      dim: Int = 64): DataFrame = {
    require(degree >= 1 && beam >= 1 && hops >= 1 && hops <= 8)
    // ONE persisted corpus scan feeds everything: the bucketed frame
    // serves the LSH edge build, the vector side of the search, and the
    // long-link id universe (review finding r16: the first cut re-ran
    // quantization+bucketing from the raw source on both sides of the
    // candidate join — three corpus scans where one suffices).
    val b = lshBucketedVectors(embeddings, numPlanes, dim)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e = b.select(col("vec_id"), col("qe"))
    val nnEdges = edgeBuild match {
      case "lsh"   => knnEdgesLshFrom(b, degree, numPlanes, probeBits)
      case "exact" => knnEdgesExactFrom(e, degree)
      case other   => throw new IllegalArgumentException(
        s"edgeBuild=$other not in {lsh, exact}")
    }
    // Long-range links — the NSW/HNSW long-edge role, without which the
    // kNN graph fragments into per-cluster islands no beam can cross
    // (measured: recall 0.18 on the clustered fixture, cluster-0 answers
    // for every query). Derandomized: id-space is uncorrelated with
    // geometry, so the HYPERCUBE edges v → v XOR 2^j (j over the id bit
    // width, targets that exist) are "random" links with log-n degree
    // and log-n diameter — one equi-join, no global sort, no RNG state.
    val bounds = e.agg(min(col("vec_id")), max(col("vec_id"))).collect()(0) // one job, two scalars
    val (entry, maxId) = (bounds.getLong(0), bounds.getLong(1))
    // No distinct on the edge union: the beam search dedups its
    // expansion per hop on (query_id, vec_id), so duplicate (src, nb)
    // rows cannot change any answer — and with AQE materializing every
    // exchange as its own stage, one fewer corpus-edge shuffle is one
    // fewer sequential stage on the search's critical path (ISO_r17).
    val edges = nnEdges.unionByName(hypercubeEdges(e, maxId))
    // graphAnnSearchOverEdges materializes its (bounded) answer before
    // returning, so the corpus-scale bucketed cache can be released here
    // rather than leaking past the call (ADVICE r15).
    val out = graphAnnSearchOverEdges(e, edges, entry, beam, hops, numQueries, k)
    b.unpersist()
    out
  }

  /** Exact top-`degree` neighbor lists over all pairs — the n² arm, kept
    * ONLY as the differential/recall baseline for [[knnEdgesLsh]] (the
    * benched build). Output: `(src, nb)`.
    */
  def knnEdgesExact(embeddings: DataFrame, degree: Int = 6): DataFrame =
    knnEdgesExactFrom(
      withQuantized(embeddings).select(col("vec_id"), col("qe")), degree)

  private def knnEdgesExactFrom(e: DataFrame, degree: Int): DataFrame =
    topDegreeEdges(
      e.select(col("vec_id").as("src"), col("qe").as("qe_a"))
        .join(e.select(col("vec_id").as("nb"), col("qe").as("qe_b")),
          col("src") =!= col("nb")),
      degree)

  /** Shortlist-built kNN edge lists — the 100 TB graph construction:
    * candidates for each source are its deterministic multi-probe
    * sign-LSH co-bucket mates ([[annLsh]]'s index — each vector lives in
    * exactly one bucket and probed buckets are distinct, so the
    * candidate join is a plain bucket equi-join, never all-pairs), and
    * the top-`degree` by exact quantized dot (ties on `nb`) within the
    * candidates become the out-edges. Approximation lives ONLY in
    * candidate recall; every kept edge's score is exact, and the build
    * is fully deterministic (fixed [[hyperplanes]]), so a SQL oracle
    * replays it literally. Output: `(src, nb)`, ≤ `degree` per src
    * (fewer where a probe neighborhood is sparse — the beam search's
    * hypercube long links keep such nodes reachable regardless).
    */
  def knnEdgesLsh(
      embeddings: DataFrame,
      degree: Int = 6,
      numPlanes: Int = DefaultNumPlanes,
      probeBits: Int = 1,
      dim: Int = 64): DataFrame =
    knnEdgesLshFrom(lshBucketedVectors(embeddings, numPlanes, dim),
      degree, numPlanes, probeBits)

  /** [[knnEdgesLsh]] over an already-bucketed `(vec_id, qe, bucket)`
    * frame — callers that reuse the bucketed scan (graphAnnSearch
    * persists it once for the build AND the search) pass it here.
    */
  private[graft] def knnEdgesLshFrom(
      b: DataFrame,
      degree: Int,
      numPlanes: Int = DefaultNumPlanes,
      probeBits: Int = 1): DataFrame = {
    val probes = probeExplode(
      b.select(col("vec_id").as("src"), col("qe").as("qe_a"), col("bucket")),
      numPlanes, probeBits)
    topDegreeEdges(
      b.select(col("bucket"), col("vec_id").as("nb"), col("qe").as("qe_b"))
        .join(probes, Seq("bucket"))
        .filter(col("src") =!= col("nb")),
      degree)
  }

  /** The bucketed quantized vector frame `(vec_id, qe, bucket)` — the
    * unit of graph-ANN vector state, shared by the batch edge build and
    * the streaming edge sink ([[graft.streaming.StreamingOps
    * .graphAnnEdgeSink]]) so both sides bucket identically.
    */
  private[graft] def lshBucketedVectors(
      embeddings: DataFrame,
      numPlanes: Int = DefaultNumPlanes,
      dim: Int = 64): DataFrame =
    signBucketsQuantized(embeddings, numPlanes, dim)
      .select(col("vec_id"), col("_qe").as("qe"), col("bucket"))

  /** Rank LSH-candidate pairs by exact dot and keep the top `degree`
    * per source, given distinct candidate rows `(src, nb, dp)` — the
    * merge-time selection the streaming edge state replays ([[
    * knnEdgesLsh]] inlines the same window over its one-shot pairs).
    */
  private[graft] def topDegreeFromCandidates(cand: DataFrame, degree: Int): DataFrame =
    topDegreeCandidates(cand, degree).select(col("src"), col("nb"))

  /** As [[topDegreeFromCandidates]] but keeps `dp` — the per-epoch prune
    * of the streaming edge state (rows must stay mergeable).
    */
  private[graft] def topDegreeCandidates(cand: DataFrame, degree: Int): DataFrame = {
    val wG = Window.partitionBy("src").orderBy(col("dp").desc, col("nb"))
    cand
      .withColumn("rn", row_number().over(wG))
      .filter(col("rn") <= degree)
      .select(col("src"), col("nb"), col("dp"))
  }

  /** Rank candidate pairs `(src, qe_a, nb, qe_b)` by exact dot and keep
    * the top `degree` per source — the shared tail of both edge builds.
    */
  private def topDegreeEdges(pairs: DataFrame, degree: Int): DataFrame = {
    val wG = Window.partitionBy("src").orderBy(col("g_dp").desc, col("nb"))
    pairs
      .withColumn("g_dp", dot(col("qe_a"), col("qe_b")))
      .withColumn("rn", row_number().over(wG))
      .filter(col("rn") <= degree)
      .select(col("src"), col("nb"))
  }

  /** The derandomized long-range links `v → v XOR 2^j` (targets that
    * exist), given the id universe `e(vec_id, …)` and its max id.
    */
  private def hypercubeEdges(e: DataFrame, maxId: Long): DataFrame = {
    val bitsN = (64 - java.lang.Long.numberOfLeadingZeros(math.max(maxId, 1L))).toInt
    val farTargets = (0 until bitsN).map(j => col("src").bitwiseXOR(lit(1L << j)))
    e.select(col("vec_id").as("src"))
      .select(col("src"),
        explode(if (farTargets.isEmpty) array().cast("array<long>")
                else array(farTargets: _*)).as("nb"))
      .join(e.select(col("vec_id").as("nb")), Seq("nb")) // only existing ids
      .select(col("src"), col("nb"))
  }

  /** The beam search alone, over a PREBUILT edge frame `(src, nb)` and a
    * fixed entry point — shared by [[graphAnnSearch]] and the streaming
    * edge-state twin (where `edges` is the merged per-epoch state and
    * `entry` is frozen with the index). `vectors` must carry
    * `(vec_id, qe)`; callers own its persistence (the loop joins it once
    * per hop).
    */
  def graphAnnSearchOverEdges(
      vectors: DataFrame,
      edges: DataFrame,
      entry: Long,
      beam: Int = 4,
      hops: Int = 3,
      numQueries: Int = 10,
      k: Int = 10): DataFrame = {
    val e = vectors.select(col("vec_id"), col("qe"))
    val ePersisted = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val queries = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"))
    def scored(ids: DataFrame): DataFrame =
      ids.join(e, Seq("vec_id"))
        .join(broadcast(queries), Seq("query_id"))
        .select(col("query_id"), col("vec_id"), dot(col("qe"), col("q_qe")).as("dp"))
    var visited = scored(queries.select(col("query_id"), lit(entry).as("vec_id")))
    val wB = Window.partitionBy("query_id").orderBy(col("dp").desc, col("vec_id"))
    for (_ <- 1 to hops) {
      val frontier = visited
        .withColumn("rn", row_number().over(wB))
        .filter(col("rn") <= beam)
        .select(col("query_id"), col("vec_id"))
      val expanded = frontier
        .join(ePersisted, frontier("vec_id") === ePersisted("src"))
        .select(col("query_id"), col("nb").as("vec_id"))
        .distinct()
      // Eager per-hop lineage truncation (the seedDistances/hits
      // standard, r21): `visited` is referenced TWICE per hop (the
      // carry-forward union side + the frontier window side), so left
      // lazy the subtree doubles per hop — 2^hops re-executions of the
      // entry scoring chain inside the final collect, and one deep AQE
      // plan whose every exchange is a sequential stage. The per-hop
      // state is ≤ numQueries·(1 + beam·degree·hop) rows — driver-tiny.
      visited = visited.unionByName(scored(expanded))
        .dropDuplicates("query_id", "vec_id")
        .localCheckpoint(true)
    }
    val ranked = visited
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("rnk", row_number().over(wB).cast("int"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"), col("dp"))
    // The answer is bounded (≤ numQueries·k rows) by construction — land
    // it on the driver and return a LocalRelation, so NOTHING this search
    // cached outlives the call (ADVICE r16: the persist-without-release
    // here leaked one cached plan per search in a long-lived session; a
    // lazy return can't release the edge cache it still depends on).
    val rows = ranked.collect()
    ePersisted.unpersist()
    vectors.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), ranked.schema)
  }

  /** Element-wise mean pooling of quantized embeddings per group — the
    * chunk→document pooling step of an embedding pipeline (a document's
    * vector = mean of its chunks'). Exact integer arithmetic: per-(group,
    * dimension) long sums, then `floor(sum/count)` — deterministic across
    * partitionings and engines (the division is exact-double: sums stay
    * far below 2^53). Output: one row per group with the pooled vector
    * scalarized as a comma-joined string (array cells can't cross the
    * driver's hash gate).
    *
    * Scale: explode is (rows × dim) but narrow; the only shuffle is the
    * map-side-combined (group, dim) sum — dim × groups rows.
    */
  def meanPool(embeddings: DataFrame, groupCol: Column): DataFrame =
    embeddings
      .select(groupCol.as("group_id"), quantize(col("embedding")).as("qe"))
      .select(col("group_id"), posexplode(col("qe")).as(Seq("pos", "v")))
      .groupBy(col("group_id"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .select(
        col("group_id"), col("pos"),
        floor(col("s").cast("double") / col("n").cast("double")).cast("long").as("m"))
      .groupBy(col("group_id"))
      .agg(
        concat_ws(
          ",",
          transform(
            sort_array(collect_list(struct(col("pos"), col("m")))),
            x => x.getField("m").cast("string"))).as("pooled"))

  /** All bucket-key XOR masks within Hamming distance `probeBits` of zero —
    * the multi-probe neighborhood. Driver-side enumeration; numPlanes is
    * small by construction (bucket count is 2^numPlanes).
    */
  def probeMasks(numPlanes: Int, probeBits: Int): Seq[Long] =
    (0L until (1L << numPlanes)).filter(m => java.lang.Long.bitCount(m) <= probeBits)

  /** Explode a bucketed frame's `bucket` column into its multi-probe
    * neighborhood (bucket XOR each ≤ `probeBits`-bit mask) — THE one
    * probe fan-out implementation. Every LSH consumer (annLsh, the edge
    * builds, outlier candidates, incremental near-dup, the streaming
    * edge sink) routes through here, so batch and streaming twins can
    * never drift in how they probe.
    */
  private[graft] def probeExplode(
      df: DataFrame, numPlanes: Int, probeBits: Int): DataFrame = {
    val masks = probeMasks(numPlanes, probeBits)
    df.withColumn(
      "bucket",
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)))
  }

  /** Approximate top-k: rank only candidates in the query's LSH bucket or
    * any bucket within `probeBits` flipped sign bits (multi-probe LSH —
    * near neighbors most often land one flipped hyperplane away, so
    * probing the 1-bit neighborhood recovers most of the recall a single
    * probe loses, at (numPlanes+1)/2^numPlanes of the corpus instead of
    * another full hash table). Probed buckets are distinct and each corpus
    * vector lives in exactly one, so candidates need no dedup and the join
    * stays a plain equi-join on the bucket key — the 100 TB shape;
    * [[knnBruteForce]] is its recall oracle in tests.
    */
  def annLsh(
      embeddings: DataFrame,
      numQueries: Int = 10,
      k: Int = 10,
      numPlanes: Int = DefaultNumPlanes,
      dim: Int = 64,
      probeBits: Int = 1): DataFrame = {
    val e = signBucketsQuantized(embeddings, numPlanes, dim)
      .select(col("vec_id"), col("_qe").as("qe"), col("bucket"))
    val q = probeExplode(
      e.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("qe").as("q_qe"), col("bucket")),
      numPlanes, probeBits)
    val w = Window.partitionBy(col("query_id")).orderBy(col("dp").desc, col("vec_id"))
    e.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dp", dot(col("qe"), col("q_qe")))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"), col("dp"))
  }

  /** Per-dimension standardization of an embedding corpus — z-scores
    * `(x − mean_d) / stddev_d` over each dimension's distribution, the
    * feature-scaling pass before distance-based indexing or clustering so
    * no dimension dominates by raw magnitude alone.
    *
    * Embeddings are quantized to exact longs ([[quantize]]'s scheme), the
    * per-dimension moments come from [[graft.functions.Stats.exactMoments]]
    * (exact DECIMAL(38,0) sufficient statistics — one map-side-combined
    * shuffle with |dims| groups), and the dimension-count-sized moment
    * table broadcasts back over the corpus, so the corpus itself never
    * shuffles. Every z is two single correctly-rounded IEEE ops (one
    * subtract, one divide) on engine-identical doubles — bit-reproducible
    * across engines and partitionings. Constant dimensions (stddev 0)
    * standardize to 0 rather than NaN.
    */
  def standardize(embeddings: DataFrame): DataFrame = {
    val x = embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(
        col("vec_id"), col("dim"),
        floor(col("v").cast("double") * 1000000).cast("long").as("x"))
    val m = graft.functions.Stats.exactMoments(x, col("dim"), col("x"))
      .select(col("grp").as("dim"), col("mean"), col("stddev"))
    x.join(broadcast(m), Seq("dim"))
      .select(
        col("vec_id"), col("dim"),
        when(col("stddev") === 0, lit(0.0))
          .otherwise((col("x").cast("double") - col("mean")) / col("stddev"))
          .as("z"))
  }

  /** Incremental embedding near-dup detection of a new snapshot against a
    * kept corpus — the vector-space member of the `dedupAgainst` family
    * (exact digests: [[Curation.dedupAgainst]]; text MinHash:
    * [[Dedup.nearDupAgainst]]). Each snapshot vector multi-probes the kept
    * corpus's sign-LSH index ([[signBuckets]] — at production scale the
    * kept side is computed once and persisted), candidates join on the
    * bucket key alone, and survivors are verified with the exact
    * quantized cosine before the `minCosine` cut. Output: one row per
    * flagged snapshot vector with its best kept match (highest cosine,
    * lowest kept id on ties) — the drop list for corpus admission.
    *
    * The kept corpus never shuffles by anything but its (already
    * computed) bucket key; probe fan-out is `|masks|` rows per snapshot
    * vector, not per pair; the per-vector best-match window is bounded by
    * the candidate count. Approximation lives ONLY in candidate recall
    * (bounded by the probe radius) — every emitted cosine is exact.
    */
  def embedNearDupAgainst(
      kept: DataFrame,
      snapshot: DataFrame,
      minCosine: Double = 0.2,
      numPlanes: Int = DefaultNumPlanes,
      dim: Int = 64,
      probeBits: Int = 1): DataFrame = {
    val k = signBucketsQuantized(kept, numPlanes, dim)
      .select(
        col("vec_id").as("kept_id"),
        col("_qe").as("k_qe"),
        col("bucket"))
    val s = probeExplode(
      signBucketsQuantized(snapshot, numPlanes, dim)
        .select(col("vec_id"), col("_qe").as("s_qe"), col("bucket")),
      numPlanes, probeBits)
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("kept_id"))
    k.join(s, Seq("bucket"))
      .withColumn("dp", dot(col("s_qe"), col("k_qe")))
      .withColumn(
        "cosine",
        col("dp").cast("double") /
          (sqrt(dot(col("s_qe"), col("s_qe")).cast("double")) *
            sqrt(dot(col("k_qe"), col("k_qe")).cast("double"))))
      .filter(col("cosine") >= minCosine)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("kept_id").as("match_id"), col("dp"), col("cosine"))
  }

  /** Scalar int8 quantization of the embedding corpus: each dimension
    * maps its observed [min, max] onto codes 0…255 — the compressed
    * codebook vector stores ship to ANN serving (4× smaller than f32,
    * decoded back with the same affine map). The whole operator is
    * EXACT-INTEGER arithmetic on the element-quantized values the rest of
    * the vector stack already uses ([[quantize]]'s ⌊v·10⁶⌋ longs):
    * `code = (x − mn)·255 DIV (mx − mn)` and the reconstruction
    * `recon = mn + code·(mx − mn) DIV 255` involve no floating point at
    * all, so results are engine- and partitioning-bit-identical, and the
    * products stay ≪ 2⁶³ for any embedding with |v| ≤ 10⁶.
    *
    * Scale shape: one map-side-combined per-dimension min/max aggregate
    * (dim-count rows) broadcast back over the scan — the corpus is read
    * once and never shuffled. A constant dimension (mx = mn) codes to 0
    * and reconstructs to mn exactly.
    */
  def scalarQuantizeInt8(embeddings: DataFrame): DataFrame = {
    val x = embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(
        col("vec_id"), col("dim"),
        floor(col("v").cast("double") * 1000000).cast("long").as("x"))
    val span = x.groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    x.join(broadcast(span), Seq("dim"))
      .withColumn(
        "code",
        when(col("mx") === col("mn"), lit(0))
          .otherwise(expr("CAST((x - mn) * 255 DIV (mx - mn) AS INT)")))
      .withColumn("recon", col("mn") + expr("CAST(code AS BIGINT) * (mx - mn) DIV 255"))
      .select(col("vec_id"), col("dim"), col("x"), col("code"), col("recon"))
  }

  /** Per-label embedding outliers by leave-one-out centroid cosine — the
    * "is this example even in the right cluster" monitor a labeled
    * training set runs before fine-tuning (mislabeled rows, corrupted
    * embeddings, and domain strays rank first). For each vector the
    * centroid of its OWN label EXCLUDING ITSELF is derived algebraically
    * from the label's integer sum vector: with `s` the per-label
    * elementwise sum of quantized vectors and `q` the vector itself,
    * `dot(q, s−q) = dot(q,s) − |q|²` and `|s−q|² = |s|² − 2·dot(q,s) +
    * |q|²` — exact BIGINT end to end, no second pass, no per-group
    * re-aggregation per row. Cosine (scale-invariant, so the un-divided
    * sum vector IS the centroid direction) is then one division over two
    * correctly-rounded sqrts of exact integers — engine-bit-identical.
    *
    * Quantization is `floor(x·10³)` — coarser than [[quantize]]'s 10⁶ on
    * purpose: the sum vector's squared norm grows with the label's
    * cardinality c as (10³·c)², which stays below 2⁶³ for c up to ~10⁵
    * per label at 64 dims (DuckDB raises on BIGINT overflow, Spark wraps
    * silently — staying exact in BOTH engines is the gate). For larger
    * label groups, coarsen `quantScale` one decade per 10× cardinality.
    *
    * Scale: one posexplode aggregate builds the labels×dims sum table
    * (dimension-sized, broadcasts back), one scan scores every vector,
    * and the bottom-k window partitions by label. Labels with a single
    * vector have no leave-one-out centroid and are excluded (`|s−q|² =
    * 0`).
    */
  def centroidOutliers(
      embeddings: DataFrame,
      bottomK: Int = 5,
      quantScale: Long = 1000L): DataFrame = {
    val e = embeddings
      .select(
        col("vec_id"), col("label"),
        transform(col("embedding"), x => floor(x.cast("double") * quantScale).cast("long"))
          .as("qe"))
      .withColumn("n2", dot(col("qe"), col("qe")))
    val sums = e
      .select(col("label"), posexplode(col("qe")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v")).as("sv"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("sv")))).as("ps"))
      .select(col("label"), transform(col("ps"), p => p.getField("sv")).as("svec"))
      .withColumn("sn2", dot(col("svec"), col("svec")))
    val w = Window.partitionBy(col("label")).orderBy(col("cosine").asc, col("vec_id"))
    e.join(broadcast(sums), Seq("label"))
      .withColumn("dp_s", dot(col("qe"), col("svec")))
      .withColumn("loo_dp", col("dp_s") - col("n2"))
      .withColumn("loo_n2", col("sn2") - lit(2L) * col("dp_s") + col("n2"))
      .filter(col("loo_n2") > 0L && col("n2") > 0L)
      .withColumn(
        "cosine",
        col("loo_dp").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("loo_n2").cast("double"))))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= bottomK)
      .select(col("label"), col("vec_id"), col("rnk"), col("loo_dp"), col("cosine"))
  }

  /** Margin-based uncertainty sampling over label centroids — the
    * active-learning draw (Lewis & Gale's uncertainty sampling, margin
    * variant): a vector whose best and second-best centroid cosines
    * nearly tie sits on a class boundary, and those are the rows worth
    * human labels / audit first. For every vector: cosine to EACH label
    * centroid (the centroid SUM, not the mean — cosine is
    * scale-invariant, so no division enters the integer path, the
    * [[centroidOutliers]] trick; own-label centroids INCLUDE the vector
    * itself — full-membership centroids, where centroidOutliers
    * deliberately leaves one out), `pred_label` = best centroid,
    * `margin = cos_best − cos_second`, and the `k` LOWEST-margin
    * vectors surface in ambiguity order. Also flags `is_error` =
    * predicted ≠ actual — low-margin + mislabeled is the classic
    * annotation-queue triage. Doubles are fixed IEEE trees over exact
    * integers (engine-bit-identical); `quantScale` defaults to 1000 so
    * centroid-sum dot products stay inside BIGINT at any label size
    * (the centroidOutliers bound).
    *
    * Scale: one label-count-sized centroid aggregate broadcast back;
    * the corpus scan scores against ALL centroids (labels × corpus
    * rows — labels are small by definition), one per-vector rank
    * window over label-count-sized groups, and the final ambiguity
    * top-k is a TakeOrdered, never a global sort.
    */
  def centroidMarginSampling(
      embeddings: DataFrame,
      k: Int = 50,
      quantScale: Long = 1000L): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val e = embeddings
      .select(
        col("vec_id"), col("label"),
        transform(col("embedding"), x => floor(x.cast("double") * quantScale).cast("long"))
          .as("qe"))
      .withColumn("n2", dot(col("qe"), col("qe")))
    val cents = e
      .select(col("label").as("c_label"), posexplode(col("qe")).as(Seq("pos", "v")))
      .groupBy(col("c_label"), col("pos"))
      .agg(sum(col("v")).as("sv"))
      .groupBy(col("c_label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("sv")))).as("ps"))
      .select(col("c_label"), transform(col("ps"), p => p.getField("sv")).as("svec"))
      .withColumn("sn2", dot(col("svec"), col("svec")))
    val wBest = Window.partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("c_label"))
    val scored = e.join(broadcast(cents), col("n2") > 0L && col("sn2") > 0L)
      .withColumn(
        "cosine",
        dot(col("qe"), col("svec")).cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("sn2").cast("double"))))
      .withColumn("crn", row_number().over(wBest))
      .filter(col("crn") <= 2)
    val best = scored.filter(col("crn") === 1).select(
      col("vec_id"), col("label"), col("c_label").as("pred_label"), col("cosine").as("cos_best"))
    val second = scored.filter(col("crn") === 2).select(
      col("vec_id"), col("c_label").as("second_label"), col("cosine").as("cos_second"))
    // TakeOrdered FIRST (never a global sort over the corpus); the rank
    // window then runs over k rows only. Bounded-input invariant for the
    // unpartitioned window below: its single-partition barrier sees the
    // ≤ k TakeOrdered survivors, never the corpus (r21 window audit).
    val wAmb = Window.orderBy(col("margin").asc, col("vec_id"))
    best.join(second, Seq("vec_id"))
      .withColumn("margin", col("cos_best") - col("cos_second"))
      .orderBy(col("margin").asc, col("vec_id"))
      .limit(k)
      .withColumn("rnk", row_number().over(wAmb).cast("int"))
      .select(
        col("rnk"), col("vec_id"), col("label"), col("pred_label"),
        col("second_label"), col("cos_best"), col("cos_second"), col("margin"),
        (col("pred_label") =!= col("label")).as("is_error"))
  }

  /** Hard-negative mining for contrastive training: for each query vector
    * the top-k nearest neighbors carrying a DIFFERENT label — the
    * near-miss examples a retrieval/embedding fine-tune wants as
    * in-batch negatives (easy negatives are useless, same-label
    * neighbors are false negatives). Ranking is by exact integer dot
    * product ([[knnBruteForce]]'s convention — deterministic, engine
    * identical), ties on `vec_id`.
    *
    * Scale: the query set broadcasts, the corpus is scanned once and
    * never shuffled; the label inequality prunes in the join, and the
    * per-query window ranks only `|queries| × corpus` scored rows after
    * Spark's partial top-k (WindowGroupLimit) bounds each group
    * map-side. For corpus-sized query sets use the LSH/IVF candidate
    * paths first and rank only candidates.
    */
  def hardNegatives(embeddings: DataFrame, numQueries: Int = 10, k: Int = 10): DataFrame = {
    val e = embeddings
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qe"))
      .withColumn("n2", dot(col("qe"), col("qe")))
    val q = e.filter(col("vec_id") < numQueries)
      .select(
        col("vec_id").as("query_id"), col("label").as("query_label"),
        col("qe").as("q_qe"), col("n2").as("q_n2"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dp").desc, col("vec_id"))
    e.join(broadcast(q), col("label") =!= col("query_label"))
      .withColumn("dp", dot(col("qe"), col("q_qe")))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select(
        col("query_id"), col("query_label"),
        col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"),
        col("rnk"), col("dp"),
        (col("dp").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("q_n2").cast("double")))).as("cosine"))
  }

  /** Exact Gram/covariance sufficient statistics of the embedding corpus:
    * for every dimension pair `i ≤ j` the BIGINT sums `Σ xᵢ`, `Σ xⱼ`,
    * `Σ xᵢxⱼ` and the vector count — everything PCA/whitening/feature
    * -correlation needs (`cov = (Σxᵢxⱼ − ΣxᵢΣxⱼ/n)/n`), computed on
    * [[quantize]]'s exact longs so the statistics are order-independent
    * and engine-bit-identical; the one division is left to the consumer.
    *
    * Scale: the corpus is scanned once and NEVER shuffled — the d²
    * expansion happens inside the scan pipeline and the per-partition
    * hash aggregate collapses it to ≤ d(d+1)/2 keys before the (tiny,
    * dimension-sized) exchange. Work is `n·d²` multiplies, embarrassingly
    * parallel. BIGINT headroom: |q| ≤ 10⁶·|x|, so Σxᵢxⱼ stays below 2⁶³
    * for ~10⁶ vectors at |x| ≤ 3; past that, coarsen the quantization or
    * lift the sums to DECIMAL(38,0) as [[graft.functions.Stats]] does.
    */
  def gramMatrix(embeddings: DataFrame): DataFrame = {
    val e = embeddings.select(col("vec_id"), quantize(col("embedding")).as("qe"))
    e.select(col("qe"), posexplode(col("qe")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("qe")).as(Seq("j", "xj")))
      .filter(col("i") <= col("j"))
      .groupBy(col("i").cast("int").as("dim_i"), col("j").cast("int").as("dim_j"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("xi")).as("sum_i"),
        sum(col("xj")).as("sum_j"),
        sum(col("xi") * col("xj")).as("sum_prod"))
  }

  /** Deterministic signs for [[randomProject]]: `signs(j)(d)` is ±1 by
    * the parity of the 60-bit md5 slice of `"rp:j:d"` — the same
    * `'0x' || substr(md5(s), 1, 15)` slice convention the digest
    * expressions use, so any engine with md5 reproduces the matrix.
    */
  def projectionSigns(outDim: Int, dim: Int): Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq.tabulate(outDim, dim) { (j, d) =>
      val hex = md.digest(s"rp:$j:$d".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
    }
  }

  /** Johnson–Lindenstrauss random projection with a ±1 (Achlioptas) sign
    * matrix: each vector maps to `outDim` exact BIGINT coordinates
    * `pⱼ = Σ_d s(j,d)·q_d` over [[quantize]]'s longs — distances and
    * inner products are preserved in expectation within the JL bound, at
    * `outDim/dim` of the storage and dot-product cost, which is the
    * standard pre-step before brute-force or LSH search on very wide
    * embeddings. The sign matrix is content-independent and derived from
    * md5 parities ([[projectionSigns]]), so the projection is
    * reproducible across engines, runs, and partitionings — no RNG state
    * to ship.
    *
    * Scale: the matrix is a `outDim × dim` literal compiled into the
    * plan (a few KB — never a join), the corpus is scanned once with
    * zero shuffles, and the arithmetic is codegen'd HOF sums, exact
    * end to end.
    */
  def randomProject(embeddings: DataFrame, outDim: Int = 16, dim: Int = 64): DataFrame = {
    val signs = typedLit(projectionSigns(outDim, dim))
    embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("qe"))
      .select(
        col("vec_id"),
        transform(
          signs,
          srow =>
            aggregate(
              zip_with(srow, col("qe"), (s, x) => s * x),
              lit(0L),
              (acc, v) => acc + v)).as("proj"))
      .withColumn("pn2", dot(col("proj"), col("proj")))
  }

  /** The cosine and exact-squared-L2 rankings of the corpus for each of
    * the first `numQueries` vectors, cut at `depth`, as one row per
    * `(query_id, vec_id)` surviving EITHER list (full outer of the two
    * depth-bounded lists): `cos_rank` / `l2_rank` are row_number ranks
    * (tie-free by construction, ties on id), NULL when the candidate is
    * beyond `depth` in that ranker. The shared input of [[rrfFuse]]
    * (which fuses the two lists) and `Stats.kendallTau` (which measures
    * how differently they order the common candidates).
    *
    * Scale: one broadcast of the query set, one corpus scan scores both
    * rankers from the SAME dot product (`d² = |v|² − 2·dp + |q|²` — no
    * second pass; the scored subtree is rebuilt per ranker — two
    * broadcast-join scans, no session-lifetime cache to own), per-query
    * windows are WindowGroupLimit-bounded, and the final join runs on
    * the depth-bounded lists, never the corpus.
    */
  def dualRankings(
      embeddings: DataFrame,
      numQueries: Int = 10,
      depth: Int = 50): DataFrame = {
    val e = withQuantized(embeddings)
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"), col("n2").as("q_n2"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("dp", dot(col("qe"), col("q_qe")))
      .withColumn(
        "cosine",
        col("dp").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("q_n2").cast("double"))))
      .withColumn("d2", col("n2") - lit(2L) * col("dp") + col("q_n2"))
    val wCos = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    val wL2 = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id"))
    val byCos = scored
      .withColumn("cos_rank", row_number().over(wCos).cast("int"))
      .filter(col("cos_rank") <= depth)
      .select(col("query_id"), col("vec_id"), col("cos_rank"))
    val byL2 = scored
      .withColumn("l2_rank", row_number().over(wL2).cast("int"))
      .filter(col("l2_rank") <= depth)
      .select(col("query_id"), col("vec_id"), col("l2_rank"))
    byCos.join(byL2, Seq("query_id", "vec_id"), "full_outer")
  }

  /** Reciprocal-rank fusion of two exact retrieval rankings — the
    * standard hybrid-search combiner (Cormack et al.): for each query
    * over the corpus, ranking A orders by cosine (direction match) and
    * ranking B by exact squared L2 distance (magnitude-sensitive), each
    * cut at `depth`; a candidate's fused score is
    * `Σ_r ⌊10⁹ / (rrfK + rank_r)⌋` with absent lists contributing 0 —
    * the scaled-integer form keeps the score exact and engine-identical
    * (a float `1/(k+r)` would sum in fold order). Top-`k` fused
    * candidates per query, ties on id.
    *
    * Scale: one broadcast of the query set, one corpus scan scores both
    * rankers from the SAME dot product (`d² = |v|² − 2·dp + |q|²` —
    * no second pass), per-query windows are WindowGroupLimit-bounded,
    * and the fusion join runs on the depth-bounded candidate lists, not
    * the corpus.
    */
  def rrfFuse(
      embeddings: DataFrame,
      numQueries: Int = 10,
      depth: Int = 50,
      k: Int = 10,
      rrfK: Int = 60): DataFrame = {
    // Exact floor division (DIV) — a float 1/(k+r) would lose the
    // engine-bit-identical claim.
    val contrib = (r: String) =>
      expr(s"CASE WHEN $r IS NULL THEN 0 ELSE CAST(1000000000 DIV (${rrfK.toLong} + $r) AS BIGINT) END")
    val wF = Window.partitionBy(col("query_id")).orderBy(col("rrf_score").desc, col("vec_id"))
    dualRankings(embeddings, numQueries, depth)
      .withColumn("rrf_score", contrib("cos_rank") + contrib("l2_rank"))
      .withColumn("rrf_score", contrib("cos_rank") + contrib("l2_rank"))
      .withColumn("rnk", row_number().over(wF).cast("int"))
      .filter(col("rnk") <= k)
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
        col("rrf_score"),
        // 0 = "beyond depth in this ranker" — kept non-null so the
        // column stays integral end to end (a nullable rank decays to
        // float64 in pandas-side consumers).
        coalesce(col("cos_rank"), lit(0)).as("cos_rank"),
        coalesce(col("l2_rank"), lit(0)).as("l2_rank"))
  }

  /** Per-dimension drift report between two embedding corpora (model
    * version A vs B, last month vs this month): exact counts and
    * coordinate sums per dimension plus the mean-shift NUMERATOR
    * `shift_num = n_b·Σa_k − n_a·Σb_k` (the consumer's one division by
    * `n_a·n_b` recovers `mean_a − mean_b`; kept integer so the report
    * is engine-bit-identical and map-side combinable). The embedding
    * twin of q88's token-distribution drift: a nonzero systematic
    * shift on a dimension means the encoder moved, and downstream ANN
    * indexes trained on A are stale for B.
    *
    * Scale: one `posexplode` scan per side collapsing to d keys inside
    * the scan pipeline (the [[gramMatrix]] shape, linear d not d²) and
    * one d-sized join — the corpora are never shuffled. BIGINT
    * headroom: `n·Σx` ≤ 10⁶ vectors at the quantize scale; past that
    * lift to DECIMAL(38,0) as [[graft.functions.Stats]] does.
    */
  def embeddingDrift(a: DataFrame, b: DataFrame): DataFrame = {
    def sums(df: DataFrame, n: String, s: String) = df
      .select(posexplode(quantize(col("embedding"))).as(Seq("k", "x")))
      .groupBy(col("k").cast("int").as("k"))
      .agg(count(lit(1)).as(n), sum(col("x")).as(s))
    sums(a, "n_a", "sum_a")
      .join(sums(b, "n_b", "sum_b"), Seq("k"), "full_outer")
      .select(
        col("k"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("sum_a"), lit(0L)).as("sum_a"),
        coalesce(col("sum_b"), lit(0L)).as("sum_b"))
      .withColumn("shift_num", col("n_b") * col("sum_a") - col("n_a") * col("sum_b"))
  }

  /** Top principal component of the embedding corpus by DETERMINISTIC
    * integer power iteration on the exact scaled covariance — the
    * [[gramMatrix]] consumer PCA prep implies: `C = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ`
    * (n² × covariance — same eigenvectors, zero divisions). The whole
    * iteration runs DRIVER-SIDE on the collected d(d+1)/2 sufficient
    * statistics (the bounded-collect class the Lloyd trainers pinned):
    * `v ← C·v`, renormalized each round to `compScale` by the max
    * absolute component via sign-split nonnegative division (trunc ≡
    * floor where both engines agree), `iters` fixed rounds, start =
    * `compScale` on the largest-variance dimension (ties → lowest),
    * final sign fixed positive at the largest-|component| (ties →
    * lowest). Every step is exact BigInt → any engine replays it
    * bit-identically; `iters` trades eigenvector accuracy, never
    * determinism.
    */
  def topPcVector(
      embeddings: DataFrame,
      iters: Int = 12,
      dim: Int = 64,
      compScale: Long = 10000L): (Long, Array[Long], Array[Long]) = {
    require(iters >= 1 && iters <= 60, s"iters=$iters out of range [1, 60]")
    val rows = gramMatrix(embeddings).collect()
    val C = Array.fill[BigInt](dim, dim)(BigInt(0))
    val sums = Array.fill[Long](dim)(0L)
    var n = 0L
    rows.foreach { r =>
      val i = r.getAs[Int]("dim_i"); val j = r.getAs[Int]("dim_j")
      n = r.getAs[Long]("n_vecs")
      val c = BigInt(n) * r.getAs[Long]("sum_prod") -
        BigInt(r.getAs[Long]("sum_i")) * r.getAs[Long]("sum_j")
      C(i)(j) = c; C(j)(i) = c
      if (i == j) sums(i) = r.getAs[Long]("sum_i")
    }
    var d0 = 0
    (1 until dim).foreach { k => if (C(k)(k) > C(d0)(d0)) d0 = k }
    var v = Array.tabulate[BigInt](dim)(k => if (k == d0) BigInt(compScale) else BigInt(0))
    (1 to iters).foreach { _ =>
      val w = Array.tabulate[BigInt](dim)(i => (0 until dim).map(j => C(i)(j) * v(j)).sum)
      val m = w.map(_.abs).max
      if (m > 0)
        v = w.map(x => if (x < 0) -((-x) * compScale / m) else x * compScale / m)
    }
    var km = 0
    (1 until dim).foreach { k => if (v(k).abs > v(km).abs) km = k }
    if (v(km) < 0) v = v.map(x => -x)
    (n, v.map(_.toLong), sums)
  }

  /** Every vector's exact projection on [[topPcVector]]'s component:
    * `proj = Σ v_k·q_k` (BIGINT, `compScale`·quantization units) and the
    * centered projection scaled by n, `proj_centered_xn = n·proj −
    * Σ v_k·Σx_k` — integer so the mean-shift costs no division; the
    * corpus-wide sum of `proj_centered_xn` is exactly 0. The component
    * is a d-sized literal compiled into one narrow scan (the
    * [[randomProject]] shape — no join, no shuffle); headroom is
    * `n·d·compScale·|q|` ≈ 2·10¹² per row times n, exact in BIGINT to
    * ~10⁶ vectors at the defaults.
    */
  def topPrincipalComponent(
      embeddings: DataFrame,
      iters: Int = 12,
      dim: Int = 64,
      compScale: Long = 10000L): DataFrame = {
    val (n, v, sums) = topPcVector(embeddings, iters, dim, compScale)
    val shift = v.indices.map(k => BigInt(v(k)) * sums(k)).sum
    require(
      shift.abs < BigInt(Long.MaxValue) / math.max(n, 1L),
      s"centered-projection headroom exceeded (n=$n): lower compScale")
    embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("qe"))
      .select(col("vec_id"), dot(col("qe"), typedLit(v.toSeq)).as("proj"))
      .withColumn("proj_centered_xn", lit(n) * col("proj") - lit(shift.toLong))
  }

  /** kNN-distance outlier detection over the embedding column — the
    * Ramaswamy et al. (SIGMOD'00) density score brought to curation:
    * a vector whose k-th nearest neighbor is FAR sits in a sparse region
    * (mislabeled, off-distribution, or junk ingest). Per vector: the
    * exact integer squared L2 distance to its k-th neighbor (`kdist2`,
    * the Ramaswamy score — ranking by d² ≡ ranking by d), the sum of
    * its k neighbor distances (`sum_d2`, the Angiulli–Pizzuti average-
    * distance variant as an exact sufficient statistic), the global
    * outlier rank under `(kdist2 DESC, vec_id)`, and the top-`1/outShare`
    * flag. All integer — neighbors and ranks are total-ordered, so every
    * cell is engine-bit-identical.
    *
    * Scale: the all-pairs neighbor scan is the exact demo baseline
    * (the [[cosinePairs]] status) — at corpus scale the candidate set
    * comes from the IVF/Hamming shortlist ([[ivfSearch]],
    * [[hammingTopK]]) and everything downstream is unchanged. The
    * global rank deliberately avoids a single-partition window:
    * [[graft.functions.Stats.giniCoefficient]]'s distributed
    * prefix-count — bounded approx_percentile boundaries (driver
    * literal; boundary quality only balances partitions, never
    * correctness), per-bucket counts to offsets via a window over ≤
    * `numPartitions` rows, `row_number` only within a bucket.
    */
  def knnDistOutliers(
      embeddings: DataFrame,
      k: Int = 5,
      outShare: Int = 50,
      numPartitions: Int = 32): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(outShare >= 2, s"outShare=$outShare must be >= 2")
    val e = withQuantized(embeddings)
    val b = e.select(col("vec_id").as("nb"), col("qe").as("qe_b"), col("n2").as("n2_b"))
    outlierRanks(
      topKScores(e.join(b, col("vec_id") =!= col("nb")), k),
      outShare, numPartitions)
  }

  /** [[knnDistOutliers]] with the candidate set from the deterministic
    * multi-probe sign-LSH shortlist instead of all pairs — the benched
    * 100 TB arm (the exact variant stays as its differential baseline).
    * `kdist2`/`sum_d2` are computed over each vector's co-bucket
    * candidates, i.e. the score is the SHORTLIST kNN distance — the
    * standard approximate-kNN outlier construction: candidate recall is
    * the only approximation, every emitted distance and rank is exact
    * and deterministic (fixed [[hyperplanes]]), so a SQL oracle replays
    * the build literally. Vectors with fewer than `k` candidates score
    * over what they have (`kdist2` = the farthest available — so the
    * exact-arm dominance `kdist2_lsh ≥ kdist2_exact` holds only at ≥ k
    * candidates). Vectors whose probe neighborhood is empty
    * (singleton buckets with no 1-bit neighbors) have no kNN evidence
    * and are absent — at corpus scale such isolation is itself the
    * strongest outlier signal, surfaced upstream by bucket-occupancy
    * profiling rather than by an unscorable distance.
    *
    * Scale: the all-pairs join is replaced by one bucket equi-join
    * (probe fan-out `|masks|` rows per vector, candidates bounded by
    * bucket occupancy); everything downstream — [[graft.expressions
    * .TopKMin]] partials, the distributed prefix-count rank — is
    * unchanged from the exact arm.
    */
  def knnDistOutliersLsh(
      embeddings: DataFrame,
      k: Int = 5,
      outShare: Int = 50,
      numPartitions: Int = 32,
      numPlanes: Int = DefaultNumPlanes,
      probeBits: Int = 1,
      dim: Int = 64): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(outShare >= 2, s"outShare=$outShare must be >= 2")
    outlierRanks(
      topKScores(lshCandidatePairs(embeddings, numPlanes, probeBits, dim), k),
      outShare, numPartitions)
  }

  /** The multi-probe co-bucket candidate pair frame
    * `(vec_id, qe, n2, nb, qe_b, n2_b)` — one bucket equi-join, probe
    * fan-out `|masks|` rows per vector. Package-visible so
    * PlanShapeSpec pins its join shape (a regression to a cross
    * product here is the 100 TB failure mode).
    */
  private[graft] def lshCandidatePairs(
      embeddings: DataFrame,
      numPlanes: Int = DefaultNumPlanes,
      probeBits: Int = 1,
      dim: Int = 64): DataFrame = {
    val b = signBucketsQuantized(embeddings, numPlanes, dim)
      .select(col("vec_id"), col("_qe").as("qe"), col("bucket"))
      .withColumn("n2", dot(col("qe"), col("qe")))
    val probes = probeExplode(b, numPlanes, probeBits)
    b.select(col("bucket"), col("vec_id").as("nb"), col("qe").as("qe_b"), col("n2").as("n2_b"))
      .join(probes, Seq("bucket"))
      .filter(col("vec_id") =!= col("nb"))
  }

  /** The per-vector k-smallest-distance sufficient statistics over a
    * candidate pair frame `(vec_id, qe, n2, nb, qe_b, n2_b)`.
    *
    * Bounded map-side top-k ([[graft.expressions.TopKMin]]) instead of a
    * `row_number` window: the window shuffles all pair rows to rank
    * them; the aggregate's partials carry ≤ k values per vector into the
    * exchange — and with the candidate side broadcast every pair for a
    * vector is generated in one task, so the shuffle moves n·k values,
    * not the pair count. kdist2/sum_d2 are value-functions of the
    * k-smallest multiset, so boundary ties cannot change them (see
    * TopKMin's exactness note).
    */
  private def topKScores(pairs: DataFrame, k: Int): DataFrame = {
    val bridge = org.apache.spark.sql.graft.bridge
    pairs
      .withColumn("d2", col("n2") + col("n2_b") - lit(2L) * dot(col("qe"), col("qe_b")))
      .groupBy(col("vec_id"))
      .agg(bridge.column(graft.expressions.TopKMin(
        bridge.expression(col("d2")), k).toAggregateExpression()).as("kd"))
      .select(
        col("vec_id"),
        element_at(col("kd"), size(col("kd"))).as("kdist2"),
        aggregate(col("kd"), lit(0L), (acc, x) => acc + x).as("sum_d2"))
  }

  /** The shared rank tail of both outlier arms: global outlier rank +
    * top-`1/outShare` flag over a `(vec_id, kdist2, sum_d2)` score frame.
    *
    * Persist: `scores` is one row per vector (bounded), but FOUR consumers
    * read it (the percentile action, the offsets subtree, the `tot` count,
    * the main pass) — unpersisted, the candidate subtree executed three
    * times (measured 6.2 s at sf0.1); the percentile collect materializes
    * it.
    */
  private def outlierRanks(
      scoresIn: DataFrame,
      outShare: Int,
      numPartitions: Int): DataFrame = {
    val scores = scoresIn.persist(StorageLevel.MEMORY_AND_DISK)
    // Distributed global rank by (kdist2 DESC, vec_id ASC): the ascending
    // prefix-count rank of the mirrored key, then n + 1 − rank.
    val qs = (1 until numPartitions).map(i => i.toDouble / numPartitions)
    val bounds: Seq[Long] =
      if (qs.isEmpty) Seq.empty
      else scores.agg(expr(s"approx_percentile(kdist2, array(${qs.mkString(", ")}), 10000)"))
        .collect()(0).getSeq[Long](0)
    val pid =
      if (bounds.isEmpty) lit(0)
      else size(filter(typedLit(bounds), bnd => col("kdist2") >= bnd))
    val t = scores.withColumn("_pid", pid)
    // Bounded-input invariant (r21 window audit): this global window runs
    // over the per-bucket count table — ONE row per _pid bucket (≤
    // numPartitions rows), never the scored rows themselves.
    val wOff = Window.orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy(col("_pid")).agg(count(lit(1)).as("_c"))
      .withColumn("_off", coalesce(sum(col("_c")).over(wOff), lit(0L)))
      .select(col("_pid"), col("_off"))
    val wB = Window.partitionBy(col("_pid")).orderBy(col("kdist2"), col("vec_id").desc)
    val tot = scores.agg(count(lit(1)).as("n"))
    val out = t.join(broadcast(offsets), Seq("_pid"))
      .withColumn("rank_asc", col("_off") + row_number().over(wB))
      .crossJoin(broadcast(tot))
      .select(
        col("vec_id"), col("kdist2"), col("sum_d2"),
        (col("n") + 1L - col("rank_asc")).as("out_rank"),
        (col("n") + 1L - col("rank_asc") <= expr(s"n div $outShare")).as("is_outlier"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // one row per vector — materialize, then release `scores`
    scores.unpersist()
    out
  }
}
