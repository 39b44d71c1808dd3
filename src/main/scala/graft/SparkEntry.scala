package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Stats, TextAnalysis}
import graft.operators.{Association, Curation, Dedup, Graphs, Joins, Multimodal, Similarity, Timeseries, TrainingPipeline}
import graft.operators.Multimodal.{Bilinear, Box, Codec}
import graft.sources.{EventFixtures, Tables}
import graft.streaming.{EpochState, StreamingOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is written determinism-first so the DuckDB oracle
  * hash-matches bit-for-bit:
  *  - total ORDER BY on a unique key set in both engines;
  *  - money/measure aggregates in exact DECIMAL, cast to double at the end
  *    (exact arithmetic → identical doubles regardless of fold order);
  *  - timestamps surfaced as epoch-microsecond longs (`unix_micros` /
  *    DuckDB `epoch_us`), never as raw timestamp columns;
  *  - per-row double math restricted to single correctly-rounded IEEE ops
  *    (one division, one sqrt), which both engines compute identically.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    TrainingPipeline.produceTrainingExamples(
      EventFixtures.impressions(spark, dir),
      EventFixtures.clicks(spark, dir),
      EventFixtures.addToCarts(spark, dir),
      EventFixtures.orders(spark, dir),
      maxHistory = TrainingPipeline.DefaultMaxHistory)
  }

  private val MaxHist = 8

  private def dec(c: String): org.apache.spark.sql.Column = col(c).cast(DecimalType(18, 4))

  /** The driver's pandas-based oracle compare cannot sort/hash array cells,
    * so gate queries surface history arrays as comma-joined strings
    * (mirrored by `array_to_string(..., ',')` in the DuckDB oracles).
    * Long/int → string casts are format-identical across both engines.
    */
  private def scalarizeHist(df: DataFrame): DataFrame = df
    .withColumn("actions", concat_ws(",", col("actions").cast("array<string>")))
    .withColumn("action_types", concat_ws(",", col("action_types").cast("array<string>")))

  /** Land a BOUNDED result on the driver and return it as a
    * LocalRelation — the q235 cache-lifecycle pattern
    * (Similarity.graphAnnSearch): gate entries whose operator persists
    * intermediate state evaluate eagerly inside a `with…` bracket and
    * hand the driver a frame that depends on NO cached plan, so a
    * min-of-3 bench sweep in a long-lived JVM never accumulates
    * session-lifetime caches (VERDICT r17: q139/q44 `weak`). Only for
    * answers bounded by construction (verified dup pairs, survivor ids)
    * — never a data-sized frame.
    */
  /** Guarded gate-side input spread (VERDICT r20 #8). The media /
    * embeddings / layout gates repartition their input before heavy
    * narrow codec or per-vector chains because the TEST tables arrive
    * as ONE parquet file with ONE row group — an unsplittable 1-task
    * scan that would serialize the whole chain on one core (the r20
    * "1-task leaf" finding). On a real multi-file corpus the scan
    * already yields ≥ cores splits, where this repartition would be a
    * redundant full shuffle of the input — so like
    * [[graft.functions.TextAnalysis.spread]] it fires ONLY when the
    * scan's split count is below the session parallelism. Width stays
    * FULL parallelism (not spread's cores/4): these are single-pass
    * heavy chains, the shape the r20 width calibration measured at
    * full width, not re-executed small subtrees.
    */
  private implicit class SpreadWideOps(df: DataFrame) {
    def spreadWide(key: String): DataFrame = {
      val parallelism = df.sparkSession.sparkContext.defaultParallelism
      if (TextAnalysis.numPartitionsOf(df) < parallelism)
        df.repartition(parallelism, col(key))
      else df
    }
  }

  /** PlanDump-only switch (VERDICT r20 #4): when set, [[landed]] /
    * [[landedSwept]] pass their input through LAZILY instead of
    * evaluating it onto the driver, so `.explain` dumps show the
    * executed subplan (Exchanges, join strategies, codegen spans)
    * rather than an 8-line post-landed LocalTableScan. Rows are
    * unchanged either way — landed is identity up to materialization —
    * but the driver-bound `require` is skipped, so nothing but
    * [[graft.PlanDump]] (which never collects) may set this.
    */
  @volatile private[graft] var dumpInnerPlans: Boolean = false

  private def landed(df: DataFrame, maxRows: Int = 250000): DataFrame = {
    if (dumpInnerPlans) return df
    // take(N+1) + require enforces the "bounded by construction" claim
    // instead of trusting it (ADVICE r18): a pathological corpus whose
    // verified pair set grows quadratically fails loudly here rather
    // than OOMing the driver inside an unbounded collect().
    val rows = df.take(maxRows + 1)
    require(rows.length <= maxRows,
      s"landed() result exceeds $maxRows rows — not driver-boundable; " +
        "stage it to parquet instead")
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** [[landed]] plus session-cache release — the gate-side lifecycle
    * bracket for operators whose documented contract hands their FINAL
    * persisted state to the caller (the iterative graph family,
    * [[graft.operators.Dedup.dedupClusters]], [[graft.operators.Dedup
    * .jaccardPairs]], the layout samplers): the returned plan reads
    * that state, so an operator-side unpersist-before-return would
    * re-execute the whole fixpoint per consumer. The gate IS the sole
    * caller in a sweep JVM, so after evaluating the bounded answer
    * onto the driver it releases every cache the evaluation left —
    * no session-lifetime cache survives into the next gate's min-of-3
    * block (BASELINE.md sweep-JVM convention; CacheLifecycleSpec
    * enforces it over every gate entry).
    */
  private def landedSwept(df: DataFrame, maxRows: Int = 250000): DataFrame = {
    if (dumpInnerPlans) return df // keep caches registered so dumps show them
    val out = landed(df, maxRows)
    df.sparkSession.catalog.clearCache()
    out
  }

  /** The q237/q238 gate corpus: a deterministic multilingual rewrite of
    * `documents` ([[documentsMlSql]] is its oracle twin) — `translate`
    * swaps four ASCII letters for 2-byte Latin-1 letters, and a
    * doc_id-keyed suffix appends CJK, Devanagari (with combining
    * matras), Greek and emoji codepoints, covering every UTF-8 length
    * class (1–4 bytes), so the byte-fallback alphabet — byte-level
    * BPE's whole reason to exist — is exercised end to end.
    */
  private def multilingualDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"), col("source"),
      concat(
        translate(col("text"), "aeos", "äéø§"),
        element_at(
          typedLit(Seq(" Grüße naïve", " 你好世界", " नमस्ते 🌍", " Ωμέγα καλά")),
          (col("doc_id") % 4 + 1).cast("int"))).as("text"))

  /** The per-doc byte-BPE encode digest shared by q226 and its
    * multilingual twin q238 (ONE definition — a digest-construction fix
    * applied to one gate but not the other would silently gate
    * different things): pre-token/byte/piece conservation totals plus
    * md5 of the position-ordered piece sequence.
    */
  private def byteBpeEncodeDigest(
      docs: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame =
    TextAnalysis.byteBpeEncode(docs, merges)
      .withColumn("pstr", array_join(col("pieces"), "\u001f"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_pretoks"),
        sum(length(col("w"))).cast("long").as("n_bytes_sum"),
        sum(col("n_pieces")).as("n_pieces"),
        md5(array_join(
          transform(
            sort_array(collect_list(struct(col("pos"), col("pstr")))),
            x => x.getField("pstr")),
          " ")).as("pieces_digest"))
      .orderBy("doc_id")

  /** The q252/q253 mixed media lake: doc_id % 8 picks the format
    * (sub-64-CHAR docs demote from jpeg and sub-6-char docs from png to
    * the raw bucket — png's raster needs `len/6 ≥ 1`, so without the
    * demotion a 5-byte doc would crash the encoder while the oracle
    * emitted kind='png'; ADVICE r17. Char thresholds are crash-safe
    * even off-ASCII since UTF-8 bytes ≥ chars, and the oracle replays
    * the same char-length rule), landed to a temp parquet dir before
    * routing. Landing is load-bearing, not just realistic: the router
    * makes eight filtered passes over its input, which over a parquet
    * scan is eight pushdown scans but over the in-plan 8-builder union
    * would re-plan and re-execute all 64 synthesizer subtrees (measured
    * 93 s vs 3.4 s at sf0.1, ISO_r17). The staged path is cached per
    * (session, dir) — q252/q253/q254 share ONE landing instead of
    * staging three full media-lake copies per gate pass (ADVICE r17) —
    * and registered for JVM-exit deletion.
    */
  // WeakHashMap keyed on the SESSION OBJECT (identity equals), not its
  // identity hash (ADVICE r18: identity hashes can be reused after a
  // session is GC'd, silently serving a dead session's staged paths).
  // The inner map keys on `dir`, which the gate contract holds immutable
  // for a JVM lifetime (driver-generated testdata is never regenerated
  // in-place mid-sweep).
  private val stagedMediaCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, String]]())

  private def stagedPathFor(s: SparkSession, dir: String)(land: => String): String =
    stagedMediaCache.synchronized {
      stagedMediaCache.computeIfAbsent(
        s, _ => new java.util.concurrent.ConcurrentHashMap[String, String]())
    }.computeIfAbsent(dir, _ => land)

  // ONE JVM shutdown hook over a concurrent registry of paths (ADVICE
  // r18: a hook per call accumulates Thread objects for the JVM
  // lifetime over a min-of-3 sweep of the media/streaming gates).
  private val exitCleanupPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val exitCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      exitCleanupPaths.forEach { p =>
        if (Files.exists(p)) {
          val walk = Files.walk(p)
          try walk.sorted(Comparator.reverseOrder[Path]())
            .forEach(f => Files.deleteIfExists(f))
          finally walk.close()
        }
      }
    }))

  /** Create a temp dir deleted recursively at JVM exit — bounded use
    * only (one per cached media staging / streaming checkpoint family),
    * so the registry stays O(gate entries), never O(rows).
    */
  private[graft] def exitCleanedTempDir(prefix: String): String = {
    exitCleanupHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    exitCleanupPaths.add(p)
    p.toString
  }

  private def stagedMixedMedia(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedPathFor(s, "clean:" + dir) {
        val path = exitCleanedTempDir("graft_router_media")
        mixedMedia(Tables.documents(s, dir)).write.mode("overwrite").parquet(path)
        path
      }
    s.read.parquet(staged)
  }

  /** The mixed lake's payloads, `(doc_id, payload)`: doc_id % 8 picks
    * the builder (pgm, ppm, wav, bmp, png, jpeg, avi, raw text), and
    * docs too short for a PNG (6 chars) or JPEG (64 chars) raster fall
    * back to the raw bucket.
    */
  private[graft] def mixedMedia(d: DataFrame): DataFrame = {
    val sel = pmod(col("doc_id"), lit(8L))
    val jpegOk = length(col("text")) >= 64
    val pngOk = length(col("text")) >= 6
    def bucket(m: Int) = d.filter(sel === m)
    def pp(df: DataFrame) = df.select(col("doc_id"), col("payload"))
    pp(Multimodal.toPgm(bucket(0)))
      .unionByName(pp(Multimodal.toPpm(bucket(1))))
      .unionByName(pp(Multimodal.toWav(bucket(2))))
      .unionByName(pp(Multimodal.toBmp(bucket(3))))
      .unionByName(pp(Multimodal.toPng(d.filter(sel === 4 && pngOk))))
      .unionByName(pp(Multimodal.toJpeg(d.filter(sel === 5 && jpegOk))))
      .unionByName(pp(Multimodal.toAvi(bucket(6))))
      .unionByName(pp(Multimodal.toMedia(
        d.filter(sel === 7 || (sel === 5 && !jpegOk) || (sel === 4 && !pngOk)))))
  }

  /** q265's TRANSFORMED mixed lake — the clean staged lake pushed
    * through `Multimodal.transformMedia` (resize/resample/video-resize
    * applied, the rest byte-identical) and LANDED like the input lake
    * (same eight-pushdown-scan argument), cached per (session, dir).
    */
  private def transformedMixedMedia(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedPathFor(s, "xform:" + dir) {
        val path = exitCleanedTempDir("graft_router_media_xform")
        Multimodal.transformMedia(s, stagedMixedMedia(s, dir))
          .write.mode("overwrite").parquet(path)
        path
      }
    s.read.parquet(staged)
  }

  /** q276's THUMBNAILED mixed lake — the clean staged lake pushed
    * through `Multimodal.thumbnailMedia` (every decodable raster
    * bilinear-resampled to 24×16, audio to 2 kHz, AVI/raw passthrough)
    * and LANDED like the input lake (the same eight-pushdown-scan
    * argument as q265), cached per (session, dir).
    */
  private def thumbnailedMixedMedia(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedPathFor(s, "thumb:" + dir) {
        val path = exitCleanedTempDir("graft_router_media_thumb")
        Multimodal.thumbnailMedia(s, stagedMixedMedia(s, dir))
          .write.mode("overwrite").parquet(path)
        path
      }
    s.read.parquet(staged)
  }

  /** The q252/q265/q276 router-geometry projection — ONE definition so
    * the clean-lake, transformed-lake and thumbnail gates pin the same
    * decode-derived scalar per kind (`Multimodal.routedGeometry`, read
    * off the media-kind table).
    */
  private[graft] def routerGeometry(routed: DataFrame): DataFrame =
    routed.select(col("doc_id"), col("kind"), Multimodal.routedGeometry.as("geom"))

  /** q253/q254's deterministic transmission damage over the mixed lake:
    * doc_id % 9 == 4 truncates the payload to its first 8 bytes (mod 9
    * is coprime to the mod-8 format selector, so damage hits every
    * bucket).
    */
  private def damagedMixedMedia(s: SparkSession, dir: String): DataFrame =
    stagedMixedMedia(s, dir).select(
      col("doc_id"),
      when(pmod(col("doc_id"), lit(9L)) === 4L, substring(col("payload"), 1, 8))
        .otherwise(col("payload")).as("payload"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // O1 — normalize 3 heterogeneous action streams (SURVEY §2.1).
    "q01_normalize_actions" -> ((s, dir) =>
      TrainingPipeline.normalizeActions(
        EventFixtures.clicks(s, dir),
        EventFixtures.addToCarts(s, dir),
        EventFixtures.orders(s, dir))
        .select(
          col("customer_id"), col("item_id"),
          unix_micros(col("action_time")).as("action_us"), col("action_type"))
        .orderBy("customer_id", "action_us", "item_id", "action_type")),

    // O2 — carousel unnest with position + label (SURVEY §2.1).
    "q02_explode_impressions" -> ((s, dir) =>
      TrainingPipeline.explodeImpressions(EventFixtures.impressions(s, dir))
        .orderBy("dt", "ranking_id", "customer_id", "impression_pos")),

    // O4 — full training-example pipeline (flagship; SURVEY §2.1, §3.1).
    "q03_training_examples" -> ((s, dir) =>
      scalarizeHist(TrainingPipeline.produceTrainingExamples(
        EventFixtures.impressions(s, dir),
        EventFixtures.clicks(s, dir),
        EventFixtures.addToCarts(s, dir),
        EventFixtures.orders(s, dir),
        maxHistory = MaxHist))
        .orderBy("dt", "ranking_id", "customer_id", "impression_pos", "impression_item_id")),

    // O3 — materialized per-(customer, dt) history precompute (SURVEY §2.1).
    "q04_customer_history" -> ((s, dir) => {
      val actions = TrainingPipeline.normalizeActions(
        EventFixtures.clicks(s, dir),
        EventFixtures.addToCarts(s, dir),
        EventFixtures.orders(s, dir))
      val dts = EventFixtures.impressions(s, dir).select("dt").distinct()
      scalarizeHist(TrainingPipeline.customerHistoryBeforeDt(actions, dts, MaxHist))
        .orderBy("customer_id", "dt")
    }),

    // O4 via O3: precomputed-history variant — must agree with q03 exactly.
    "q05_training_examples_precomputed" -> ((s, dir) => {
      val actions = TrainingPipeline.normalizeActions(
        EventFixtures.clicks(s, dir),
        EventFixtures.addToCarts(s, dir),
        EventFixtures.orders(s, dir))
      val imps = EventFixtures.impressions(s, dir)
      val hist = TrainingPipeline.customerHistoryBeforeDt(
        actions, imps.select("dt").distinct(), MaxHist)
      scalarizeHist(TrainingPipeline.produceTrainingExamplesPrecomputed(imps, hist, MaxHist))
        .orderBy("dt", "ranking_id", "customer_id", "impression_pos", "impression_item_id")
    }),

    // O4 at the reference's OWN default depth (max_history = 1000,
    // pipeline.py:118): the gate otherwise runs MaxHist = 8 throughout,
    // so this entry pins the default's SEMANTICS, not just its cost
    // (ISO_r16 measured the cost: 1.10x wall, 2.2x shuffle, padding
    // provably post-exchange). Identical chain, 125x wider pad arrays.
    "q244_training_examples_default" -> ((s, dir) =>
      scalarizeHist(TrainingPipeline.produceTrainingExamples(
        EventFixtures.impressions(s, dir),
        EventFixtures.clicks(s, dir),
        EventFixtures.addToCarts(s, dir),
        EventFixtures.orders(s, dir),
        maxHistory = 1000))
        .orderBy("dt", "ranking_id", "customer_id", "impression_pos", "impression_item_id")),

    // Hash aggregation with exact-decimal measures (TPC-H Q1 shape).
    "q06_pricing_summary" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec("l_quantity")).cast("double").as("sum_qty"),
          sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
          // The product's declared scale is 8 but its true scale is 4
          // (2+2 decimals), so round(4) is lossless — and it keeps the
          // decimal→double conversion's integer significand below 2^53,
          // where DuckDB's int128 path would otherwise double-round and
          // drift 1 ulp from Spark's correctly-rounded BigDecimal cast
          // (bites from sf0.1 up).
          round(sum(dec("l_extendedprice") * (lit(1).cast(DecimalType(18, 4)) - dec("l_discount"))), 4)
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Multi-way join: fact × fact × dim × broadcast dim (TPC-H Q5 shape).
    "q07_revenue_by_nation" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          round(sum(dec("l_extendedprice") * (lit(1).cast(DecimalType(18, 4)) - dec("l_discount"))), 4)
            .cast("double").as("revenue"),
          count_distinct(col("o_orderkey")).as("n_orders"))
        .orderBy("n_name")),

    // Windowed per-group top-K (SURVEY §2.5).
    "q08_top_orders_per_customer" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rnk")
    }),

    // Anti join (left_anti — SURVEY §2.8 gap, now covered).
    "q09_customers_without_orders" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")),

    // Semi join + aggregation.
    "q10_segments_with_orders" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")),

    // Sessionization: gap-based (30 min) via lag + running sum — the batch
    // twin of the streaming session-window operator.
    "q11_sessionize" -> ((s, dir) =>
      batchSessions(s, dir).orderBy("user_id", "session_id")),

    // Multi-key aggregation over the event stream with exact-decimal sum.
    "q12_daily_event_stats" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("day", "event_type")),

    // Text analysis: per-document shape/quality statistics.
    "q13_text_stats" -> ((s, dir) =>
      TextAnalysis.textStats(Tables.documents(s, dir)).orderBy("doc_id")),

    // Text analysis: regex token counting.
    "q14_token_count" -> ((s, dir) =>
      TextAnalysis.tokenCount(Tables.documents(s, dir)).orderBy("doc_id")),

    // Text analysis: stopword-profile language identification.
    "q15_language_id" -> ((s, dir) =>
      TextAnalysis.languageId(Tables.documents(s, dir)).orderBy("doc_id")),

    // Text analysis: min-hash document fingerprint (winnowing primitive).
    "q16_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir)).orderBy("doc_id")),

    // Dedup: exact content-hash duplicate groups.
    "q17_dedup_exact" -> ((s, dir) =>
      Dedup.exactDuplicates(Tables.documents(s, dir)).orderBy("content_hash")),

    // Dedup: MinHash signatures banded for LSH.
    "q18_minhash_bands" -> ((s, dir) =>
      Dedup.minhashBands(Tables.documents(s, dir)).orderBy("doc_id", "band")),

    // Dedup: LSH candidate near-duplicate pairs.
    "q19_lsh_pairs" -> ((s, dir) =>
      Dedup.lshCandidatePairs(Tables.documents(s, dir)).orderBy("doc_a", "doc_b")),

    // Dedup: exact 3-shingle Jaccard over co-shingled pairs.
    "q20_jaccard_pairs" -> ((s, dir) => landedSwept(
      Dedup.jaccardPairs(Tables.documents(s, dir)).orderBy("doc_a", "doc_b"))),

    // Dedup: 64-bit tf-weighted SimHash.
    "q21_simhash" -> ((s, dir) =>
      TextAnalysis.simhash(Tables.documents(s, dir)).orderBy("doc_id")),

    // Similarity: exact top-10 cosine neighbors for the first 10 vectors.
    "q22_knn_bruteforce" -> ((s, dir) =>
      Similarity.knnBruteForce(Tables.embeddings(s, dir)).orderBy("query_id", "rnk")),

    // Similarity: all-pairs cosine near-dup detection (exact baseline).
    "q23_cosine_pairs" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
      Similarity.cosinePairs(Tables.embeddings(s, dir)
          .spreadWide("vec_id"), 0.45))
        .orderBy("vec_a", "vec_b")),

    // Dedup at scale: LSH candidates verified by exact set intersection.
    // Lifecycle bracket + driver landing: pair-bounded answer, signature
    // cache released before return (BASELINE.md sweep-JVM convention).
    "q25_lsh_verified_pairs" -> ((s, dir) =>
      Dedup.withLshVerifiedPairs(Tables.documents(s, dir)) {
        pairs => landed(pairs.orderBy("doc_a", "doc_b"))
      }),

    // Pivot: per-day event-type matrix (conditional aggregation).
    "q26_event_type_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("day")),

    // Rollup with subtotal rows (grouping-set machinery).
    "q27_pricing_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec("l_quantity")).cast("double").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls")),

    // Explode + agg + windowed top-K composition over text.
    "q28_top_words_per_lang" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("w"))
      Tables.documents(s, dir)
        .select(col("lang"), explode(TextAnalysis.wordsCol).as("w"))
        .groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= 5)
        .select(col("lang"), col("rnk"), col("w"), col("cnt"))
        .orderBy("lang", "rnk")
    }),

    // Approximate NN via deterministic sign-LSH buckets (the scale path;
    // q22 is the exact baseline).
    "q29_ann_lsh" -> ((s, dir) =>
      Similarity.annLsh(Tables.embeddings(s, dir)).orderBy("query_id", "rnk")),

    // Set operations (absent from the reference): customers active in both
    // / only the first half of the event month.
    "q32_set_ops" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val firstHalf = ev.filter(dayofmonth(col("ts")) <= 15).select(col("user_id"))
      val secondHalf = ev.filter(dayofmonth(col("ts")) > 15).select(col("user_id"))
      val both = firstHalf.intersect(secondHalf)
        .withColumn("activity", lit("both_halves"))
      val onlyFirst = firstHalf.except(secondHalf)
        .withColumn("activity", lit("first_half_only"))
      both.unionByName(onlyFirst).orderBy("activity", "user_id")
    }),

    // Full cube over the pricing keys (all grouping-set combinations).
    "q33_pricing_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec("l_quantity")).cast("double").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls")),

    // Exact interpolated quantiles (identical linear-interpolation formula
    // over the same sorted doubles in both engines → bit-equal).
    "q34_order_quantiles" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(o_totalprice, 0.5D)").as("median_price"),
          expr("percentile(o_totalprice, 0.25D)").as("q1_price"),
          expr("percentile(o_totalprice, 0.75D)").as("q3_price"))
        .orderBy("o_orderpriority")),

    // Curation: training context-window chunking (overlapping strides).
    "q35_chunk_tokens" -> ((s, dir) =>
      Curation.chunkTokens(Tables.documents(s, dir), chunkSize = 64, stride = 48)
        .orderBy("doc_id", "chunk_id")),

    // Curation: per-source document quota (bounded windowed top-N).
    "q36_source_quota" -> ((s, dir) =>
      Curation.sourceQuota(Tables.documents(s, dir), maxPerSource = 50)
        .orderBy("source", "rnk")),

    // Curation: deterministic hash-based train/val/test assignment.
    "q37_hash_split" -> ((s, dir) =>
      Curation.hashSplit(Tables.documents(s, dir)).orderBy("doc_id")),

    // Curation: duplicate groups over normalized text (case/punct-blind).
    "q38_normalized_dedup" -> ((s, dir) =>
      Curation.normalizedDuplicates(Tables.documents(s, dir))
        .withColumn("members", concat_ws(",", col("members").cast("array<string>")))
        .orderBy("content_hash")),

    // Similarity: IVF coarse-quantizer search (second ANN scale path;
    // q22 exact / q29 LSH are its baselines).
    "q39_ivf_search" -> ((s, dir) =>
      Similarity.ivfSearch(Tables.embeddings(s, dir)).orderBy("query_id", "rnk")),

    // Graph-based ANN (the DiskANN/HNSW family — the last ANN shape
    // missing next to brute/LSH/IVF/PQ): beam search over a bounded-
    // degree kNN graph from a deterministic entry point; per hop one
    // frontier⋈edges join + a bounded beam window. The graph is BUILT
    // from the multi-probe sign-LSH shortlist (deterministic, so the
    // oracle replays the build AND every hop; the n² exact build is the
    // differential-spec arm only — no all-pairs join in this plan).
    "q235_graph_ann" -> ((s, dir) =>
      Similarity.graphAnnSearch(Tables.embeddings(s, dir))
        .orderBy("query_id", "rnk")),

    // Curation: concat-split sequence packing into fixed token budgets.
    "q40_pack_sequences" -> ((s, dir) =>
      Curation.packSequences(Tables.documents(s, dir)).orderBy("doc_id")),

    // Text analysis: n-gram repetition scoring (Gopher-style signal).
    "q41_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(Tables.documents(s, dir)).orderBy("doc_id")),

    // Curation: incremental dedup of a "new snapshot" (doc_id >= 250)
    // against the already-kept reference corpus (doc_id < 250).
    "q42_dedup_against" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.dedupAgainst(
        docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250))
        .select("doc_id", "content_hash")
        .orderBy("doc_id")
    }),

    // Curation: deterministic per-source stratified sampling.
    "q43_stratified_sample" -> ((s, dir) =>
      Curation.stratifiedSample(Tables.documents(s, dir), pct = 10)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // Dedup: incremental NEAR-dup dedup of a new snapshot against the kept
    // corpus's MinHash signature+digest index (catches the planted
    // jaccard≈0.98 rewordings that the exact-digest q42 keeps). LSH bands
    // generate candidates; each candidate verifies by EXACT jaccard over
    // the 60-bit shingle-digest sets carried in the index — deterministic
    // at the threshold, unlike 8-hash signature agreement (⅛-quantized).
    // Gate entry uses the lifecycle bracket + driver landing: the
    // survivor set is snapshot-bounded, and the signature index the call
    // persists is released before the frame is handed back — so a
    // min-of-3 sweep never stacks three session-lifetime caches
    // (VERDICT r17 `weak`).
    "q44_near_dedup_against" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.withNearDupAgainst(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250)) {
        surv => landed(surv.orderBy("doc_id"))
      }
    }),

    // Quantile binning: per-order-priority quartile cutoffs of the order
    // value (percentile is bit-identical to DuckDB quantile_cont), then
    // each order labeled with its bin — the discretization staple.
    "q57_quantile_binning" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val cuts = orders.groupBy(col("o_orderpriority"))
        .agg(
          expr("percentile(o_totalprice, 0.25)").as("p25"),
          expr("percentile(o_totalprice, 0.50)").as("p50"),
          expr("percentile(o_totalprice, 0.75)").as("p75"))
      orders.join(broadcast(cuts), Seq("o_orderpriority"))
        .select(
          col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          when(col("o_totalprice") <= col("p25"), 1)
            .when(col("o_totalprice") <= col("p50"), 2)
            .when(col("o_totalprice") <= col("p75"), 3)
            .otherwise(4).as("bin"))
        .orderBy("o_orderpriority", "o_orderkey")
    }),

    // Unpivot/melt: wide per-lineitem measure columns reshaped to long
    // (measure, value) rows via Dataset.unpivot — the transpose feeding
    // per-measure profiling. Decimal→double casts are single
    // correctly-rounded ops on sub-2^53 significands.
    "q58_unpivot" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") < 1000)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("quantity"),
          col("l_extendedprice").cast("double").as("extendedprice"),
          col("l_discount").cast("double").as("discount"),
          col("l_tax").cast("double").as("tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
          "measure", "value")
        .orderBy("l_orderkey", "l_linenumber", "measure")),

    // Text: subword (BPE-bound) token-budget estimate per document.
    "q59_subword_budget" -> ((s, dir) =>
      TextAnalysis.subwordBudget(Tables.documents(s, dir)).orderBy("doc_id")),

    // Time series: zero-filled dense daily counts per event type.
    "q60_gap_fill" -> ((s, dir) =>
      Timeseries.gapFill(Tables.events(s, dir)).orderBy("event_type", "epoch_day")),

    // Stats: per-language exact moments — mean/variance/stddev derived
    // from exact integer sufficient statistics (engine-bit-identical,
    // unlike avg/var_pop's order-dependent double folds).
    "q61_exact_moments" -> ((s, dir) =>
      Stats.exactMoments(Tables.documents(s, dir), col("lang"), col("n_chars"))
        .withColumnRenamed("grp", "lang")
        .orderBy("lang")),

    // Curation: Gopher-style multi-rule quality filter with per-rule
    // verdicts and a rejection audit trail.
    "q62_quality_filter" -> ((s, dir) =>
      TextAnalysis.qualityFilter(Tables.documents(s, dir)).orderBy("doc_id")),

    // Text: corpus bigram language model P(w2 | w1).
    "q63_bigram_model" -> ((s, dir) =>
      TextAnalysis.bigramModel(Tables.documents(s, dir)).orderBy("w1", "w2")),

    // Time series: cohort retention triangle (first-seen day × offset).
    "q64_cohort_retention" -> ((s, dir) =>
      Timeseries.cohortRetention(Tables.events(s, dir))
        .orderBy("cohort_day", "day_offset")),

    // Stats: equi-width histogram (complements q57's equi-depth binning).
    "q65_equiwidth_histogram" -> ((s, dir) =>
      Stats.equiWidthHistogram(Tables.documents(s, dir), col("n_chars"))
        .orderBy("bin")),

    // Similarity: incremental embedding near-dup admission — each snapshot
    // vector multi-probes the kept corpus's sign-LSH index, survivors
    // verified with the exact quantized cosine, best kept match reported.
    "q66_embed_near_dup_against" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.embedNearDupAgainst(
        emb.filter(col("vec_id") < 250), emb.filter(col("vec_id") >= 250),
        minCosine = 0.2)
        .orderBy("vec_id")
    }),

    // Curation: changelog/CDC compaction — the latest event per user under
    // a total (ts desc, event_id desc) order, i.e. upsert materialization.
    "q67_latest_snapshot" -> ((s, dir) =>
      Curation.latestSnapshot(
        Tables.events(s, dir),
        Seq(col("user_id")),
        Seq(col("ts").desc, col("event_id").desc))
        .select(
          col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_id"),
          col("event_type"),
          col("value"))
        .orderBy("user_id")),

    // Dedup: benchmark-contamination scan — corpus docs sharing ≥2
    // distinct 3-gram shingles with any doc of a held-out eval set
    // (doc_id < 50 — eval sets stay small at every corpus scale, which
    // is exactly what makes the broadcast side broadcastable).
    "q68_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.benchmarkContamination(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50))
        .orderBy("doc_id", "bench_id")
    }),

    // The reference domain and the curation stack composed in ONE plan
    // (they shared a repo but never a query): q03's training examples
    // flow through q68's benchmark-contamination scan — each impressed
    // item maps to its landing-page document (id mod |documents|, the
    // fixture's item→doc link), and per (dt, label) the gate counts
    // examples, contaminated examples, and the real history length
    // (non-pad action_types) carried by the contaminated ones. The
    // contaminated doc set is eval-set-bounded by construction, hence
    // broadcast; everything upstream keeps its own gate-audited shape.
    "q246_contaminated_examples" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val contam = Dedup.benchmarkContamination(
          docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50))
        .select(col("doc_id")).distinct()
        .withColumn("contam", lit(true))
      val nDocs = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1L // one scalar
      val ex = TrainingPipeline.produceTrainingExamples(
        EventFixtures.impressions(s, dir),
        EventFixtures.clicks(s, dir),
        EventFixtures.addToCarts(s, dir),
        EventFixtures.orders(s, dir),
        maxHistory = MaxHist)
      ex.select(
          col("dt"), col("label"),
          pmod(col("impression_item_id"), lit(nDocs)).as("doc_id"),
          size(filter(col("action_types"), x => x =!= 0)).cast("long").as("hist_len"))
        .join(broadcast(contam), Seq("doc_id"), "left_outer")
        .groupBy(col("dt"), col("label"))
        .agg(
          count(lit(1)).as("n_examples"),
          sum(when(col("contam"), 1L).otherwise(0L)).as("n_contaminated"),
          sum(when(col("contam"), col("hist_len")).otherwise(0L)).as("contaminated_hist_len"))
        .orderBy("dt", "label")
    }),

    // Text: tokenizer vocabulary — top-1000 corpus tokens with ≥2
    // occurrences, contiguous ids in (frequency desc, token) order.
    "q69_vocabulary" -> ((s, dir) =>
      TextAnalysis.vocabulary(Tables.documents(s, dir))
        .orderBy("token_id")),

    // Embeddings: per-dimension standardization (exact-moment z-scores).
    "q70_standardize" -> ((s, dir) =>
      Similarity.standardize(Tables.embeddings(s, dir))
        .orderBy("vec_id", "dim")),

    // Stats: per-priority winsorization of order values at [p05, p95] —
    // quantile cutoffs are engine-bit-identical, the clip is comparison-only.
    "q71_winsorize" -> ((s, dir) =>
      Stats.winsorize(
        Tables.orders(s, dir),
        col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("grp", "id")),

    // Robust median/MAD outlier detection (Hampel's rule): the
    // heavy-tail-safe gate next to q94's mean/stddev z-scores — one
    // extreme order can inflate a stddev enough to hide itself; the
    // MAD's 50% breakdown point cannot be bought off that way.
    "q176_robust_outliers" -> ((s, dir) =>
      Stats.robustOutliers(
        Tables.orders(s, dir),
        col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("grp", "id")),

    // Time series: per-user consecutive event-type transitions (funnel /
    // Markov-chain matrix) under a deterministic (ts, event_id) order.
    "q72_transition_matrix" -> ((s, dir) =>
      Timeseries.transitionMatrix(Tables.events(s, dir))
        .orderBy("from_type", "to_type")),

    // Text: PII scrubbing with a redaction audit trail.
    "q73_redact_pii" -> ((s, dir) =>
      TextAnalysis.redactPii(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // Curation: budget-constrained waterfill mix — small sources taken
    // whole, the rest share an integer per-source cap.
    "q74_mixture_allocation" -> ((s, dir) =>
      Curation.mixtureAllocation(
        Tables.documents(s, dir), col("source"), col("n_chars"), budget = 60000L)
        .orderBy("grp")),

    // Embeddings: per-dimension scalar int8 quantization codes +
    // reconstruction — all-integer affine map over the observed span.
    "q75_quantize_int8" -> ((s, dir) =>
      Similarity.scalarQuantizeInt8(Tables.embeddings(s, dir))
        .orderBy("vec_id", "dim")),

    // Sketch: deterministic HyperLogLog distinct users per event type
    // (register table is duplicate-invariant — no distinct pre-shuffle,
    // unlike q52's KMV; the two estimates cross-check each other).
    "q76_hll_distinct" -> ((s, dir) =>
      graft.functions.Sketches.hllDistinct(Tables.events(s, dir), "event_type", "user_id")
        .orderBy("event_type")),

    // Stats: exact Pearson correlation + population covariance of order
    // quantity vs price cents per return flag (engine-bit-identical,
    // unlike corr()'s partition-order double fold).
    "q77_exact_correlation" -> ((s, dir) =>
      graft.functions.Stats.exactCorrelation(
        Tables.lineitem(s, dir),
        col("l_returnflag"),
        col("l_quantity"),
        round(col("l_extendedprice") * 100, 0))
        .orderBy("grp")),

    // Sketch: per-source 124-bit Bloom filter over content digests +
    // membership probe of a 20-doc query set against every filter. The
    // operator's capacity is parameterized (sparse word build); the
    // default 124 bits = 2 words project to the oracle's w0/w1 columns.
    "q78_bloom_membership" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.functions.Sketches.bloomMembership(
        docs, "source", "text",
        docs.filter(col("doc_id") < 20).select(col("text").as("probe")))
        .select(
          col("grp"), col("n_keys"),
          element_at(col("words"), 1).as("w0"),
          element_at(col("words"), 2).as("w1"),
          col("bits_set"), col("n_probe_hits"))
        .orderBy("grp")
    }),

    // Daily ingest-volume anomaly monitor: per-type exact-moment z-scores
    // over the (type, day) count series.
    "q94_daily_anomalies" -> ((s, dir) =>
      Timeseries.dailyAnomalies(Tables.events(s, dir))
        .orderBy("event_type", "epoch_day")),

    // Z-order (Morton) layout audit: rows bucketed into equal-count
    // files in interleaved-bit order, per-file min/max bounding boxes on
    // BOTH dimensions — the data-skipping statistics a scan prunes
    // against; tight two-axis boxes are the OPTIMIZE ZORDER win.
    "q187_zorder_layout" -> ((s, dir) => landedSwept(
      graft.sources.Sinks.zOrderLayoutStats(
        Tables.lineitem(s, dir) // 1-file scan spread (q279 note)
          .spreadWide("l_orderkey"),
        col("l_partkey"), col("l_suppkey"))
        .orderBy("bucket"))),

    // 3-column Z-order layout audit — `OPTIMIZE ZORDER BY (a, b, c)` is
    // routinely 3-4 columns: the same equal-count bucket machinery as
    // q187 over the 3-D Morton key (bit i of dim j at position 3i+j),
    // per-file min/max boxes on ALL THREE clustering dimensions.
    "q224_zorder3_layout" -> ((s, dir) => landedSwept(
      graft.sources.Sinks.zOrderLayoutStatsN(
        Tables.lineitem(s, dir) // 1-file scan spread (q279 note)
          .spreadWide("l_orderkey"),
        Seq(col("l_partkey"), col("l_suppkey"), col("l_orderkey")))
        .orderBy("bucket"))),

    // 3-D HILBERT layout audit over the same clustering columns —
    // Skilling's transpose walk (the d>2 continuous linearization);
    // file-for-file comparable with q224 the way q191 is with q187.
    "q232_hilbert3_layout" -> ((s, dir) => landedSwept(
      graft.sources.Sinks.hilbertLayoutStatsN(
        Tables.lineitem(s, dir) // 1-file scan spread (q279 note)
          .spreadWide("l_orderkey"),
        Seq(col("l_partkey"), col("l_suppkey"), col("l_orderkey")))
        .orderBy("bucket"))),

    // Rolling distinct active users (the WAU curve): per-user interval
    // merge + sweep-line deltas + one days-sized running sum — rolling
    // COUNT(DISTINCT) with no distinct state anywhere; the naive
    // day-grid count-distinct oracle proves the sweep exact.
    "q206_rolling_active_users" -> ((s, dir) =>
      Timeseries.rollingActiveUsers(Tables.events(s, dir)).orderBy("day")),

    // Content-defined chunking (token-level FastCDC): boundaries where
    // the word digest ≡ 0 mod 8 — variable chunks that survive offset
    // shifts; the cross-doc duplicate-chunk inventory, text never
    // shuffling (all per-doc array lambdas + one digest aggregate).
    "q210_cdc_chunk_dups" -> ((s, dir) =>
      Dedup.chunkDuplicates(Tables.documents(s, dir)).orderBy("dig")),

    // Luhn checksum validation over synthesized 16-digit candidates
    // (the corpus carries no digit runs, so the candidates derive
    // deterministically from doc_id — both engines replay the same
    // arithmetic): the redactPii precision upgrade separating card-like
    // identifiers from innocuous serials, all codegen'd higher-order
    // functions, no UDF.
    "q209_luhn_validate" -> ((s, dir) =>
      TextAnalysis.luhnCheck(
        Tables.documents(s, dir).select(
          col("doc_id"),
          concat(
            lpad(pmod(col("doc_id") * 48271L + 11L, lit(100000000L)).cast("string"), 8, "0"),
            lpad(pmod(col("doc_id") * 69621L + 17L, lit(100000000L)).cast("string"), 8, "0"))
            .as("cand")),
        col("doc_id"), col("cand"))
        .orderBy("id")),

    // Cross-source quantile normalization: every source's n_chars
    // distribution mapped onto the global order statistics (within-
    // source rank → ceil(r·N/n_s) global rank) — all-integer, the gini
    // distributed-rank idiom for the global table, never a single-
    // partition global row_number.
    "q208_quantile_normalize" -> ((s, dir) =>
      graft.functions.Stats.quantileNormalize(
        Tables.documents(s, dir), col("source"), col("doc_id"), col("n_chars"))
        .orderBy("id")),

    // Multi-phrase positional search: mine the top word bigrams and
    // trigrams, then find every occurrence via the align-on-(pos - i)
    // broadcast join — the inverted-index phrase query (count(*) = plen
    // at a start ⟺ full match; overlap-counting).
    "q205_phrase_search" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val phrases = TextAnalysis.topNgrams(docs, 2, 3)
        .unionByName(TextAnalysis.topNgrams(docs, 3, 3))
        .select("phrase")
      TextAnalysis.phraseSearch(docs, phrases).orderBy("phrase", "doc_id")
    }),

    // Spelling-variant pairs over the corpus vocabulary: SymSpell
    // deletion-neighborhood blocking (ed ≤ 2 pairs ALWAYS share a
    // ≤2-deletion key), one equi-join on exploded keys, levenshtein
    // verify, emitted once by the least shared key. The brute-force
    // all-pairs oracle proves the blocking lossless and dup-free.
    "q203_spelling_variants" -> ((s, dir) =>
      Dedup.editDistancePairs(
        TextAnalysis.tokenize(Tables.documents(s, dir)).select("w").distinct())
        .orderBy("wa", "wb")),

    // Spelling canonicalization map: connected components over the q203
    // variant graph (pointer-doubling min-label propagation), every
    // variant-linked word labeled with its component's least word — the
    // normalization table a fuzzy-join pipeline applies before exact
    // grouping.
    "q204_spelling_canonicalize" -> ((s, dir) => landedSwept(
      Dedup.dedupClusters(
        Dedup.editDistancePairs(
          TextAnalysis.tokenize(Tables.documents(s, dir)).select("w").distinct())
          .select(col("wa").as("doc_a"), col("wb").as("doc_b")))
        .select(
          col("doc_id").as("w"), col("canonical_id").as("canonical_w"),
          col("cluster_size"), col("is_canonical"))
        .orderBy("w"))),

    // Lagged cross-correlation of the click and purchase daily series:
    // exact integer Pearson pieces per lag 0..7 — sign, r² in ppm —
    // the "what lead time does engagement predict conversion at?"
    // analytics next to q158's CUSUM and q179's seasonality.
    "q202_lag_correlation" -> ((s, dir) =>
      Timeseries.lagCorrelation(Tables.events(s, dir)).orderBy("lag")),

    // Hamming near-dup pairs over the q200 dHashes: banded pigeonhole
    // join (maxDist+1 equal-share bands — a pair within 6 bits agrees
    // exactly on some band), XOR-popcount verify, each pair emitted
    // once by its lowest agreeing band. The brute-force all-pairs
    // oracle's hash match proves the banding lossless AND dup-free.
    "q201_dhash_pairs" -> ((s, dir) => landedSwept({
      // The banded self-join reads its input TWICE (both sides of the
      // pair join, alias-renamed — no exchange reuse), so the heavy PGM
      // encode+decode chain executed twice; one |docs|-row persist
      // (doc_id, n, dhash) feeds both sides (r21). landedSwept releases.
      val hashes = Multimodal.pgmDHash(s,
          Multimodal.toPgm(Tables.documents(s, dir)
            .spreadWide("doc_id"))).toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.hammingNearDupPairs(hashes).orderBy("ida", "idb")
    })),

    // Perceptual dHash over the REAL binary-PGM decode: segment-mean
    // difference bits compared by exact cross-multiplication — the
    // image-side near-dup fingerprint that survives brightness shifts,
    // ready for the Hamming dedup machinery (q21/q138).
    "q200_image_dhash" -> ((s, dir) =>
      Multimodal.pgmDHash(s, Multimodal.toPgm(Tables.documents(s, dir)))
        .toDF().orderBy("doc_id")),

    // Vocabulary-growth (Heaps-law) curve: per doc-decile, cumulative
    // tokens vs cumulative distinct word types — the "is more data still
    // teaching new vocabulary?" corpus-health curve; a type's decile is
    // its FIRST document's, so the cumulative distincts are one exact
    // min-bucket aggregate, never distinct-over-prefix re-scans.
    // landedSwept: the operator persists its per-doc rank table for the
    // distributed prefix-count (r21 global-window fix); the bounded
    // (≤ buckets rows) answer lands and the cache releases here.
    "q199_vocabulary_growth" -> ((s, dir) => landedSwept(
      TextAnalysis.vocabularyGrowth(Tables.documents(s, dir))
        .orderBy("bucket"))),

    // KMV set-overlap audit: how much of the part-key dimension does the
    // fact table touch, estimated from two 256-row sketches instead of a
    // full distinct join — exact-integer Jaccard ppm plus the KMV union/
    // intersection estimates (the broadcast-decision numbers).
    "q198_kmv_overlap" -> ((s, dir) =>
      graft.functions.Sketches.kmvOverlap(
        Tables.lineitem(s, dir).select(col("l_partkey").as("key")),
        Tables.part(s, dir).select(col("p_partkey").as("key")),
        "key").orderBy("k_union")),

    // Embedding drift between two corpus halves (even vs odd vec_ids as
    // stand-in versions): per-dimension exact counts/sums + the integer
    // mean-shift numerator — the encoder-moved / stale-ANN-index audit,
    // q88's drift idea on the embedding side.
    "q197_embedding_drift" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.embeddingDrift(
        e.filter(pmod(col("vec_id"), lit(2L)) === 0L),
        e.filter(pmod(col("vec_id"), lit(2L)) === 1L))
        .orderBy("k")
    }),

    // Tokenizer-family scorecard: BPE vs unigram-LM vs WordPiece, all
    // trained on the SAME corpus, compared on the numbers users actually
    // pick tokenizers by — corpus compression (chars per piece, exact
    // ppm) and vocabulary utilization (distinct pieces actually used).
    // One row per family.
    "q196_tokenizer_scorecard" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bpe = TextAnalysis.bpeEncodeWords(
        docs, TextAnalysis.bpeTrainMerges(docs, numMerges = bpeOracleMerges))
      val uni = TextAnalysis.unigramEncodeWords(
        docs, TextAnalysis.unigramTrainVocab(docs))
      val wpMerges = TextAnalysis.wordpieceTrainMerges(docs, numMerges = bpeOracleMerges)
      val wp = TextAnalysis.wordpieceEncodeWords(
        docs, TextAnalysis.wordpieceVocab(docs, wpMerges))
      val bb = TextAnalysis.byteBpeEncode(
        docs, TextAnalysis.byteBpeTrainMerges(docs, numMerges = bpeOracleMerges))
      TextAnalysis.tokenizerScorecard(bpe, "bpe")
        .unionByName(TextAnalysis.tokenizerScorecard(uni, "unigram"))
        .unionByName(TextAnalysis.tokenizerScorecard(wp, "wordpiece"))
        .unionByName(TextAnalysis.tokenizerScorecard(bb, "byte_bpe"))
        .orderBy("family")
    }),

    // Mean-reciprocal-rank inputs on the shared retrieval run: the
    // known-item "how deep is the first same-label hit?" eval next to
    // q167's AP and q166's NDCG — first relevant rank + exact-ppm
    // reciprocal, 0 when the top-10 has no hit.
    "q195_reciprocal_rank" -> ((s, dir) => {
      val lab = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
      val runs = Similarity.knnBruteForce(Tables.embeddings(s, dir))
        .join(lab.select(col("vec_id").as("query_id"), col("label").as("ql")), Seq("query_id"))
        .join(lab.select(col("vec_id").as("neighbor_id"), col("label").as("nl")), Seq("neighbor_id"))
        .select(
          col("query_id"), col("rnk"),
          when(col("ql") === col("nl"), 1L).otherwise(0L).as("rel"))
      Stats.reciprocalRank(runs, 10).orderBy("query_id")
    }),

    // Top principal component by deterministic integer power iteration
    // on the exact scaled covariance (driver-side on the collected
    // d(d+1)/2 Gram stats — the Lloyd bounded-collect class), then
    // every vector's exact BIGINT projection + the n-scaled centered
    // projection as one narrow literal-compiled scan.
    "q194_top_principal_component" -> ((s, dir) =>
      Similarity.topPrincipalComponent(Tables.embeddings(s, dir))
        .orderBy("vec_id")),

    // Pareto frontier of the corpus cost/value tradeoff: the documents
    // no other document beats on BOTH compute cost (n_chars, lower
    // better) and lexical richness (distinct words, higher better) —
    // the non-dominated set a budgeted curation pass picks from. Grid
    // prune + exact skyline; the brute-force dominance oracle's hash
    // match proves the prune lossless.
    "q193_pareto_frontier" -> ((s, dir) =>
      Curation.paretoFrontier(
        TextAnalysis.textStats(Tables.documents(s, dir)),
        col("doc_id"), col("n_chars"), col("n_distinct_words"))
        .orderBy("c", "v", "id")),

    // Mann-Whitney rank-sum test of document length, each source vs the
    // rest of the pool: the distribution-free "did this source shift
    // the length distribution?" check — exact doubled-U/delta/CLES and
    // the tie-corrected squared z in micro-units, one pooled ranking
    // serving every source's comparison.
    "q192_rank_sum_test" -> ((s, dir) =>
      Stats.rankSumTest(Tables.documents(s, dir), col("source"), col("n_chars"))
        .orderBy("grp")),

    // Hilbert-curve layout audit over the same (l_partkey, l_suppkey)
    // plane as q187's Z-order: the continuous linearization — every
    // consecutive index step is Manhattan-adjacent, so equal-count file
    // buckets avoid Z's quadrant-seam jumps. Same bucket machinery and
    // schema, file-for-file comparable.
    "q191_hilbert_layout" -> ((s, dir) => landedSwept(
      graft.sources.Sinks.hilbertLayoutStats(
        Tables.lineitem(s, dir) // 1-file scan spread (q279 note)
          .spreadWide("l_orderkey"),
        col("l_partkey"), col("l_suppkey"))
        .orderBy("bucket"))),

    // χ² feature selection against the quality label: the top-50 tokens
    // whose PRESENCE carries keep/drop signal, with direction — the
    // selection pass in front of q152's learned linear scorer.
    "q190_chi_square_terms" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val labels = TextAnalysis.qualityFilter(docs)
        .select(col("doc_id"), col("keep").as("y"))
      TextAnalysis.chiSquareTerms(docs, labels)
    }),

    // Sequential pattern mining over 30-min event sessions: directed
    // event-type pairs a → b (a strictly before b in the session) with
    // exact-ppm support and confidence — the ordered complement of
    // q171's basket co-occurrence.
    "q189_sequential_pairs" -> ((s, dir) =>
      Association.sequentialPairs(Tables.events(s, dir))
        .orderBy("ante", "cons")),

    // HITS hubs & authorities over the customer → part purchase
    // bipartite graph (orders ⋈ lineitem): integer-exact
    // mutual-reinforcement scores — which customers buy
    // well-endorsed parts, which parts are bought by broad buyers.
    "q188_hits" -> ((s, dir) => landedSwept({
      val edges = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
      Graphs.hits(edges).orderBy("kind", "id")
    })),

    // Incremental aggregate maintenance (IVM): a per-source (count,
    // chars) dashboard updated from an insert/delete change feed — one
    // delta aggregate + one state join, the corpus read zero times; the
    // oracle recomputes from scratch, so the hash match proves
    // delta-merge = full recompute.
    "q186_maintain_aggregate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0L)
      val state = base.groupBy(col("source").as("grp"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_x"))
      val changes = docs.filter(pmod(col("doc_id"), lit(7L)) === 0L)
        .select(col("source").as("grp"), col("n_chars").as("x"), lit("insert").as("op"))
        .unionByName(base.filter(pmod(col("doc_id"), lit(3L)) === 0L)
          .select(col("source").as("grp"), col("n_chars").as("x"), lit("delete").as("op")))
      Curation.maintainAggregate(state, changes).orderBy("grp")
    }),

    // Per-source Gini of document lengths: the inequality summary a
    // mixing recipe checks before trusting per-source averages; ranks
    // via the distributed range-partition prefix count, never a global
    // sort.
    "q185_gini" -> ((s, dir) =>
      Stats.giniCoefficient(
        Tables.documents(s, dir), col("source"), col("n_chars"))
        .orderBy("grp")),

    // Per-type ingest trend: OLS slope/intercept/r2 of daily counts vs
    // day, from exact DECIMAL sufficient statistics — the trend leg of
    // the stats family (moments, correlation, regression).
    "q184_group_regression" -> ((s, dir) =>
      Stats.groupLinearRegression(
        Timeseries.gapFill(Tables.events(s, dir)),
        col("event_type"), col("epoch_day"), col("n"))
        .orderBy("grp")),

    // Seasonality-adjusted anomalies: per-(type, day-of-week) median
    // baselines + robust MAD threshold on the residuals — the weekly
    // dip that happens EVERY week is a pattern, not an incident.
    "q179_seasonal_residuals" -> ((s, dir) =>
      Timeseries.seasonalResiduals(Tables.events(s, dir))
        .orderBy("event_type", "epoch_day")),

    // Per-source curation funnel: where each source's documents went
    // through the q89 pipeline, plus boilerplate volume and split mix.
    // Lifecycle bracket + driver landing: |sources|-bounded answer, the
    // q89 cleaned-table cache released before return.
    "q99_curation_funnel" -> ((s, dir) =>
      Curation.withCurationFunnel(Tables.documents(s, dir)) {
        funnel => landed(funnel.orderBy("source"))
      }),

    // Deterministic uniform k-sample per source (reservoir-equivalent):
    // salted-md5 rank, exactly min(k, |group|) rows, engine-reproducible.
    "q97_uniform_sample" -> ((s, dir) =>
      Curation.uniformSamplePerGroup(
        Tables.documents(s, dir), col("source"), col("doc_id"), k = 10)
        .select(col("source"), col("sample_rnk"), col("doc_id"), col("n_chars"))
        .orderBy("source", "sample_rnk")),

    // Graded decontamination: per-doc fraction of distinct 3-shingles
    // present anywhere in the reference slice (docs < 50 stand in for an
    // eval set; the threshold decision is the caller's).
    "q98_shingle_coverage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.shingleCoverage(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50))
        .orderBy("doc_id")
    }),

    // Full BPE training, end-to-end oracle-gated: the learned merge table
    // itself (rank, pair, selection-time weighted count). The DuckDB side
    // REPLAYS the training — per-round argmax + greedy left-to-right merge
    // application via the doubled-separator replace trick — so any drift
    // in pair counting, tie order, or merge application hash-fails.
    "q95_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.bpeTrainMerges(Tables.documents(s, dir), numMerges = bpeOracleMerges)
        .toDF("rank", "c1", "c2", "cnt")
        .orderBy("rank")
    }),

    // BYTE-level BPE training (the GPT-2/tiktoken construction): regex
    // pre-tokenization, the bytes_to_unicode alphabet (space -> Ġ), then
    // the same replayed greedy merge loop — the tokenizer family's
    // byte-fallback member, no [UNK] by construction. The oracle replays
    // pre-tokenization + remap + every training round in SQL.
    "q225_byte_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.byteBpeTrainMerges(Tables.documents(s, dir), numMerges = bpeOracleMerges)
        .toDF("rank", "c1", "c2", "cnt")
        .orderBy("rank")
    }),

    // Per-SOURCE tokenizer fertility — the fairness cut of q196's
    // corpus-level scorecard (the multilingual-equity metric applied to
    // the corpus's source axis): a tokenizer that compresses one
    // source's text far worse than another's taxes that source's
    // context budget. Exact integers: pre-tokens, bytes, pieces, and
    // pieces-per-pretoken in exact ppm, per source.
    "q236_fertility_by_source" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextAnalysis.byteBpeTrainMerges(docs, numMerges = bpeOracleMerges)
      TextAnalysis.byteBpeEncode(docs, merges)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_pretoks"),
          sum(length(col("w"))).cast("long").as("n_bytes"),
          sum(col("n_pieces")).as("n_pieces"),
          expr("(1000000 * sum(n_pieces)) div count(1)").as("fertility_ppm"))
        .orderBy("source")
    }),

    // Byte-fallback losslessness, gated end to end: detokenize(encode(
    // text)) must equal the original text byte for byte — pieces
    // concatenate to pre-tokens, pre-tokens partition the document, and
    // ByteUnmap inverts the GPT-2 byte table exactly. The oracle hashes
    // the ORIGINAL text; the engine hashes its full-chain rebuild.
    "q230_byte_bpe_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextAnalysis.byteBpeTrainMerges(docs, numMerges = bpeOracleMerges)
      TextAnalysis.byteBpeRoundTrip(docs, merges).orderBy("doc_id")
    }),

    // Byte-fallback on REAL multibyte UTF-8 (the r15 verdict's gate gap):
    // the deterministic multilingual rewrite of the corpus (1- to 4-byte
    // codepoint classes), full train → encode → detokenize, md5 of the
    // rebuilt text vs the oracle's md5 of the rewritten original — any
    // byte lost or reordered anywhere in the chain hash-fails.
    "q237_byte_bpe_utf8_roundtrip" -> ((s, dir) => {
      val docs = multilingualDocs(s, dir)
      val merges = TextAnalysis.byteBpeTrainMerges(docs, numMerges = bpeOracleMerges)
      TextAnalysis.byteBpeRoundTrip(docs, merges).orderBy("doc_id")
    }),

    // Streaming graph-ANN edge state (the sixth index family under
    // per-epoch replay-idempotent state, closing the r15 verdict's
    // "edges rebuild from scratch" gap): vec-disjoint epochs append
    // candidate/long-link deltas under the frozen LSH planes, the
    // top-degree selection happens at read time over the merged deltas,
    // and the beam search over the merged state must equal the one-shot
    // batch build — q235's oracle VERBATIM.
    "q240_streaming_graph_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val path = exitCleanedTempDir("graft_q240_gann")
      StreamingOps.streamShards(s, emb, "vec_id", 3,
          stageKey = Some(s"q240_streaming_graph_ann:$dir"),
          // Micro-batch width 2: the measured winner at gate scale
          // (ISO_r20: sp8 11.44 s / sp4 10.50 / sp2 10.04 fresh-JVM
          // min-of-3 — the 3 shard-sized batches pay pure task overhead
          // at wider widths). Results are partition-count-invariant;
          // the oracle re-pins them.
          shufflePartitions = Some(2))(
        StreamingOps.graphAnnEdgeSink(s, path))
      // Search over a COMPACTED state (epochs 0-1 folded through the
      // sink-degree prune into the base, epoch 2 live): the fold must be
      // invisible to the merged read — same oracle, hash-pinned.
      StreamingOps.compactGraphAnnEpochs(s, path, keepAfter = 1L)
      val (vecs, edges) = StreamingOps.mergedGraphAnnState(s, path)
      val v = vecs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val entry = v.agg(min(col("vec_id"))).collect()(0).getLong(0)
      val out = Similarity.graphAnnSearchOverEdges(v, edges, entry)
      v.unpersist() // the bounded answer materialized inside the search
      out.orderBy("query_id", "rnk")
    }),

    // Deletion/tombstone path for the streamed graph-ANN edge state: a
    // degree-8 sink leaves the prune slack the parity bound needs
    // (|tombstones| = 2 ≤ sinkDegree 8 − readDegree 6), vec_ids 17/23
    // are tombstoned, and the degree-6 read over the surviving state
    // must answer exactly like the one-shot batch build over the
    // surviving corpus — q235's oracle over `corpus minus deleted`.
    "q243_graph_ann_deletion" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val path = exitCleanedTempDir("graft_q243_gann")
      StreamingOps.streamShards(s, emb, "vec_id", 3,
          stageKey = Some(s"q240_streaming_graph_ann:$dir"),
          // Micro-batch width 2: the measured winner at gate scale
          // (ISO_r20: sp8 11.44 s / sp4 10.50 / sp2 10.04 fresh-JVM
          // min-of-3 — the 3 shard-sized batches pay pure task overhead
          // at wider widths). Results are partition-count-invariant;
          // the oracle re-pins them.
          shufflePartitions = Some(2))(
        StreamingOps.graphAnnEdgeSink(s, path, degree = 8))
      val dels = exitCleanedTempDir("graft_q243_dels")
      StreamingOps.sink(EpochState.Tombstones(), dels)(Seq(17L, 23L).toDF("vec_id"), 0L)
      val (vecs, edges) = StreamingOps.mergedGraphAnnState(
        s, path, degree = 6, deletesPath = Some(dels))
      val v = vecs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val entry = v.agg(min(col("vec_id"))).collect()(0).getLong(0)
      val out = Similarity.graphAnnSearchOverEdges(v, edges, entry)
      v.unpersist()
      out.orderBy("query_id", "rnk")
    }),

    // Frame-wise audio profiling (the silence-trim / clipping-detect
    // segmentation pass): per 64-sample frame, exact BIGINT count /
    // sum / energy / min / max over the real 16-bit PCM decode — one
    // narrow posexplode into a map-side-combined (doc, frame) agg.
    "q241_audio_frame_stats" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.audioFrameStats(
          Multimodal.decodeWavSamples(s,
            Multimodal.toWav16(Tables.documents(s, dir)
              .spreadWide("doc_id")))))
        .orderBy("doc_id", "frame_idx")),

    // The missing MODALITY next to image/audio: video as a real RIFF/AVI
    // container (avih header + movi frame chunks, word-aligned), decoded
    // by a chunk-walking parser that cross-checks the header's frame
    // count against the frames present — per-frame exact byte stats,
    // oracle-replayed from the text (frames are 16-byte slices).
    "q247_video_frame_stats" -> ((s, dir) =>
      // q279's fixture-shape notes (repartition + landed-before-order).
      landed(
        Multimodal.videoFrameStats(
          Multimodal.decodeAviFrames(s,
            Multimodal.toAvi(Tables.documents(s, dir)
              .spreadWide("doc_id")))))
        .orderBy("doc_id", "frame_idx")),

    // Frame SAMPLING — the temporal subsample a video pipeline takes
    // before feature extraction: every 4th frame with an md5 digest of
    // the raw frame binary, so any byte lost anywhere in the container
    // round trip hash-fails (the oracle digests the text slice the
    // frame must equal).
    "q248_video_frame_sample" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.sampleVideoFrames(
          Multimodal.decodeAviFrames(s,
            Multimodal.toAvi(Tables.documents(s, dir)
              .spreadWide("doc_id")))))
        .orderBy("doc_id", "frame_idx")),

    // The shot-boundary VERDICTS the q247 frame decode exists for: per
    // consecutive frame pair, the exact zero-padded SAD and the cut flag
    // at the corpus-p97 threshold — with q247/q248 this gives video the
    // same raw -> feature -> verdict arc audio closed with q245.
    "q249_video_scene_cuts" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.videoSceneCuts(
          Multimodal.decodeAviFrames(s,
            Multimodal.toAvi(Tables.documents(s, dir)
              .spreadWide("doc_id")))))
        .orderBy("doc_id", "frame_idx")),

    // Video-duplicate clusters — the video twin of q218's image arc:
    // decode -> sampled-frame digests -> per-video temporal fingerprint
    // -> star pairs within each colliding fingerprint -> the SAME
    // pointer-doubling CC machinery (q47/q218) closes them into
    // canonical clusters. Only digests ever shuffle; collision groups
    // are tiny, so the star-pair window is per-fingerprint-bounded.
    "q250_video_dup_clusters" -> ((s, dir) => landedSwept({
      val fp = Multimodal.videoFingerprints(
        Multimodal.sampleVideoFrames(
          Multimodal.decodeAviFrames(s, Multimodal.toAvi(Tables.documents(s, dir)))))
      val byFp = Window.partitionBy("video_fp")
      val pairs = fp
        .withColumn("rep", min(col("doc_id")).over(byFp))
        .filter(col("doc_id") =!= col("rep"))
        .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
      Dedup.dedupClusters(pairs).orderBy("doc_id")
    })),

    // The magic-byte ROUTER itself under the oracle: a mixed media frame
    // (doc_id % 8 picks the format; sub-64-byte docs demote from jpeg to
    // the raw bucket) routed purely by payload content through all eight
    // kinds, with a decode-derived geometry stat per doc — the oracle
    // replays both the routing rule and each builder's geometry, so a
    // mis-route OR a wrong decode fails the hash. Eight narrow filtered
    // passes over one frame, no shuffle before the final sort.
    "q252_modality_router" -> ((s, dir) =>
      routerGeometry(Multimodal.extractFeatures(s, stagedMixedMedia(s, dir)))
        .orderBy("doc_id")),

    // The transformed LAKE re-routed — q259's inventory twin with the
    // payloads actually written back: the clean lake pushed through the
    // transform pass (resize/resample/video-resize; sub-block docs drop
    // by the decimation contract), landed, and routed through q252's
    // geometry projection — every transformed payload must still claim
    // its format and decode to the transformed geometry.
    "q265_transformed_lake_router" -> ((s, dir) =>
      routerGeometry(Multimodal.extractFeatures(s, transformedMixedMedia(s, dir)))
        .orderBy("doc_id")),

    // The QUARANTINED router over a DAMAGED lake — q252's mixed frame
    // with deterministic transmission damage (doc_id % 9 == 4 truncates
    // the payload to its first 8 bytes), routed through mediaInventory:
    // a truncated payload whose format CLAIM survives the cut (netpbm's
    // 2-byte magic, PNG's exactly-8-byte signature, JPEG's 3-byte SOI)
    // quarantines as an inspectable (ok=false, geom NULL) row, while one
    // whose claim needed bytes past the cut (RIFF form types at 9-12,
    // BMP's DIB field at 15-18) falls back to the histogram — the oracle
    // replays claim survival, quarantine verdicts, and geometry, and a
    // task failure anywhere would fail the whole gate.
    "q253_media_inventory" -> ((s, dir) =>
      Multimodal.mediaInventory(s, damagedMixedMedia(s, dir)).orderBy("doc_id")),

    // The reference pipeline gated by the MEDIA quarantine — q246's
    // compose shape with the multimodal stack standing in for the
    // curation stack: each training example's impressed item maps to a
    // document (the q246 modulus), and examples whose document's media
    // failed the q253 ingest inventory are counted per (dt, label) —
    // the "drop examples whose media is corrupt" pass a multimodal
    // training pipeline runs before packing. The quarantined set is
    // damage-bounded, so it broadcasts.
    "q254_media_gated_examples" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bad = Multimodal.mediaInventory(s, damagedMixedMedia(s, dir))
        .filter(!col("ok")).select(col("doc_id"))
        .withColumn("quarantined", lit(true))
      val nDocs = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1L // one scalar
      val ex = TrainingPipeline.produceTrainingExamples(
        EventFixtures.impressions(s, dir),
        EventFixtures.clicks(s, dir),
        EventFixtures.addToCarts(s, dir),
        EventFixtures.orders(s, dir),
        maxHistory = MaxHist)
      ex.select(
          col("dt"), col("label"),
          pmod(col("impression_item_id"), lit(nDocs)).as("doc_id"),
          size(filter(col("action_types"), x => x =!= 0)).cast("long").as("hist_len"))
        .join(broadcast(bad), Seq("doc_id"), "left_outer")
        .groupBy(col("dt"), col("label"))
        .agg(
          count(lit(1)).as("n_examples"),
          sum(when(col("quarantined"), 1L).otherwise(0L)).as("n_media_quarantined"),
          sum(when(col("quarantined"), col("hist_len")).otherwise(0L))
            .as("quarantined_hist_len"))
        .orderBy("dt", "label")
    }),

    // Audio RESAMPLE — the audio member of the transform triple (q255
    // image resize / this / q248 video frame-sample): factor-4 box
    // decimation of the decoded 16-bit stream, re-encoded as a real
    // 2 kHz PCM WAV and round-tripped through the decoder — format
    // fields, sample count, and exact amplitude moments in one hash.
    "q256_audio_resample" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.decodeEach(
            Multimodal.resize(s,
              Multimodal.toWav16(Tables.documents(s, dir)
                .spreadWide("doc_id")),
              Codec.Wav, Box(4)))(Multimodal.wavFeatures)
          .toDF())
        .orderBy("doc_id")),

    // PNG RESIZE — the first transform across a COMPRESSED format:
    // inflate + un-filter to pixels, per-channel box decimation, then
    // deflate + re-filter back to a real truecolor PNG; the gate decodes
    // the output, so the hash pins geometry and exact pixel stats
    // through decompress → transform → recompress (never compressed
    // bytes, which the deflate encoder owns).
    // (The explicit n_chars >= 6 guard is the q229 convention — the PNG
    // builder needs a 6-byte raster row; the oracle's ow >= 1 restriction
    // subsumes it, so engine and oracle drop identical doc sets.)
    "q269_png_resize" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.decodeEach(
            Multimodal.resize(s,
              Multimodal.toPng(Tables.documents(s, dir).filter(col("n_chars") >= 6)
                .spreadWide("doc_id")),
              Codec.Png, Box(4)))(Multimodal.pngFeatures)
          .toDF()
          .drop("idat_len"))
        .orderBy("doc_id")),

    // Audio RESAMPLE to an EXPLICIT rate — the 1-D twin of q272's
    // bilinear kernel and the non-integer-ratio capability q256's
    // stride resampler lacks (8000 -> 3000 Hz = x8/3): output length
    // floor(3L/8), each sample the fixed-point linear blend of its two
    // source neighbors (half-sample centers, edge clamps), value
    // blends truncating on possibly-negative amplitudes — the q256
    // div-convention — re-encoded as a real 16-bit PCM WAV and
    // round-tripped through the decoder.
    "q275_linear_resample" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.decodeEach(
            Multimodal.resize(s,
              Multimodal.toWav16(Tables.documents(s, dir)
                .spreadWide("doc_id")),
              Codec.Wav, Bilinear(3000)))(Multimodal.wavFeatures)
          .toDF())
        .orderBy("doc_id")),

    // The media-lake NORMALIZATION pass — q272/q273's kernel composed
    // through EVERY codec round trip at once: the clean mixed lake's
    // rasters all bilinear-thumbnail to 24x16 (PGM/PPM/BMP/PNG across
    // the compression boundary/JPEG across the lossy boundary — whose
    // 3x2-block output exercises the multi-block-row encode+decode
    // in-gate), audio resamples to 2 kHz, every AVI FRAME bilinears to
    // the 24-byte target row (frame count preserved — the routed geom
    // is unchanged while the payload bytes all change; r20 closes the
    // r19 pass-through), raw passes through; the result lands and
    // re-routes through q252's geometry projection, so every thumbnail
    // must still claim its format and decode to the TARGET geometry.
    "q276_media_thumbnails" -> ((s, dir) =>
      routerGeometry(Multimodal.extractFeatures(s, thumbnailedMixedMedia(s, dir)))
        .orderBy("doc_id")),

    // The bilinear -> forward-DCT COMPOSITION pinned exactly: q276
    // routes the jpeg thumbnail and pins its GEOMETRY; this gate pins
    // the quantized-DC stats of the same 24x16 thumbnail — the
    // horizontal blend of flat-block values is exact integer math
    // (clamps at both edges fire for nb <= 3 source blocks), the 16
    // output rows are identical (vertical blends of equal rows are
    // exact), and the 3x2 output blocks duplicate three distinct DC
    // values, all of which the oracle replays from text block sums.
    "q277_jpeg_thumbnail" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.decodeEach(
            Multimodal.resize(s,
              Multimodal.toJpeg(Tables.documents(s, dir).filter(col("n_chars") >= 64)
                .spreadWide("doc_id")),
              Codec.Jpeg, Bilinear(24, 16)))(Multimodal.JpegCodec.decode)
          .toDF()
          .drop("scan_bits", "recon_sum"))
        .orderBy("doc_id")),

    // COLOR JPEG (VERDICT r19 #1, the lead ask) — the multi-component
    // YCbCr 4:2:0 boundary closed: every 3 text bytes become one SOLID
    // 16×16 RGB MCU, encoded through the REAL color encoder
    // (fixed-point RGB→YCbCr, 2×2 box chroma subsample, per-plane
    // forward DCT/quant through the shared block encoder, four-table
    // MCU-interleaved Huffman with per-component DC predictors) and
    // decoded back through the multi-component scan walk. Solid MCUs
    // make every block flat, so the gate hashes geometry + per-CHANNEL
    // quantized-DC stats — exact integers the oracle replays through
    // the forward transform (q271's lossy-codec convention, per
    // channel).
    // Two fixture-shape notes (not operator semantics; diagnosed with
    // the r20 watch instrumentation, which showed two 1-task CPU-bound
    // stages): (1) the color codec amplifies work ~256× per text byte —
    // 3 bytes become a 16×16 MCU — while the sf fixture is ONE small
    // parquet file = one scan partition, so the gate repartitions the
    // kilobytes of text to an EXPLICIT width before the heavy map (a
    // column-only repartition gets AQE-coalesced back to 1 because the
    // shuffle bytes are tiny; the explicit count is a hard requirement
    // AQE honors — a 100 TB corpus arrives in thousands of files and
    // needs neither). (2) the result lands bounded BEFORE the total
    // order: a plain orderBy range-samples its input, evaluating the
    // whole codec chain twice.
    "q279_color_jpeg" -> ((s, dir) =>
      landed(
        Multimodal.decodeEach(
            Multimodal.toJpegColor(
              Tables.documents(s, dir).filter(col("n_chars") >= 3)
                .spreadWide("doc_id")))(Multimodal.JpegCodec.decodeColor)
          .toDF())
        .orderBy("doc_id")),

    // The ENTIRE color arc composed and pinned exactly (q277's depth in
    // color): color decode (flat blocks on the exact integer path,
    // chroma upsampled by replication, fixed-point INVERSE transform)
    // → per-channel bilinear to 24×16 → color re-encode (fixed-point
    // FORWARD transform, 2×2 chroma subsample, edge-replicated padding
    // to the 32-wide MCU grid, per-plane DC quantization) → re-decode,
    // in ONE hash. Every step is exact integer arithmetic the oracle
    // replays from text bytes: 8 Y blocks collapse to 4 distinct DCs
    // (the 2 block rows are identical), chroma to 2 blocks per channel.
    "q280_color_jpeg_thumbnail" -> ((s, dir) =>
      landed( // q279's fixture-shape notes
        Multimodal.decodeEach(
            Multimodal.resize(s,
              Multimodal.toJpegColor(
                Tables.documents(s, dir).filter(col("n_chars") >= 3)
                  .spreadWide("doc_id")),
              Codec.Jpeg, Bilinear(24, 16)))(Multimodal.JpegCodec.decodeColor)
          .toDF())
        .orderBy("doc_id")),

    // VIDEO to an EXPLICIT per-frame target (VERDICT r19 #3) — the
    // bilinear family's temporal member: every frame (a len×1 raster;
    // 16 bytes except the ragged last) resamples to EXACTLY 12 bytes —
    // a non-integer 3/4 scale for full frames and a different ratio per
    // ragged tail (upscales included) — then the resized container
    // round-trips through the chunk walk into per-frame stats, so the
    // oracle replays every output byte through resize → re-encode →
    // re-decode in one hash. Frame count and µs/frame are preserved
    // (temporal subsampling stays q248's job).
    "q278_video_thumbnail" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.videoFrameStats(
          Multimodal.decodeAviFrames(s,
            Multimodal.resize(s,
              Multimodal.toAvi(Tables.documents(s, dir)
                .spreadWide("doc_id")),
              Codec.Avi, Bilinear(12)))))
        .orderBy("doc_id", "frame_idx")),

    // BILINEAR resize to an EXPLICIT target — the non-integer-scale
    // kernel a real preprocessing pass runs ("resize to 224×224"),
    // where the stride family can only express integer downscales:
    // every strip resamples to exactly 48×1 (downscale for long docs,
    // upscale with interpolation for short ones — both paths exercised
    // by the same gate). Half-pixel fixed-point sampling, floor-exact
    // integers end to end, so the oracle replays every output pixel.
    "q272_bilinear_resize" -> ((s, dir) =>
      Multimodal.decodeEach(
          Multimodal.resize(s,
            Multimodal.toPgm(Tables.documents(s, dir).filter(col("n_chars") >= 1)),
            Codec.Pgm, Bilinear(48, 1)))(Multimodal.pgmFeatures)
        .toDF()
        .orderBy("doc_id")),

    // q272's COLOR twin with a VERTICAL upscale: every 1-row PPM strip
    // resamples per channel to 32×2 (both output rows clamp-sample the
    // single source row — the edge-clamp branch under the oracle), so
    // R/G/B independence and the vertical pass both pin.
    "q273_bilinear_color_resize" -> ((s, dir) =>
      Multimodal.decodeEach(
          Multimodal.resize(s,
            Multimodal.toPpm(Tables.documents(s, dir).filter(col("n_chars") >= 3)),
            Codec.Ppm, Bilinear(32, 2)))(Multimodal.ppmFeatures)
        .toDF()
        .orderBy("doc_id")),

    // JPEG RESIZE — the LOSSY member of the raster transform family,
    // closing the boundary q270 documented: decode (flat blocks take
    // the exact integer path) → stride-4 box decimation → re-encode
    // through the REAL forward-DCT / quantize / zigzag-RLE-Huffman
    // path → re-decode, all in one hash. The hash pins geometry and
    // quantized-DC stats — exact integers the oracle replays from the
    // pixel block sums — while scan_bits and recon_sum are
    // quantizer/compressor-owned and excluded (the q269 PNG convention
    // extended across a lossy codec).
    "q271_jpeg_resize" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.decodeEach(
            Multimodal.resize(s,
              Multimodal.toJpeg(Tables.documents(s, dir).filter(col("n_chars") >= 64)
                .spreadWide("doc_id")),
              Codec.Jpeg, Box(4)))(Multimodal.JpegCodec.decode)
          .toDF()
          .drop("scan_bits", "recon_sum"))
        .orderBy("doc_id")),

    // BMP RESIZE — the DIB member of the raster-resize family (every
    // decodable raster codec transforms: PGM/PPM/PNG/BMP, and q271
    // closes the lossy boundary for JPEG): decode normalizes bottom-up rows,
    // stride padding, and the BGR swizzle to image-order RGB, the
    // shared per-channel kernel decimates, and the re-encode restores
    // all three — the gate round-trips through the decoder, so a
    // swizzle or stride slip anywhere hash-fails.
    "q270_bmp_resize" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.decodeEach(
            Multimodal.resize(s,
              Multimodal.toBmp(Tables.documents(s, dir)
                .spreadWide("doc_id")),
              Codec.Bmp, Box(4)))(Multimodal.bmpFeatures)
          .toDF())
        .orderBy("doc_id")),

    // COLOR image RESIZE — q255's three-channel twin: stride-4 box
    // decimation of each PPM payload with channels kept separate,
    // re-encoded as a real PPM and round-tripped through the color
    // decoder, so per-channel means pin that R/G/B never mix.
    "q266_color_resize" -> ((s, dir) =>
      // Measured 0.34 -> 0.77 s under the q279 fixture-shape treatment
      // (ISO r20): the PPM chain is too cheap for the repartition+landed
      // overhead to pay for the double-eval it removes. Left as-is.
      Multimodal.decodeEach(
          Multimodal.resize(s, Multimodal.toPpm(Tables.documents(s, dir)), Codec.Ppm, Box(4)))(
          Multimodal.ppmFeatures)
        .toDF()
        .orderBy("doc_id")),

    // Image RESIZE — the multimodal op next to decode/feature-extract/
    // frame-sample: stride-4 box decimation of each PGM payload,
    // re-encoded as a REAL PGM and round-tripped through the decoder, so
    // the oracle pins every output pixel (floor-mean of its 4-byte
    // block) through resize, re-encode, AND re-decode in one hash.
    "q255_image_resize" -> ((s, dir) =>
      Multimodal.decodeEach(
          Multimodal.resize(s, Multimodal.toPgm(Tables.documents(s, dir)), Codec.Pgm, Box(4)))(
          Multimodal.pgmFeatures)
        .toDF()
        .select(
          col("doc_id"), col("width"), col("height"), col("n_px"),
          col("mean_px"), col("min_px"), col("max_px"))
        .orderBy("doc_id")),

    // Cross-MODAL composition — the first gate plan where video and text
    // meet: each q249 shot boundary aligned to the transcript token whose
    // byte span contains the cut offset (subtitle alignment), via the
    // SAME as-of-join machinery as q45 — one keyed window, no inequality
    // join, no per-cut document re-scan.
    "q251_cut_token_alignment" -> ((s, dir) =>
      Multimodal.alignCutsToTokens(
          Multimodal.videoSceneCuts(
            Multimodal.decodeAviFrames(s, Multimodal.toAvi(Tables.documents(s, dir)))),
          Tables.documents(s, dir))
        .orderBy("doc_id", "frame_idx")),

    // The segmentation VERDICTS the q241 frame stats exist for: per doc,
    // the silence-trimmed frame span and the clipping flag, derived
    // relationally from the frame table (audio never re-read). 8-sample
    // frames so word-granular silence exists in this corpus; the rails
    // are the corpus's true extremes (space -> |24576|), so clipping
    // counts frames that pin them — with q239 this completes the audio
    // raw -> feature -> verdict arc.
    "q245_audio_segments" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.audioSegments(
          Multimodal.audioFrameStats(
            Multimodal.decodeWavSamples(s,
              Multimodal.toWav16(Tables.documents(s, dir)
                .spreadWide("doc_id"))),
            frameLen = 8)))
        .orderBy("doc_id")),

    // Audio SPECTRAL analysis — the first signal past amplitude moments
    // (r15 verdict's audio gap): exact-integer autocorrelation at fixed
    // lags over the REAL 16-bit PCM decode (toWav16 -> full RIFF walk ->
    // sample vector -> relational per-doc lambdas). The samples are an
    // affine function of the text bytes, so the oracle reproduces every
    // BIGINT cell from the text directly.
    "q239_audio_autocorr" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.audioAutocorr(
            Multimodal.decodeWavSamples(s,
              Multimodal.toWav16(Tables.documents(s, dir)
                .spreadWide("doc_id"))))
          .withColumn("lag", col("lag").cast("int")))
        .orderBy("doc_id", "lag")),

    // q226's multilingual twin: encode digests over the rewritten corpus,
    // which forces the ORACLE's train + encode replay through the full
    // 256-entry bytes_to_unicode table (per-UTF-8-byte hex replay), not
    // just the ASCII subset — the merge table itself now contains
    // multibyte-derived symbols.
    "q238_byte_bpe_utf8_encode" -> ((s, dir) => {
      val docs = multilingualDocs(s, dir)
      val merges = TextAnalysis.byteBpeTrainMerges(docs, numMerges = bpeOracleMerges)
      byteBpeEncodeDigest(docs, merges)
    }),

    // Byte-level BPE encode over the whole corpus with freshly-trained
    // merges: per-doc pre-token/byte/piece counts and the
    // position-ordered pieces digest — q96's byte-level twin.
    "q226_byte_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextAnalysis.byteBpeTrainMerges(docs, numMerges = bpeOracleMerges)
      byteBpeEncodeDigest(docs, merges)
    }),

    // BPE encode over the whole corpus with the freshly-trained merges:
    // per-doc word/char/piece conservation totals plus an md5 digest of
    // the full piece sequence in document order — the encode path's
    // end product faces the oracle, which re-trains AND re-encodes in SQL.
    "q96_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextAnalysis.bpeTrainMerges(docs, numMerges = bpeOracleMerges)
      TextAnalysis.bpeEncodeWords(docs, merges)
        .withColumn("pstr", array_join(col("pieces"), "\u001f"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_words"),
          sum(length(col("w"))).cast("long").as("n_chars_sum"),
          sum(col("n_pieces")).as("n_pieces"),
          md5(array_join(
            transform(
              sort_array(collect_list(struct(col("pos"), col("pstr")))),
              x => x.getField("pstr")),
            " ")).as("pieces_digest"))
        .orderBy("doc_id")
    }),

    // Unigram-LM (SentencePiece-style) tokenizer training — the second
    // standard subword family next to BPE: integral Viterbi-EM (seed
    // substring weights → whole-bit surprisal costs → Viterbi segment
    // every word type → usage re-count → prune). The oracle REPLAYS the
    // full training in SQL — seed, both EM rounds, and every Viterbi DP
    // position as an unrolled CTE — so any drift in seeding, costs, DP
    // tie-breaks, or pruning hash-fails.
    "q150_unigram_train" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.unigramTrainVocab(Tables.documents(s, dir))
        .toDF("p", "cnt")
        .orderBy("p")
    }),

    // WordPiece training — the third standard subword family (BERT's):
    // BPE's merge loop under the likelihood score cnt/(ca·cb), kept
    // integral via the picounit floor quantization (BigInt here,
    // HUGEINT in the oracle). The oracle replays every round in SQL.
    "q212_wordpiece_train" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.wordpieceTrainMerges(Tables.documents(s, dir), numMerges = bpeOracleMerges)
        .toDF("rank", "c1", "c2", "merged", "cnt", "ca", "cb", "score")
        .orderBy("rank")
    }),

    // WordPiece encode over the whole corpus with the freshly-trained
    // vocabulary: greedy longest-match with ## continuations, [UNK]
    // fallback; per-doc conservation totals + piece-stream digest (the
    // q96 surface). The oracle re-trains AND re-matches in SQL.
    "q213_wordpiece_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextAnalysis.wordpieceTrainMerges(docs, numMerges = bpeOracleMerges)
      TextAnalysis.wordpieceEncodeWords(docs, TextAnalysis.wordpieceVocab(docs, merges))
        .withColumn("pstr", array_join(col("pieces"), "\u001f"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_words"),
          sum(length(col("w"))).cast("long").as("n_chars_sum"),
          sum(col("n_pieces")).as("n_pieces"),
          md5(array_join(
            transform(
              sort_array(collect_list(struct(col("pos"), col("pstr")))),
              x => x.getField("pstr")),
            " ")).as("pieces_digest"))
        .orderBy("doc_id")
    }),

    // Unigram encode over the whole corpus with the freshly-trained
    // vocabulary: per-doc conservation totals + piece-stream digest
    // (q96's surface for the second tokenizer family). The oracle
    // re-trains AND re-segments every word type in SQL.
    "q151_unigram_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = TextAnalysis.unigramTrainVocab(docs)
      TextAnalysis.unigramEncodeWords(docs, vocab)
        .withColumn("pstr", array_join(col("pieces"), "\u001f"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_words"),
          sum(length(col("w"))).cast("long").as("n_chars_sum"),
          sum(col("n_pieces")).as("n_pieces"),
          md5(array_join(
            transform(
              sort_array(collect_list(struct(col("pos"), col("pstr")))),
              x => x.getField("pstr")),
            " ")).as("pieces_digest"))
        .orderBy("doc_id")
    }),

    // Learned linear quality scorer — the fastText/logreg-style gate:
    // weak labels from the heuristic qualityFilter (distillation), 1/3-bit
    // integer log-odds weights as a TABLE, inference = broadcast dot
    // product over token counts. The oracle re-trains and re-scores in
    // SQL, so the whole learn+apply loop is hash-gated.
    "q152_linear_quality" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val labels = TextAnalysis.qualityFilter(docs)
        .select(col("doc_id"), col("keep").as("y"))
      val weights = TextAnalysis.trainQualityWeights(docs, labels)
      TextAnalysis.scoreQuality(docs, weights).orderBy("doc_id")
    }),

    // Snapshot MERGE/upsert apply — closes the CDC loop q108/q67 open:
    // snapshotDelta builds the payload-carrying change feed between two
    // snapshot views of the corpus, applyChanges replays it onto the old
    // snapshot, and the oracle computes the NEW snapshot directly — the
    // hash match proves delta+apply ≡ full recompute.
    "q153_apply_changes" -> ((s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"), col("source"))
      val oldSnap = base.filter(pmod(col("doc_id"), lit(7L)) =!= 0L)
      val newSnap = base.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
        .withColumn(
          "text",
          when(pmod(col("doc_id"), lit(3L)) === 0L, concat(lit("v2 "), col("text")))
            .otherwise(col("text")))
      val delta = Curation.snapshotDelta(oldSnap, newSnap)
      Curation.applyChanges(oldSnap, delta)
        .select(col("doc_id"), col("source"), md5(col("text")).as("text_digest"))
        .orderBy("doc_id")
    }),

    // Temperature-weighted (α=0.5) mixture quotas — the multilingual
    // rebalance; integer sqrt weights + largest-remainder seats keep
    // every value engine-bit-identical.
    "q93_temperature_mixture" -> ((s, dir) =>
      Curation.temperatureAllocation(
        Tables.documents(s, dir), col("source"), col("n_chars"), budget = 60000L)
        .orderBy("grp")),

    // Sketch-accelerated incremental dedup: Bloom-negative rows skip the
    // anti-join (no false negatives ⇒ same answer, oracle-pinned); the
    // needed_exact_check flag exposes which survivors paid the shuffle.
    // Runs the DEFAULT probe (shuffle path since the SCALE_r10-measured
    // default flip); the broadcast probe stays spec-gated in
    // CurationSpec/PlanShapeSpec.
    "q92_bloom_dedup_against" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.bloomDedupAgainst(
        docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250))
        .select(col("doc_id"), col("content_hash"), col("needed_exact_check"))
        .orderBy("doc_id")
    }),

    // q92's probe with broadcastFilter=false pinned EXPLICITLY (q92 now
    // reaches the same shuffle path via the default): the word table
    // meets exploded probes in one shuffle equi-join, unbounded by the
    // broadcast/driver budget — the 100 TB path. Shares q92's oracle:
    // the flag and the default must produce identical rows AND flags.
    "q100_bloom_shuffle_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.bloomDedupAgainst(
        docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
        broadcastFilter = false)
        .select(col("doc_id"), col("content_hash"), col("needed_exact_check"))
        .orderBy("doc_id")
    }),

    // Offset-robust boilerplate removal over a shifted-boilerplate
    // fixture built from the corpus itself: every base doc appears
    // twice with the SAME text behind prefixes of DIFFERENT token
    // length (3 vs 1), so no aligned passage ever collides across the
    // variants — only the dense-window pass sees the shared span. The
    // oracle replays windows, document frequency, and the covered-token
    // drops in SQL and hash-matches the cleaned text.
    "q101_rolling_passage_dedup" -> ((s, dir) =>
      Dedup.rollingPassageDedup(
          shiftedBoilerplateCorpus(s, dir), windowLen = 8, maxDocFreq = 1)
        .orderBy("doc_id")),

    // Quality-ranked token-budget selection: the best docs (by distinct
    // token count, doc_id tie-break) whose cumulative token cost fits
    // the budget — distributed prefix sum, never a global window over
    // the corpus (plan-pinned).
    "q102_token_budget" -> ((s, dir) =>
      Curation.tokenBudgetSelect(
        TextAnalysis.tokenCount(Tables.documents(s, dir)),
        col("doc_id"), col("n_token_types"), col("n_tokens"),
        budget = 20000L)
        .select(
          col("id").as("doc_id"), col("score"), col("cost"), col("cum_cost"))
        .orderBy(col("score").desc, col("doc_id"))),

    // Deterministic corpus shuffle: reproducible (shard, pos) training
    // order from salted md5 — independent permutation per salt, same
    // bytes on every rerun and engine.
    "q103_deterministic_shuffle" -> ((s, dir) =>
      Curation.deterministicShuffle(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        col("doc_id"), numShards = 8)
        .select(col("doc_id"), col("n_chars"), col("shard"), col("pos"))
        .orderBy("shard", "pos")),

    // Repeat-factor materialization: a per-source fractional upsampling
    // recipe (2.5× / 1.25× / 0.7× by source-hash class) turned into an
    // explicit deterministic copy list.
    "q104_materialize_repeats" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "source")
      val factors = docs.select(col("source").as("grp")).distinct()
        .withColumn(
          "factor_ppm",
          when(pmod(graft.functions.Hashing.md5Long60(col("grp")), lit(3L)) === 0L, 2500000L)
            .when(pmod(graft.functions.Hashing.md5Long60(col("grp")), lit(3L)) === 1L, 1250000L)
            .otherwise(700000L))
      Curation.materializeRepeats(docs, "source", col("doc_id"), factors)
        .select(col("doc_id"), col("source"), col("n_copies"), col("copy_id"))
        .orderBy("doc_id", "copy_id")
    }),

    // Length-bucketed batching: similar-length docs grouped into
    // fixed-size batches (sharded rank windows), per-doc padding waste
    // vs the batch max.
    "q105_length_batches" -> ((s, dir) =>
      Curation.lengthBucketBatches(
        TextAnalysis.tokenCount(Tables.documents(s, dir)),
        col("doc_id"), col("n_tokens"),
        boundaries = Seq(48L, 64L, 80L), batchSize = 8, numShards = 4)
        .select(
          col("id").as("doc_id"), col("n_tokens"), col("bucket"), col("shard"),
          col("batch_id"), col("pos"), col("batch_max"), col("pad_waste"))
        .orderBy("bucket", "shard", "batch_id", "pos")),

    // EWMA trend of daily ingest volume per type: half-life-one-day
    // weights over the gap-filled series; exact powers of two keep the
    // float sums order-independent and engine-identical.
    "q106_ewma_trend" -> ((s, dir) =>
      Timeseries.ewmaSmooth(Tables.events(s, dir), windowDays = 7)
        .orderBy("event_type", "epoch_day")),

    // Ordered conversion funnel: signup → view → click → purchase, each
    // step strictly after the previous one; per-stage survivor counts
    // and mean micros from the first step.
    "q107_funnel" -> ((s, dir) =>
      Timeseries.funnel(
        Tables.events(s, dir), Seq("signup", "view", "click", "purchase"))
        .orderBy("stage")),

    // Snapshot CDC diff: two synthetic corpus snapshots carved by a
    // salted-md5 coin (h%10==3 absent from old, h%10==7 absent from new,
    // h%5==0 mutated — the hash decorrelates status from source, unlike
    // a doc_id modulus, which source = doc_id%20 would alias), diffed by
    // content digest into added/removed/changed/unchanged per source.
    "q108_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val coin = pmod(
        graft.functions.Hashing.md5Long60(
          concat(lit("snap:"), col("doc_id").cast("string"))),
        lit(10L))
      val oldSnap = docs.filter(coin =!= 3L)
      val newSnap = docs.filter(coin =!= 7L)
        .withColumn(
          "text",
          when(pmod(coin, lit(5L)) === 0L, upper(col("text")))
            .otherwise(col("text")))
      Curation.snapshotDiff(oldSnap, newSnap)
        .groupBy(col("source"), col("status"))
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("key")).as("min_id"),
          max(col("key")).as("max_id"))
        .orderBy("source", "status")
    }),

    // Systematic weighted sampling: 25 equal strata over cumulative
    // n_chars in salted-md5 order — exact integer stratum boundaries,
    // heavy docs picked proportionally.
    "q109_systematic_sample" -> ((s, dir) =>
      Curation.systematicWeightedSample(
        Tables.documents(s, dir), col("doc_id"), col("n_chars"), k = 25)
        .select(col("id").as("doc_id"), col("w"), col("cum_w"), col("n_picks"))
        .orderBy("cum_w")),

    // Canonicalized exact dedup: formatting-only duplicates (case,
    // punctuation, whitespace reflow) collapse to one canonical hash;
    // n_variants counts how many distinct raw texts each form merged.
    "q110_canonical_dedup" -> ((s, dir) =>
      Dedup.canonicalDuplicates(Tables.documents(s, dir))
        .orderBy("canon_hash")),

    // LSH candidates verified by bounded-prefix character edit distance —
    // the near-dup check for OCR noise/typo farms where shingle Jaccard
    // under-scores small in-word edits.
    "q111_edit_verified_pairs" -> ((s, dir) =>
      Dedup.editVerifiedPairs(Tables.documents(s, dir))
        .orderBy("doc_a", "doc_b")),

    // Corpus-model unigram surprisal: mean per-token bits vs the corpus
    // unigram distribution (integer log2 via bin-length, so the score is
    // engine-exact) — flags gibberish (high) and boilerplate (low).
    "q112_unigram_surprisal" -> ((s, dir) =>
      TextAnalysis.unigramSurprisal(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // Leave-one-out centroid outliers per label over quantized
    // embeddings: the k vectors least aligned with their own cluster's
    // centroid — mislabeled/contaminated-embedding detection.
    "q113_centroid_outliers" -> ((s, dir) =>
      Similarity.centroidOutliers(Tables.embeddings(s, dir))
        .orderBy("label", "rnk")),

    // Audio codec family: documents wrapped as REAL RIFF/WAVE PCM files
    // (8-bit unsigned mono, codegen'd little-endian header) and decoded
    // by the chunk-walking WAV decoder; amplitude moments are
    // SQL-reproducible over the text bytes (ASCII corpus ⇒ byte =
    // codepoint), so the audio path gets the same oracle gate as the
    // netpbm decoders in q24.
    "q114_wav_features" -> ((s, dir) =>
      Multimodal.decodeEach(Multimodal.toWav(Tables.documents(s, dir)))(Multimodal.wavFeatures)
        .toDF()
        .orderBy("doc_id")),

    // Same oracle gate for the decoder's SIGNED 16-bit branch: toWav16
    // stores each ASCII byte as the signed sample (b - 128) * 256
    // (all-negative for ASCII), so `le16(...).toShort` — spec-only until
    // now — gets a full hash-matched oracle too.
    "q115_wav16_features" -> ((s, dir) =>
      // q279's fixture-shape notes: explicit-width repartition before the
      // 1-file scan's codec chain, landed bounded before the total order.
      landed(
        Multimodal.decodeEach(
            Multimodal.toWav16(Tables.documents(s, dir)
              .spreadWide("doc_id")))(Multimodal.wavFeatures)
          .toDF())
        .orderBy("doc_id")),

    // G.711 mu-law WAV (format tag 7 — the first NON-PCM codec branch):
    // text bytes become 16-bit linear samples companded 2:1 to mu-law
    // bytes on the wire; the decoder EXPANDS before the moments, so the
    // oracle replays the full compand->expand roundtrip via the
    // compiled 256-entry table.
    "q174_mulaw_features" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.decodeEach(
            Multimodal.toWavMuLaw(Tables.documents(s, dir)
              .spreadWide("doc_id")))(Multimodal.wavFeatures)
          .toDF())
        .orderBy("doc_id")),

    // First streaming-FED oracle entry: documents with 50 <= doc_id <
    // 500 are staged as three parquet files (shard = doc_id % 3) and
    // streamed through a REAL file-source micro-batch query into
    // corpusAdmissionSink, each batch admitted against keptInit (doc_id
    // < 50) plus everything admitted before it. Deterministic batch
    // boundaries come from staged-mtime ordering + maxFilesPerTrigger=1;
    // the oracle replays the same 3-round sequential admission
    // (quality → exact hash dedup → LSH-candidate + verified-jaccard
    // near-dup) in SQL. The doc_id < 500 cap is the whole table at the
    // correctness scales (sf0.001/sf0.01) and pins the bench cost at
    // sf0.1 — q101's capped-oracle precedent; the admission operators
    // themselves scale-probe at full corpus via q89/ScaleProbe.
    "q116_streaming_admission" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
      StreamingOps.admitViaFileStream(
          s, docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
          stageKey = Some(s"q116_streaming_admission:$dir"))
        .select(col("doc_id"), col("batch_id").cast("int").as("batch_id"))
        .orderBy("doc_id")
    }),

    // Offset-exact VARIABLE-LENGTH substring decontamination (Lee et
    // al.'s exact-substring family, relational instead of suffix-array):
    // dense rolling-window digests with positions, matches chained by
    // consecutive starts at the same (ref_doc, alignment) into true
    // exact common substrings; per probe doc the longest span + window
    // coverage. Probes = doc_id >= 250 vs reference = doc_id < 250.
    "q117_substring_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.substringDecontaminate(
          docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250))
        .orderBy("doc_id")
    }),

    // Decontamination RECALL on planted canaries — the needle test every
    // decontamination stack owes its users: 10-token canaries with a
    // vocabulary disjoint from the corpus (digits never appear in corpus
    // words) planted at word offset 2 of each host; the detector must
    // recover EVERY canary at exactly its planted span and alignment.
    // Ground truth is known by construction, so the oracle is pure
    // arithmetic — any miss, truncation, or mis-alignment hash-fails.
    "q233_canary_recall" -> ((s, dir) => {
      val hosts = Tables.documents(s, dir).filter(col("doc_id") < 20)
      val canaryArr = transform(
        sequence(lit(0), lit(9)),
        j => concat(lit("cn"), col("cid").cast("string"), lit("w"), j.cast("string")))
      val canaries = s.range(20)
        .select((col("id") + 1000000L).as("doc_id"), col("id").as("cid"))
        .select(col("doc_id"), array_join(canaryArr, " ").as("text"))
        .withColumn("lang", lit("en")).withColumn("source", lit("canary"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val planted = hosts
        .withColumn("ws", split(trim(col("text")), "\\s+"))
        .withColumn("cid", col("doc_id"))
        .select(
          col("doc_id"),
          array_join(
            concat(
              slice(col("ws"), 1, 2),
              canaryArr,
              slice(col("ws"), lit(3), greatest(size(col("ws")) - 2, lit(0)))),
            " ").as("text"),
          col("lang"), col("source"), col("n_chars"))
      Dedup.substringDecontaminate(planted, canaries).orderBy("doc_id")
    }),

    // The act-on-it companion: every token covered by a matched
    // reference window is dropped, clean text rebuilt narrowly —
    // PaLM/GPT-style eval-overlap removal at any offset.
    "q118_substring_strip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.substringDecontaminateStrip(
          docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250))
        .orderBy("doc_id")
    }),

    // The self-similarity half: longest repeated substring WITHIN each
    // document (same islands chaining, self-paired at offset > 0) —
    // variable-length exact internal repeats, vs q41's fixed-gram
    // repetition ratios.
    "q119_self_repeats" -> ((s, dir) =>
      Dedup.selfRepeatedSubstrings(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // Corpus-wide EXACT-substring dedup (Lee et al. 2022 ExactSubstr at
    // word granularity): every token covered by an 8-token span occurring
    // >1 time ANYWHERE (cross-doc or self) is stripped from every
    // occurrence; maximal duplicated regions found at any length by the
    // islands trick — the suffix-array answer set, digest-only shuffles.
    "q227_exact_substr_dedup" -> ((s, dir) => landedSwept(
      Dedup.exactSubstrDedup(Tables.documents(s, dir))
        .orderBy("doc_id"))),

    // Streaming Count-Min maintenance under the oracle gate: each
    // micro-batch's token cells land in their own epoch dir
    // (replay-idempotent overwrite) and the live sketch is the
    // cell-wise merge at read time — cells are additive over the
    // doc-disjoint shards, so the merged sketch must equal the batch
    // sketch of the whole corpus: q86's construction, probed with the
    // same exact-count set. Batch boundaries need no determinism for
    // THIS query (summation is order-blind), but streamShards provides
    // it anyway.
    "q120_streaming_count_min" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
      val path = exitCleanedTempDir("graft_q120_cms")
      StreamingOps.streamShards(s, docs, "doc_id", 3, stageKey = Some(s"q120_streaming_count_min:$dir"), shufflePartitions = Some(2)) { (batch, id) =>
        StreamingOps.sink(EpochState.CountMin("source", "tok"), path)(
          batch.select(col("source"), explode(TextAnalysis.wordsCol).as("tok")), id)
      }
      val exact = docs
        .select(col("source").as("grp"), explode(TextAnalysis.wordsCol).as("item"))
        .groupBy(col("grp"), col("item")).agg(count(lit(1)).as("exact_cnt"))
      graft.functions.Sketches.probeCountMin(
          StreamingOps.merged(s, EpochState.CountMin("source", "tok"), path), exact)
        .withColumn("overcount", col("cms_est") - col("exact_cnt"))
        .orderBy("grp", "item")
    }),

    // Streaming HLL maintenance under the oracle gate: per-epoch
    // register tables, register-wise MAX at read — idempotent, so the
    // merged estimate must equal q76's whole-corpus construction.
    "q121_streaming_hll" -> ((s, dir) => {
      val path = exitCleanedTempDir("graft_q121_hll")
      val hll = EpochState.Hll("event_type", "user_id")
      StreamingOps.streamShards(s, Tables.events(s, dir), "event_id", 3, stageKey = Some(s"q121_streaming_hll:$dir"))(
        StreamingOps.sink(hll, path))
      graft.functions.Sketches.hllEstimate(StreamingOps.merged(s, hll, path), "grp", hll.p)
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type")
    }),

    // Streaming Misra–Gries maintenance — the fourth (last) sketch
    // family under streaming state: per-epoch MG summaries merged at
    // read with the PODS'12 sum-then-trim rule. The gate is q80's
    // theory contract on the MERGED state: every exact-heavy item
    // present, every estimate inside n/(k+1) — same oracle SQL.
    "q214_streaming_heavy_hitters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = exitCleanedTempDir("graft_q214_mg")
      StreamingOps.streamShards(s, docs, "doc_id", 3, stageKey = Some(s"q214_streaming_heavy_hitters:$dir"), shufflePartitions = Some(2)) { (batch, id) =>
        StreamingOps.sink(EpochState.MisraGries("source", "tok", k = 24), path)(
          batch.select(col("source"), explode(TextAnalysis.wordsCol).as("tok")), id)
      }
      StreamingOps.mergedHeavyHittersChecked(
          docs.select(col("source"), explode(TextAnalysis.wordsCol).as("tok")),
          "source", "tok", s, path, k = 24)
        .orderBy("grp", "item")
    }),

    // Streaming boilerplate state: per-epoch aligned passage counts
    // summed at read must clean the corpus exactly like the one-shot
    // batch pass (doc-disjoint shards ⇒ merged df = corpus df) — q84's
    // oracle verbatim.
    "q122_streaming_passage_state" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = exitCleanedTempDir("graft_q122_pc")
      StreamingOps.streamShards(s, docs, "doc_id", 3, stageKey = Some(s"q122_streaming_passage_state:$dir"), shufflePartitions = Some(2))(
        StreamingOps.sink(EpochState.PassageCounts(), path))
      Dedup.passageDedupAgainst(
          docs, StreamingOps.merged(s, EpochState.PassageCounts(), path))
        .orderBy("doc_id")
    }),

    // Product-quantization encoding: 8 subspaces × 16 codes (the
    // vec_id<16 placeholder codebooks, q39's convention — the learned
    // trainer is spec-gated), exact integer L2² argmin per subspace.
    // One row per (vector, subspace) with the chosen code + residual.
    "q124_pq_encode" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
      Similarity.pqEncode(Tables.embeddings(s, dir)
          .spreadWide("vec_id")))
        .orderBy("vec_id", "sub")),

    // PQ asymmetric-distance search: exact per-query distance tables,
    // corpus scanned in the compressed code domain, top-10 by summed
    // table lookups.
    "q125_pq_search" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
      Similarity.pqSearch(Tables.embeddings(s, dir)
          .spreadWide("vec_id")))
        .orderBy("query_id", "rnk")),

    // Margin-based uncertainty sampling over label centroids: the 50
    // most class-boundary-ambiguous vectors (best vs second-best
    // centroid cosine nearly tied) with predicted label and mislabel
    // flag — the active-learning / annotation-triage draw.
    "q177_margin_sampling" -> ((s, dir) =>
      Similarity.centroidMarginSampling(Tables.embeddings(s, dir)).orderBy("rnk")),

    // Greedy k-center / farthest-point coreset (Gonzalez): 8 corpus
    // vectors that COVER embedding space — the diversity-maximizing
    // global panel (seed sets, eval panels) next to q141's per-query
    // MMR; exact integer distances make the greedy trace replayable.
    "q175_kcenter" -> ((s, dir) =>
      Similarity.kCenterSelect(Tables.embeddings(s, dir)).orderBy("rnk")),

    // Int8 scalar quantization (FAISS SQ8) + asymmetric search: per-dim
    // affine codes from one min/max aggregate, reconstruction + exact
    // integer distance in the corpus scan — the 4x-compression,
    // near-exact-recall point between PQ and raw floats.
    "q173_sq8_search" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
      Similarity.sqSearch(Tables.embeddings(s, dir)
          .spreadWide("vec_id")))
        .orderBy("query_id", "rnk")),

    // The composed IVF-PQ stack: coarse cells prune candidates, ADC
    // ranks within the probed cells — the canonical billion-vector ANN
    // shape, q39's probing over q125's compressed domain.
    "q126_ivf_pq_search" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
      Similarity.ivfPqSearch(Tables.embeddings(s, dir)
          .spreadWide("vec_id")))
        .orderBy("query_id", "rnk")),

    // Hard-negative mining: top-10 nearest DIFFERENT-label neighbors
    // per query vector — q22's scan with the label-inequality prune,
    // the in-batch-negatives feed of a contrastive fine-tune.
    "q127_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir))
        .orderBy("query_id", "rnk")),

    // Johnson–Lindenstrauss ±1 projection (md5-parity sign matrix,
    // 64 → 16 exact BIGINT coordinates); projection scalarized for
    // the gate, squared norm alongside.
    "q128_random_projection" -> ((s, dir) =>
      Similarity.randomProject(Tables.embeddings(s, dir))
        .select(
          col("vec_id"),
          concat_ws(",", col("proj").cast("array<string>")).as("proj_csv"),
          col("pn2"))
        .orderBy("vec_id")),

    // Exact Gram/covariance sufficient statistics: BIGINT Σxᵢ, Σxⱼ,
    // Σxᵢxⱼ and n for every dimension pair i ≤ j — the PCA/whitening
    // input, corpus scanned once, never shuffled.
    "q129_gram_matrix" -> ((s, dir) =>
      Similarity.gramMatrix(Tables.embeddings(s, dir))
        .orderBy("dim_i", "dim_j")),

    // Per-day ranking AUC of `value` predicting purchases: exact
    // Mann–Whitney pair counts (concordant/tied as BIGINTs), one IEEE
    // division at the end.
    "q130_ranking_auc" -> ((s, dir) =>
      Stats.groupAuc(
          Tables.events(s, dir),
          date_format(col("ts"), "yyyy-MM-dd"),
          col("value"),
          col("event_type") === "purchase")
        .withColumnRenamed("grp", "day")
        .orderBy("day")),

    // Reliability-diagram calibration bins for `value` predicting
    // purchases — q130's AUC says the score ORDERS labels; this says
    // whether its magnitude is honest. Exact-integer cells (ppm rate,
    // centi mean) over 10 equal-width bins.
    "q149_calibration_bins" -> ((s, dir) =>
      Stats.calibrationBins(
          Tables.events(s, dir),
          col("value"),
          col("event_type") === "purchase")
        .orderBy("bin")),

    // Chunk-level CDC dedup: whole content-defined chunks shared by 2+
    // documents stripped at any byte offset — the passage family's
    // variable-grid member (q84 aligned, q101 dense, q222 CDC).
    "q222_cdc_dedup" -> ((s, dir) =>
      Dedup.cdcDedup(Tables.documents(s, dir)).orderBy("doc_id")),

    // Streaming CDC chunk state: per-epoch chunk-frequency tables over
    // doc-disjoint shards, digest-wise summed at read — the merged
    // clean must equal q222's one-shot batch pass (same oracle).
    "q223_streaming_cdc_state" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = exitCleanedTempDir("graft_q223_cdc")
      StreamingOps.streamShards(s, docs, "doc_id", 3, stageKey = Some(s"q223_streaming_cdc_state:$dir"), shufflePartitions = Some(2))(
        StreamingOps.sink(EpochState.CdcCounts(), path))
      Dedup.cdcDedupAgainst(
          docs, StreamingOps.merged(s, EpochState.CdcCounts(), path))
        .orderBy("doc_id")
    }),

    // ExactSubstr under streaming state: per-epoch window-digest
    // OCCURRENCE counts (additive over doc-disjoint shards), merged at
    // read; stripping the corpus against the merged state must equal
    // q227's one-shot batch pass — same oracle.
    "q231_streaming_exact_substr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = exitCleanedTempDir("graft_q231_es")
      StreamingOps.streamShards(s, docs, "doc_id", 3, stageKey = Some(s"q231_streaming_exact_substr:$dir"), shufflePartitions = Some(2))(
        StreamingOps.sink(EpochState.ExactSubstrCounts(), path))
      Dedup.exactSubstrDedupAgainst(
          docs, StreamingOps.merged(s, EpochState.ExactSubstrCounts(), path))
        .orderBy("doc_id")
    }),

    // Streaming MINHASH SIGNATURE INDEX — the kept-corpus near-dup
    // index maintained as per-epoch state instead of re-derived from
    // kept TEXT per admission batch (VERDICT r18 gap): the kept half
    // (< 250) streams in 3 doc-disjoint micro-batches, each landing its
    // signature+digest rows in its own replay-idempotent epoch; a
    // mid-lifecycle compaction folds epochs 0-1 into the base; and
    // nearDupAgainst over the MERGED index must equal q44's one-shot
    // batch answer — q44's oracle verbatim. Text is scanned once at
    // admission; the search never touches it again.
    "q274_streaming_signature_index" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val kept = docs.filter(col("doc_id") < 250)
      val path = exitCleanedTempDir("graft_q274_sig")
      StreamingOps.streamShards(s, kept, "doc_id", 3,
          stageKey = Some(s"q274_streaming_signature_index:$dir"),
          // ISO_r20: 3.28 -> 3.15 s with the micro-batch width pinned
          // to the shard volume instead of inheriting the session's 32.
          shufflePartitions = Some(2))(
        StreamingOps.sink(EpochState.SignatureIndex(), path))
      StreamingOps.compact(s, EpochState.SignatureIndex(), path, keepAfter = 1L)
      Dedup.withNearDupAgainst(kept, docs.filter(col("doc_id") >= 250),
          keptSignatures = Some(StreamingOps.merged(s, EpochState.SignatureIndex(), path))) {
        surv => landed(surv.orderBy("doc_id"))
      }
    }),

    // Streaming ANN (IVF) index maintenance: the quantizer is frozen up
    // front (an index re-trained per batch would invalidate prior
    // postings), each micro-batch assigns its vectors narrowly
    // (broadcast-argmax, zero shuffle) into its own replay-idempotent
    // epoch dir, and a search over the MERGED postings must equal the
    // one-shot batch search — q39's oracle verbatim.
    "q228_streaming_ivf_postings" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.placeholderCentroids(emb)
      val path = exitCleanedTempDir("graft_q228_ivf")
      StreamingOps.streamShards(s, emb, "vec_id", 3, stageKey = Some(s"q228_streaming_ivf_postings:$dir"), shufflePartitions = Some(2))(
        StreamingOps.sink(EpochState.IvfPostings(cents), path))
      // The gate searches over a COMPACTED state (epochs 0-1 folded into
      // the base partition, epoch 2 live) — compaction must be invisible
      // to the merged view, and this hash-pins it against the same oracle.
      StreamingOps.compact(s, EpochState.IvfPostings(cents), path, keepAfter = 1L)
      Similarity.ivfSearchOverPostings(
          StreamingOps.merged(s, EpochState.IvfPostings(cents), path), emb, cents)
        .orderBy("query_id", "rnk")
    }),

    // Deletion/tombstone path for the streamed IVF index (the r16
    // verdict's "a removed vector stays a search answer forever" gap):
    // same streamed postings as q228, then tombstone epochs remove
    // vec_ids 17 and 23 (neither a query nor a frozen centroid), and
    // the read-time anti-join must make the merged search equal the
    // one-shot batch search over the SURVIVING corpus — q39's oracle
    // over `corpus minus deleted`. Postings are per-vector (no sink-side
    // prune), so IVF deletion parity is exact with no slack bound.
    "q242_ivf_deletion" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.placeholderCentroids(emb)
      val path = exitCleanedTempDir("graft_q242_ivf")
      // Same frame/shardKey/numBatches as q228 → same staged shards
      // (the stage-dir memoization contract), so the corpus copy is paid
      // once across both gates.
      StreamingOps.streamShards(s, emb, "vec_id", 3, stageKey = Some(s"q228_streaming_ivf_postings:$dir"), shufflePartitions = Some(2))(
        StreamingOps.sink(EpochState.IvfPostings(cents), path))
      val dels = exitCleanedTempDir("graft_q242_dels")
      val tomb = StreamingOps.sink(EpochState.Tombstones(), dels)
      tomb(Seq(17L).toDF("vec_id"), 0L)
      tomb(Seq(23L).toDF("vec_id"), 1L)
      Similarity.ivfSearchOverPostings(
          StreamingOps.merged(s, EpochState.IvfPostings(cents), path, deletesPath = Some(dels)),
          emb, cents)
        .orderBy("query_id", "rnk")
    }),

    // Benford first-digit audit of order totals — the fabricated-data
    // tripwire: digit via the exact integer-string path (no libm log10),
    // per-digit counts + exact-ppm shares over the dense 1..9 spine.
    "q221_benford_digits" -> ((s, dir) =>
      Stats.benfordDigits(Tables.orders(s, dir), col("o_totalprice"))
        .orderBy("digit")),

    // One-pass table profiler over orders: per column, rows / nulls /
    // exact distincts, numeric+timestamp min/max as doubles — the
    // ingest-gate data-quality report.
    "q220_profile_orders" -> ((s, dir) =>
      Stats.profileColumns(Tables.orders(s, dir)).orderBy("col_name")),

    // The ranking-window family the SQL surface hadn't covered yet:
    // rank / dense_rank (tie-invariant), percent_rank / cume_dist
    // (exact rationals — one IEEE division of exact integers each),
    // and ntile(4) under a TOTAL order so its row assignment is
    // deterministic. One exchange; all five functions share it.
    "q219_rank_family" -> ((s, dir) => {
      val byPrice = Window.partitionBy(col("grp")).orderBy(col("o_totalprice"))
      val total = Window.partitionBy(col("grp"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderpriority").as("grp"), col("o_orderkey"), col("o_totalprice"))
        .select(
          col("grp"), col("o_orderkey"), col("o_totalprice"),
          rank().over(byPrice).cast("long").as("rnk"),
          dense_rank().over(byPrice).cast("long").as("drnk"),
          percent_rank().over(byPrice).as("prank"),
          cume_dist().over(byPrice).as("cdist"),
          ntile(4).over(total).cast("long").as("quartile"))
        .orderBy("grp", "o_totalprice", "o_orderkey")
    }),

    // Image-duplicate clusters: the dHash Hamming pair graph (q201)
    // closed into components by the pointer-doubling CC (q47's
    // machinery) — the full image-dedup story end to end: decode →
    // Video RESIZE — the video member of the transform triple (q255
    // image / q256 audio / this; VERDICT r17 #2): stride-4 spatial box
    // decimation of every frame under the AVI container walk, re-encoded
    // as a valid AVI at the reduced geometry and round-tripped through
    // the frame decoder — per-frame byte count, exact sum, min, max in
    // one hash (a sub-4-byte ragged tail re-encodes as a zero-length
    // chunk: n_bytes 0, sum 0, min/max NULL on both sides).
    "q257_video_resize" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.videoFrameStats(
          Multimodal.decodeAviFrames(s,
            Multimodal.resize(s,
              Multimodal.toAvi(Tables.documents(s, dir)
                .spreadWide("doc_id")),
              Codec.Avi, Box(4)))))
        .orderBy("doc_id", "frame_idx")),

    // IVF state REBUILD (VERDICT r17 #3 — the recovery the graph family
    // got in r17): the same streamed postings as q228 (frozen
    // placeholder quantizer), then rebuildIvfState re-trains the coarse
    // quantizer from the state's OWN posting vectors (deterministic
    // Lloyd — raw embeddings never re-read), re-assigns, and lands a
    // fresh epoch-0 state; the search over the rebuilt state must equal
    // the one-shot LEARNED-quantizer search, whose 8 Lloyd iterations
    // the oracle replays verbatim.
    "q258_ivf_rebuild" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents0 = Similarity.placeholderCentroids(emb)
      val path = exitCleanedTempDir("graft_q258_ivf")
      StreamingOps.streamShards(s, emb, "vec_id", 3, stageKey = Some(s"q228_streaming_ivf_postings:$dir"), shufflePartitions = Some(2))(
        StreamingOps.sink(EpochState.IvfPostings(cents0), path))
      val rebuilt = exitCleanedTempDir("graft_q258_ivf_rebuilt")
      val cents = StreamingOps.rebuildIvfState(s, path, rebuilt)
      Similarity.ivfSearchOverPostings(
          StreamingOps.merged(s, EpochState.IvfPostings(cents), rebuilt), emb, cents)
        .orderBy("query_id", "rnk")
    }),

    // QUARANTINED media transforms (VERDICT r17 #4 — q253's contract
    // extended from decode to transform): the real resize/resample
    // kernels over the damaged mixed lake, where a corrupt payload
    // yields an inspectable (ok=false, geom NULL) row instead of the
    // task failure that would kill a 100 TB transform sweep; valid
    // payloads transform AND re-decode (out_geom pins the output's
    // geometry), non-transformable formats pass through untouched.
    "q259_media_transform_inventory" -> ((s, dir) =>
      Multimodal.mediaTransformInventory(s, damagedMixedMedia(s, dir))
        .orderBy("doc_id")),

    // TAKEDOWN for the additive ExactSubstr occurrence state (VERDICT
    // r17 #5): q231's streamed adds, then a SUBTRACTION epoch landing
    // the removed docs' window-digest counts negated (counts are
    // additive — the inverse is exact), a mid-lifecycle compaction
    // folding adds AND the subtraction through the positive clamp, and
    // the strip of the SURVIVORS against the merged state must equal
    // q227's batch pass over the surviving corpus — its oracle verbatim
    // on `doc_id % 7 <> 3`.
    "q260_exact_substr_takedown" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = exitCleanedTempDir("graft_q260_es")
      StreamingOps.streamShards(s, docs, "doc_id", 3, stageKey = Some(s"q231_streaming_exact_substr:$dir"), shufflePartitions = Some(2))(
        StreamingOps.sink(EpochState.ExactSubstrCounts(), path))
      StreamingOps.retractSink(EpochState.ExactSubstrCounts(), path)(
        docs.filter(pmod(col("doc_id"), lit(7L)) === 3L), 3L)
      StreamingOps.compact(s, EpochState.ExactSubstrCounts(), path, keepAfter = 3L)
      Dedup.exactSubstrDedupAgainst(
          docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3L),
          StreamingOps.merged(s, EpochState.ExactSubstrCounts(), path))
        .orderBy("doc_id")
    }),

    // Same takedown for the dense-window (rolling) boilerplate state
    // over q101's shifted corpus — q101's oracle verbatim on the
    // surviving shifted ids (no compaction here: q260 pins the clamped
    // fold; this pins the pure epoch-sum read with a live subtraction).
    "q261_rolling_takedown" -> ((s, dir) => {
      val shifted = shiftedBoilerplateCorpus(s, dir)
      val path = exitCleanedTempDir("graft_q261_rc")
      StreamingOps.streamShards(s, shifted, "doc_id", 3, stageKey = Some(s"q123_streaming_rolling_state:$dir"), shufflePartitions = Some(2))(
        StreamingOps.sink(EpochState.RollingCounts(), path))
      StreamingOps.retractSink(EpochState.RollingCounts(), path)(
        shifted.filter(pmod(col("doc_id"), lit(7L)) === 3L), 3L)
      Dedup.rollingPassageDedupAgainst(
          shifted.filter(pmod(col("doc_id"), lit(7L)) =!= 3L),
          StreamingOps.merged(s, EpochState.RollingCounts(), path))
        .orderBy("doc_id")
    }),

    // And for the aligned passage state — q84's oracle verbatim on the
    // survivors (doc frequencies subtract exactly like occurrences:
    // add epochs are doc-disjoint and the delete epoch mirrors the
    // removed docs once).
    "q262_passage_takedown" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = exitCleanedTempDir("graft_q262_pc")
      StreamingOps.streamShards(s, docs, "doc_id", 3, stageKey = Some(s"q122_streaming_passage_state:$dir"), shufflePartitions = Some(2))(
        StreamingOps.sink(EpochState.PassageCounts(), path))
      StreamingOps.retractSink(EpochState.PassageCounts(), path)(
        docs.filter(pmod(col("doc_id"), lit(7L)) === 3L), 3L)
      Dedup.passageDedupAgainst(
          docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3L),
          StreamingOps.merged(s, EpochState.PassageCounts(), path))
        .orderBy("doc_id")
    }),

    // CMS takedown — the only SKETCH family with an exact inverse
    // (cells are cell-wise additive; HLL max-merges and MG trims, so
    // their takedown is a rebuild, documented at the sink): q120's
    // streamed cells + one subtraction epoch for the removed docs'
    // tokens, probed with the SURVIVORS' exact counts — q120's oracle
    // verbatim on `doc_id % 7 <> 3`.
    "q268_cms_takedown" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
      val path = exitCleanedTempDir("graft_q268_cms")
      StreamingOps.streamShards(s, docs, "doc_id", 3, stageKey = Some(s"q120_streaming_count_min:$dir"), shufflePartitions = Some(2)) { (batch, id) =>
        StreamingOps.sink(EpochState.CountMin("source", "tok"), path)(
          batch.select(col("source"), explode(TextAnalysis.wordsCol).as("tok")), id)
      }
      StreamingOps.retractSink(EpochState.CountMin("source", "tok"), path)(
        docs.filter(pmod(col("doc_id"), lit(7L)) === 3L)
          .select(col("source"), explode(TextAnalysis.wordsCol).as("tok")), 3L)
      val survivors = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3L)
      val exact = survivors
        .select(col("source").as("grp"), explode(TextAnalysis.wordsCol).as("item"))
        .groupBy(col("grp"), col("item")).agg(count(lit(1)).as("exact_cnt"))
      graft.functions.Sketches.probeCountMin(
          StreamingOps.merged(s, EpochState.CountMin("source", "tok"), path), exact)
        .withColumn("overcount", col("cms_est") - col("exact_cnt"))
        .orderBy("grp", "item")
    }),

    // VIDEO under streaming state — the third modality joins the
    // replay-idempotent epoch layout: per-batch AVI decode → temporal
    // subsample → one fingerprint row per doc (digests only; frames die
    // in the epoch's scan), takedown via TOMBSTONES (per-doc rows
    // anti-join; contrast the occurrence states' subtraction epochs),
    // a mid-lifecycle compaction applying them PHYSICALLY, and the dup
    // clusters over the merged survivors must equal q250's batch pass
    // over the surviving corpus — its oracle verbatim on
    // `doc_id % 7 <> 3`.
    "q267_streaming_video_dups" -> ((s, dir) => landedSwept({
      val media = Multimodal.toAvi(Tables.documents(s, dir)).select("doc_id", "payload")
      val path = exitCleanedTempDir("graft_q267_vfp")
      StreamingOps.streamShards(s, media, "doc_id", 3, stageKey = Some(s"q267_streaming_video_dups:$dir"))(
        StreamingOps.sink(EpochState.VideoFingerprints(), path))
      val dels = exitCleanedTempDir("graft_q267_dels")
      StreamingOps.sink(EpochState.Tombstones("doc_id"), dels)(
        Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(7L)) === 3L).select("doc_id"), 0L)
      StreamingOps.compact(
        s, EpochState.VideoFingerprints(), path, keepAfter = 1L, deletesPath = Some(dels))
      val fp = StreamingOps.merged(
        s, EpochState.VideoFingerprints(), path, deletesPath = Some(dels))
      val byFp = Window.partitionBy("video_fp")
      val pairs = fp
        .withColumn("rep", min(col("doc_id")).over(byFp))
        .filter(col("doc_id") =!= col("rep"))
        .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
      Dedup.dedupClusters(pairs).orderBy("doc_id")
    })),

    // The family's fourth member: takedown for the CDC chunk state —
    // q222's oracle verbatim on the survivors (chunk doc-frequencies
    // subtract exactly like the aligned/rolling states').
    "q263_cdc_takedown" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = exitCleanedTempDir("graft_q263_cdc")
      StreamingOps.streamShards(s, docs, "doc_id", 3, stageKey = Some(s"q223_streaming_cdc_state:$dir"), shufflePartitions = Some(2))(
        StreamingOps.sink(EpochState.CdcCounts(), path))
      StreamingOps.retractSink(EpochState.CdcCounts(), path)(
        docs.filter(pmod(col("doc_id"), lit(7L)) === 3L), 3L)
      Dedup.cdcDedupAgainst(
          docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3L),
          StreamingOps.merged(s, EpochState.CdcCounts(), path))
        .orderBy("doc_id")
    }),

    // Rebuild UNDER DELETION — q258's lifecycle composed with q242's:
    // tombstones remove vec_ids 17/23 from the streamed postings, the
    // rebuild re-trains on the SURVIVORS (sample, seeds, and assignment
    // all shift — the oracle's Lloyd replay runs over the survivor set),
    // and the rebuilt state carries no deleted vectors, so the search
    // reads it with NO deletesPath: takedown consumed, not masked.
    "q264_ivf_rebuild_deletion" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val cents0 = Similarity.placeholderCentroids(emb)
      val path = exitCleanedTempDir("graft_q264_ivf")
      StreamingOps.streamShards(s, emb, "vec_id", 3, stageKey = Some(s"q228_streaming_ivf_postings:$dir"), shufflePartitions = Some(2))(
        StreamingOps.sink(EpochState.IvfPostings(cents0), path))
      val dels = exitCleanedTempDir("graft_q264_dels")
      val tomb = StreamingOps.sink(EpochState.Tombstones(), dels)
      tomb(Seq(17L).toDF("vec_id"), 0L)
      tomb(Seq(23L).toDF("vec_id"), 1L)
      val rebuilt = exitCleanedTempDir("graft_q264_ivf_rebuilt")
      val cents = StreamingOps.rebuildIvfState(
        s, path, rebuilt, deletesPath = Some(dels))
      Similarity.ivfSearchOverPostings(
          StreamingOps.merged(s, EpochState.IvfPostings(cents), rebuilt), emb, cents)
        .orderBy("query_id", "rnk")
    }),

    // perceptual hash → banded pairing → canonical clusters.
    // NOT persisted like q201's dHash frame (r21, measured twice): here
    // dedupClusters' edges persist already bounds downstream reads to one
    // pairs-subtree fill, inside which the banded join's two chain
    // executions run as PARALLEL wide stages — caching the dHash table
    // serialized fill-then-join and measured WORSE (ISO pairs 7.3/6.2 s
    // cached vs 5.4/5.4 s uncached).
    "q218_image_dup_clusters" -> ((s, dir) => landedSwept(
      Dedup.dedupClusters(
        Dedup.hammingNearDupPairs(
            Multimodal.pgmDHash(s,
              Multimodal.toPgm(Tables.documents(s, dir)
                .spreadWide("doc_id"))).toDF())
          .select(col("ida").as("doc_a"), col("idb").as("doc_b")))
        .orderBy("doc_id"))),

    // Cluster purity of the sign-LSH buckets against the embedding
    // labels — the external clustering eval: per-bucket majority label
    // + exact-ppm purity ("are the cheap semantic partitions label-
    // coherent enough to curate by?").
    "q217_cluster_purity" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Stats.clusterPurity(
          Similarity.signBuckets(e)
            .select(col("vec_id").as("id"), col("bucket").as("cluster")),
          e.select(col("vec_id").as("id"), col("label").cast("long").as("label")))
        .orderBy("cluster")
    }),

    // kNN-distance outliers over the embedding corpus (Ramaswamy
    // SIGMOD'00): exact integer L2² to the 5th shortlist neighbor + the
    // Angiulli sum statistic, global outlier rank, top-2% flag. The
    // BENCHED arm is the multi-probe sign-LSH shortlist (the 100 TB
    // candidate path — no all-pairs join anywhere in the plan); the
    // exact all-pairs scorer remains as its differential baseline in
    // DedupSimilaritySpec.
    "q216_knn_outliers" -> ((s, dir) => landedSwept(
      Similarity.knnDistOutliersLsh(Tables.embeddings(s, dir))
        .orderBy("out_rank"))),

    // BLEU sufficient statistics over adjacent-doc pairs (cand = doc i,
    // ref = doc i+1): clipped n-gram matches, totals, exact-ppm modified
    // precision for n = 1..4, plus both lengths for the brevity call.
    "q215_bleu_stats" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val pairs = d.select(col("doc_id").as("pair_id"), col("text").as("cand"))
        .join(
          d.select((col("doc_id") - 1).as("pair_id"), col("text").as("ref")),
          Seq("pair_id"))
      TextAnalysis.bleuStats(pairs).orderBy("pair_id", "n")
    }),

    // Exact ROC curve of `value` predicting purchases, per day — the
    // threshold-sweep q130 integrates: one row per distinct centi
    // threshold, all-integer confusion prefix + ppm rates.
    "q211_roc_curve" -> ((s, dir) =>
      Stats.rocCurve(
          Tables.events(s, dir),
          date_format(col("ts"), "yyyy-MM-dd"),
          col("value"),
          col("event_type") === "purchase")
        .withColumnRenamed("grp", "day")
        .orderBy(col("day"), col("thr_centi").desc)),

    // DSIR-style importance weights vs the src0 target domain:
    // whole-bit unigram log-likelihood ratio, BIGINT end to end.
    "q131_importance_weights" -> ((s, dir) =>
      TextAnalysis.importanceWeights(Tables.documents(s, dir), "src0")
        .orderBy("doc_id")),

    // Reciprocal-rank fusion of the cosine and L2 rankers at depth 50:
    // scaled-integer RRF scores, top-10 fused per query.
    "q132_rrf_fusion" -> ((s, dir) =>
      Similarity.rrfFuse(Tables.embeddings(s, dir))
        .orderBy("query_id", "rnk")),

    // IVF-PQ with RESIDUAL encoding — the canonical FAISS IVFPQ: corpus
    // PQ-coded on coarse-centroid residuals, one ADC table per
    // (query, probed cell) from the query's own residual.
    "q133_ivf_pq_residual" -> ((s, dir) =>
      // Measured: the q279 repartition treatment made this slightly SLOWER
      // (1.65 -> 1.87 s ISO r20) — multi-pass Lloyd re-reads pay the extra
      // exchange per pass. Left as committed.
      Similarity.ivfPqResidualSearch(Tables.embeddings(s, dir))
        .orderBy("query_id", "rnk")),

    // Cross-source shingle-overlap matrix: shared distinct 3-grams,
    // per-source totals, exact jaccard per source pair — the
    // which-corpora-share-content QA before mixing.
    "q134_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlapMatrix(Tables.documents(s, dir))
        .orderBy("src_a", "src_b")),

    // PMI collocations: top-50 adjacent word pairs by whole-bit
    // pointwise mutual information, minCount 5.
    "q135_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(Tables.documents(s, dir))
        .orderBy(col("pmi_bits").desc, col("w1"), col("w2"))),

    // Binary-Hamming ANN: sign-packed 64-bit codes (two 32-bit words),
    // popcount shortlist, exact dot-product re-rank — the third
    // compressed search domain next to PQ and residual IVF-PQ.
    "q138_hamming_search" -> ((s, dir) =>
      Similarity.hammingSearch(Tables.embeddings(s, dir))
        .orderBy("query_id", "rnk")),

    // Prefix-filter exact set-similarity join (AllPairs): every pair at
    // jaccard >= 50% — the oracle is the BRUTE-FORCE all-pairs join, so
    // the gate proves the filter lossless.
    // Gate entry uses the lifecycle bracket + driver landing: the answer
    // is pair-bounded (verified jaccard>=50% dups only), and the digest
    // table the operator persists is released before the frame is handed
    // back (VERDICT r17 `weak`: the un-released MEMORY_AND_DISK cache
    // squeezed execution memory across a min-of-3 sweep in a degraded
    // long-lived JVM, 1.4 s committed vs 16.5 s driver).
    "q139_prefix_filter_pairs" -> ((s, dir) =>
      Dedup.withPrefixFilterPairs(Tables.documents(s, dir)) {
        pairs => landed(pairs.orderBy("doc_a", "doc_b"))
      }),

    // Recall@10 of the binary-Hamming index against exact brute force —
    // the acceptance gate an approximate index passes before replacing
    // the exact scan; per-query hits, first missed exact rank, recall.
    "q140_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.annRecall(Similarity.hammingSearch(emb), Similarity.knnBruteForce(emb))
        .orderBy("query_id")
    }),

    // MMR diversification of each query's top-20: greedy
    // lambda*rel - (1-lambda)*maxSim picks, all-integer scores — the
    // near-copy-suppressing re-rank for retrieval/sampling.
    "q141_mmr_diversify" -> ((s, dir) => landedSwept(
      Similarity.mmrDiversify(Tables.embeddings(s, dir))
        .orderBy("query_id", "rnk"))),

    // Asymmetric containment join (quote/excerpt detection): ordered
    // pairs where >=80% of the source's shingles sit inside the
    // destination — the direction jaccard is blind to. Oracle is brute
    // force, so the one-sided prefix filter is proven lossless.
    // Gate entry uses the lifecycle bracket + driver landing: the answer
    // is pair-bounded, and the digest table the operator persists is
    // released before the frame is handed back (VERDICT r18 `weak`: the
    // unbracketed gate leaked the cache across the sweep, 1.18 s
    // committed vs 4.08 s driver — the q139/q44 defect class).
    "q142_containment_pairs" -> ((s, dir) =>
      Dedup.withContainmentPairs(Tables.documents(s, dir)) {
        pairs => landed(pairs.orderBy("src_doc", "dst_doc"))
      }),

    // Third real codec class: 24-bit BI_RGB BMP round-trip — bottom-up
    // rows, 4-byte stride padding, B,G,R channel order all exercised;
    // features reported in IMAGE order (top_row_mean pins the
    // re-ordering). Shares q24/q114's ASCII-corpus byte==codepoint
    // assumption.
    "q137_bmp_features" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.decodeEach(
            Multimodal.toBmp(Tables.documents(s, dir)
              .spreadWide("doc_id")))(Multimodal.bmpFeatures)
          .toDF())
        .orderBy("doc_id")),

    // Stupid Backoff LM scoring (Brants 2007) on a HELD-OUT probe slice
    // (doc_id % 4 == 0) against a model trained on the rest — observed
    // bigrams score log2 P(w2|w1), unseen ones back off to
    // log2(0.4 P(w2)) with an add-one OOV floor; 1/3-bit integer
    // quantization throughout. The held-out split is what makes the
    // backoff branch actually fire under the gate.
    "q160_backoff_lm" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.stupidBackoffScore(
          docs.filter(pmod(col("doc_id"), lit(4L)) === 0L),
          modelDocs = Some(docs.filter(pmod(col("doc_id"), lit(4L)) =!= 0L)))
        .orderBy("doc_id")
    }),

    // Market-basket association rules over order carts: frequent part
    // pairs with exact-ppm support/confidence/lift — the a-priori
    // 2-itemset pass, the basket twin of q135's adjacent-token PMI.
    "q171_basket_pairs" -> ((s, dir) =>
      Association.frequentItemPairs(
          Tables.lineitem(s, dir), col("l_orderkey"), col("l_partkey"))
        .orderBy("item_a", "item_b")),

    // A-priori frequent triples over order carts: the level-3 cascade
    // (pair instances pruned by the frequent-pair set before tripling);
    // the brute-force oracle proves the prune lossless.
    "q183_basket_triples" -> ((s, dir) =>
      Association.frequentItemTriples(
          Tables.lineitem(s, dir), col("l_orderkey"), col("l_partkey"))
        .orderBy("item_a", "item_b", "item_c")),

    // Interpolated Kneser-Ney bigram scoring over the same held-out
    // split as q160 — the accuracy-standard smoothing next to Stupid
    // Backoff: D = 3/4 discount + continuation-probability
    // interpolation, the whole model one exact rational per pair.
    "q170_kneser_ney" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.kneserNeyScore(
          docs.filter(pmod(col("doc_id"), lit(4L)) === 0L),
          modelDocs = Some(docs.filter(pmod(col("doc_id"), lit(4L)) =!= 0L)))
        .orderBy("doc_id")
    }),

    // Distillation-fidelity confusion matrix: the learned linear
    // scorer's at-threshold agreement with its heuristic teacher —
    // tp/fp/fn/tn plus exact-ppm accuracy/precision/recall/F1, the
    // at-threshold picture next to q130's AUC and q149's calibration.
    "q165_classifier_eval" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val labels = TextAnalysis.qualityFilter(docs)
        .select(col("doc_id"), col("keep").as("y"))
      val weights = TextAnalysis.trainQualityWeights(docs, labels)
      Stats.classifierEval(
        TextAnalysis.scoreQuality(docs, weights).join(labels, Seq("doc_id")),
        col("pred"), col("y"))
    }),

    // NDCG@10 of exact cosine retrieval graded by label agreement
    // (rel = 2·same-label + 1·positive-dot) — the graded-relevance
    // ranking eval with the whole-bit integer discount; shares q22's
    // brute-force ranking so the metric grades a real retrieval run.
    "q166_ndcg" -> ((s, dir) => {
      val lab = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
      val runs = Similarity.knnBruteForce(Tables.embeddings(s, dir))
        .join(lab.select(col("vec_id").as("query_id"), col("label").as("ql")), Seq("query_id"))
        .join(lab.select(col("vec_id").as("neighbor_id"), col("label").as("nl")), Seq("neighbor_id"))
        .select(
          col("query_id"), col("rnk"),
          (when(col("ql") === col("nl"), 2L).otherwise(0L) +
            when(col("dp") > 0L, 1L).otherwise(0L)).as("rel"))
      Stats.ndcgAtK(runs, 10).orderBy("query_id")
    }),

    // Average precision @ 10 of the same retrieval run under BINARY
    // relevance (same-label) — the order-sensitive eval between q140's
    // order-blind recall and q166's graded NDCG: a relevant neighbor
    // at rank 1 is worth more than at rank 10, exactly and in ppm.
    "q167_avg_precision" -> ((s, dir) => {
      val lab = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
      val runs = Similarity.knnBruteForce(Tables.embeddings(s, dir))
        .join(lab.select(col("vec_id").as("query_id"), col("label").as("ql")), Seq("query_id"))
        .join(lab.select(col("vec_id").as("neighbor_id"), col("label").as("nl")), Seq("neighbor_id"))
        .select(
          col("query_id"), col("rnk"),
          when(col("ql") === col("nl"), 1L).otherwise(0L).as("rel"))
      Stats.averagePrecision(runs, 10).orderBy("query_id")
    }),

    // Cohen's kappa between the learned linear scorer and its heuristic
    // teacher — the chance-corrected view of q165's raw agreement: on a
    // skewed keep/reject split, accuracy flatters; kappa subtracts what
    // the marginals would agree on by luck.
    "q168_cohen_kappa" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val labels = TextAnalysis.qualityFilter(docs)
        .select(col("doc_id"), col("keep").as("y"))
      val weights = TextAnalysis.trainQualityWeights(docs, labels)
      Stats.cohenKappa(
        TextAnalysis.scoreQuality(docs, weights).join(labels, Seq("doc_id")),
        col("pred"), col("y")).orderBy("n")
    }),

    // Kendall τ-a between the cosine and L2 rankings of each query's
    // candidate list (q132's two fusion inputs, compared instead of
    // fused): +1 = identical order, −1 = reversed — the pairwise-order
    // complement to q140's membership recall.
    "q169_kendall_tau" -> ((s, dir) => {
      val dual = Similarity.dualRankings(Tables.embeddings(s, dir))
        .filter(col("cos_rank").isNotNull && col("l2_rank").isNotNull)
        .select(
          col("query_id"), col("vec_id").as("item_id"),
          col("cos_rank").as("rank_a"), col("l2_rank").as("rank_b"))
      Stats.kendallTau(dual).orderBy("query_id")
    }),

    // Winnowing fingerprint selection (Schleimer et al. 2003 — MOSS):
    // rightmost-minimum of each w-window of k-gram digests; per-doc
    // fingerprint stats with the set gated through order-free
    // sum/min/max aggregates. Guaranteed recall at ~2/(w+1) density.
    "q163_winnowing" -> ((s, dir) =>
      Dedup.winnowingFingerprints(Tables.documents(s, dir)).orderBy("doc_id")),

    // The MOSS match step over the selected fingerprints: df-capped
    // pair expansion, pairs sharing >= 2 distinct selected digests.
    "q164_winnowing_matches" -> ((s, dir) =>
      Dedup.winnowingMatches(Tables.documents(s, dir)).orderBy("src", "dst")),

    // Coreness via synchronous H-index iteration over the rare-shingle
    // graph — the density grade (deep template families vs incidental
    // shared-phrase pairs) next to q147's local closure; the oracle
    // unrolls every round's max(least(rank, estimate)) neighbor-list
    // H-index exactly.
    "q161_coreness" -> ((s, dir) => landedSwept(
      Graphs.corenessHIndex(Dedup.rareShingleEdges(Tables.documents(s, dir)))
        .orderBy("id"))),

    // HyperBall over the rare-shingle graph: per-node 3-hop ball-size
    // estimates by HLL-register propagation — register-max along edges
    // makes round t EXACTLY the HLL of the true t-hop ball, so distance
    // distributions cost linear passes, not per-node BFS.
    "q172_hyperball" -> ((s, dir) => landedSwept(
      Graphs.hyperBall(Dedup.rareShingleEdges(Tables.documents(s, dir)))
        .orderBy("id"))),

    // Multi-source BFS hop distance from a trusted seed set (doc_id %
    // 23 == 0) over the rare-shingle graph — the discrete TrustRank
    // proximity prior; the oracle unrolls the same min-relaxation
    // rounds.
    "q162_seed_distance" -> ((s, dir) => landedSwept({
      val docs = Tables.documents(s, dir)
      // Same persisted-edges bracket as q161/q172 (digest chain once).
      val edges = Dedup.rareShingleEdges(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Graphs.seedDistances(
          edges,
          docs.filter(pmod(col("doc_id"), lit(23L)) === 0L)
            .select(col("doc_id").as("id")))
        .orderBy("id")
    })),

    // Personalized PageRank / TrustRank from the same seed set as q162:
    // teleport mass concentrated on the seeds, so rank measures
    // path-multiplicity-weighted trust proximity — what the discrete
    // BFS hop count cannot see.
    "q178_personalized_pagerank" -> ((s, dir) => landedSwept({
      val docs = Tables.documents(s, dir)
      // Same persisted-edges bracket as q161/q172 (digest chain once).
      val edges = Dedup.rareShingleEdges(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Graphs.personalizedPageRank(
          edges,
          docs.filter(pmod(col("doc_id"), lit(23L)) === 0L)
            .select(col("doc_id").as("id")))
        .orderBy("id")
    })),

    // Rendezvous sharding at n=5 and n=6 side by side: the hash gate
    // itself proves minimal disruption on real data — every moved key's
    // new assignment is the NEW shard (5), so the `moved` column plus
    // shard6 hash-matching the oracle IS the stability proof.
    "q159_rendezvous_shard" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val s5 = Curation.rendezvousShard(docs, col("doc_id").cast("string"), 5)
        .withColumnRenamed("shard", "shard5")
      val s6 = Curation.rendezvousShard(s5, col("doc_id").cast("string"), 6)
        .withColumnRenamed("shard", "shard6")
      s6.select(
          col("doc_id"), col("shard5"), col("shard6"),
          (col("shard5") =!= col("shard6")).as("moved"))
        .orderBy("doc_id")
    }),

    // Tabular CUSUM change-point monitor over zero-filled daily counts:
    // catches sustained level shifts pointwise z-scores (q94) miss. The
    // recurrence evaluates via its prefix-sum/running-extremum closed
    // form — two windows per side, pure BIGINT.
    "q158_cusum" -> ((s, dir) =>
      Timeseries.cusum(Tables.events(s, dir)).orderBy("event_type", "epoch_day")),

    // Stateful streaming sessionization under the batch-parity oracle:
    // events stream through a REAL file source in three time-MONOTONE
    // slices (state carries open sessions across micro-batches), the
    // flatMapGroupsWithState operator emits per-batch session updates,
    // and the final per-(user, session) state must hash-match the BATCH
    // sessionizer's oracle (q11's SQL verbatim). Watermark delay spans
    // the corpus so no state evicts mid-gate (eviction restarts a
    // user's session ids — production semantics, but the parity claim
    // needs the full numbering).
    "q157_streaming_sessions" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
      val bounds = ev.agg(
        min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi"))
      val sliced = ev.crossJoin(broadcast(bounds))
        .withColumn("slice", expr("((unix_micros(ts) - lo) * 3) div (hi - lo + 1)"))
        .select(col("user_id"), col("ts"), col("slice"))
      val outDir = exitCleanedTempDir("graft_sess_out")
      StreamingOps.streamShardsThrough(
          s, sliced, "slice", 3, outputMode = "update",
          stageKey = Some(s"q157_streaming_sessions:$dir"),
          shufflePartitions = Some(8))(
          st => StreamingOps
            .sessionize(s, st, watermarkDelay = "3650 days").toDF())(
          StreamingOps.sink(EpochState.Rows, outDir))
      val ups = s.read.parquet(outDir)
      // A session's updates only grow: the max-n_events row is its final
      // state (timeout re-emits are exact duplicates; the tie-break just
      // picks one of identical rows).
      val w = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("n_events").desc, col("last_us").desc, col("first_us"))
      ups.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(
          col("user_id"), col("session_id"), col("n_events"),
          col("first_us"), col("last_us"),
          (col("last_us") - col("first_us")).as("duration_us"))
        .orderBy("user_id", "session_id")
    }),

    // Fourth codec class, first with REAL compression on the wire: PNG
    // with a genuine zlib IDAT stream, real scanline filters (row 1 is
    // Sub-filtered — inflate alone is not decode), and verified CRC-32s.
    // Every gated feature is pixel-derived, so the oracle reproduces
    // them from the text bytes; idat_len (deflate-impl-specific) is
    // engine-asserted in the spec, not hash-gated.
    "q156_png_features" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        Multimodal.decodeEach(
            Multimodal.toPng(Tables.documents(s, dir)
              .spreadWide("doc_id")))(Multimodal.pngFeatures)
          .toDF()
          .drop("idat_len"))
        .orderBy("doc_id")),

    // REAL baseline-JPEG (T.81 SOF0) round trip: deterministic DC-only
    // grayscale payloads from document text (a flat-block stream is a
    // valid baseline JPEG), decoded by a full table-driven parser —
    // segment grammar, canonical Huffman DC+AC decode with EXTEND,
    // byte-unstuffing, dequant, exact integer flat-block IDCT. The
    // oracle replays the surviving lossy surface (quantized DC terms,
    // Huffman bit counts, flat reconstruction) from the source text.
    "q229_jpeg_features" -> ((s, dir) =>
      Multimodal.decodeEach(Multimodal.toJpeg(
          Tables.documents(s, dir).filter(col("n_chars") >= 64)))(Multimodal.JpegCodec.decode)
        .toDF()
        .orderBy("doc_id")),

    // Quarantined decode over a corpus with DETERMINISTIC corruption
    // (every 7th payload's SOI byte zeroed): malformed payloads become
    // inspectable (ok=false, err_kind) rows instead of task failures;
    // clean payloads decode exactly as q229 — the PERMISSIVE-reader
    // contract applied to binary columns.
    "q234_decode_quarantine" -> ((s, dir) => {
      val media = Multimodal.toJpeg(
          Tables.documents(s, dir).filter(col("n_chars") >= 64))
        .withColumn("payload",
          when(pmod(col("doc_id"), lit(7)) === 0,
            expr("overlay(payload PLACING X'00' FROM 1)"))
            .otherwise(col("payload")))
      Multimodal.decodeJpegQuarantine(s, media).toDF().orderBy("doc_id")
    }),

    // BM25 more-like-this over word bigrams: the lexical retrieval leg —
    // doc_id % 25 probe set, exact-integer idf/tf-saturation, top-10.
    "q143_bm25_retrieval" -> ((s, dir) => landedSwept(
      TextAnalysis.bm25MoreLikeThis(Tables.documents(s, dir))
        .orderBy("query_id", "rnk"))),

    // Character-entropy quality scores: whole-bit surprisal per doc —
    // the binary-junk/padding-spam detector, exact BIGINT millibits.
    "q144_char_entropy" -> ((s, dir) =>
      landed( // q279's fixture-shape notes (repartition + landed-before-order)
        TextAnalysis.charEntropy(Tables.documents(s, dir)
          .spreadWide("doc_id")))
        .orderBy("doc_id")),

    // k-anonymity + l-diversity audit over (nation, segment) quasi-ids
    // with account-delinquency as the sensitive attribute: linkage- and
    // homogeneity-attack flags per group.
    "q145_k_anonymity" -> ((s, dir) =>
      Curation.kAnonymityAudit(
        Tables.customer(s, dir),
        Seq(col("c_nationkey"), col("c_mktsegment")),
        when(col("c_acctbal") < 0, lit("delinquent")).otherwise(lit("ok")))
        .orderBy("c_nationkey", "c_mktsegment")),

    // SCD2 validity intervals from the event stream: run-collapsed
    // event_type history per user, half-open [from, to) microsecond
    // ranges, -1 sentinel on the open tail.
    "q146_scd2_intervals" -> ((s, dir) =>
      Timeseries.scd2Intervals(Tables.events(s, dir))
        .orderBy("user_id", "version")),

    // Exact triangle counts + ppm clustering coefficients over the
    // rare-shingle co-occurrence graph (df 2-3 shared 3-shingles) —
    // degree-oriented compact-forward, never neighbors-of-neighbors.
    "q147_triangle_counts" -> ((s, dir) => landedSwept(
      Graphs.triangleCounts(Dedup.rareShingleEdges(Tables.documents(s, dir)))
        .orderBy("id"))),

    // Margin-based parallel-pair mining (Artetxe & Schwenk absolute
    // margin over sign-LSH candidates): cross-side pairs scored by how
    // far their dot stands above BOTH endpoints' bucket-local top-k
    // averages, mutual-argmax + positive-margin filtered. Sides = even
    // vs odd label. Exact integer end to end (lo-shifted floor-division
    // neighborhood averages).
    "q155_bitext_mining" -> ((s, dir) => landedSwept(
      Similarity.marginBitextPairs(
          Tables.embeddings(s, dir), pmod(col("label"), lit(2)) === 0)
        .orderBy("a_id", "b_id"))),

    // Synchronous label propagation over the rare-shingle graph —
    // community detection (template families) with the deterministic
    // smallest-label tie-break; the oracle replays every round's
    // neighbor-label argmax as unrolled CTEs.
    "q154_label_propagation" -> ((s, dir) => landedSwept(
      Graphs.labelPropagation(Dedup.rareShingleEdges(Tables.documents(s, dir)))
        .orderBy("id"))),

    // Newman modularity of the q154 communities: exact BIGINT
    // sufficient statistics (4·m·m_c − d_c²) per community + one IEEE
    // division — the clustering-quality grade (negative rows ARE
    // meaningful: worse-than-random communities).
    "q207_modularity" -> ((s, dir) => landedSwept({
      // Persisted: labelPropagation symmetrizes it (2 refs) and
      // modularity reads it three more times (totals, degrees, intra) —
      // unpersisted, the digest+self-join subtree executes ~5x.
      val edges = Dedup.rareShingleEdges(Tables.documents(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Graphs.modularity(edges, Graphs.labelPropagation(edges))
        .orderBy("label")
    })),

    // Interval-overlap join: SCD2 attribute versions × sessions per user
    // (which version was in effect during each session) — day-bucket
    // replication equi-join; the oracle is the NAIVE inequality join, so
    // the hash match proves the bucketed plan lossless.
    "q148_version_session_overlap" -> ((s, dir) => {
      val maxUs = Tables.events(s, dir)
        .agg(max(unix_micros(col("ts"))).as("max_us"))
      val versions = Timeseries.scd2Intervals(Tables.events(s, dir))
        .crossJoin(broadcast(maxUs))
        .select(
          col("user_id"), col("attr"), col("version"),
          col("valid_from_us").as("v_start_us"),
          // Half-open [from, to) → inclusive end; the open tail runs to
          // the corpus horizon. A same-timestamp change run yields an
          // EMPTY version ([T, T) → end T−1 < start T): it was never in
          // effect and matches nothing — intervalJoin's end ≥ start
          // guard drops it, and the oracle's vers CTE filters the same
          // rows so the lossless claim stays exact.
          when(col("valid_to_us") === -1L, col("max_us"))
            .otherwise(col("valid_to_us") - 1L).as("v_end_us"))
      val sessions = batchSessions(s, dir)
        .select(col("user_id"), col("session_id"), col("first_us"), col("last_us"))
      Joins.intervalJoin(
          versions, sessions, Seq("user_id"),
          "v_start_us", "v_end_us", "first_us", "last_us",
          bucketWidth = 86400L * 1000000L)
        .select(
          col("user_id"), col("attr"), col("version"), col("session_id"),
          greatest(col("v_start_us"), col("first_us")).as("ov_start_us"),
          least(col("v_end_us"), col("last_us")).as("ov_end_us"))
        .orderBy("user_id", "version", "session_id")
    }),

    // Scaled-integer PageRank over the sign-LSH co-bucket graph of the
    // embedding corpus — exact BIGINT centrality, 4 rounds.
    "q136_pagerank" -> ((s, dir) => landedSwept({
      val b = Similarity.signBuckets(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("bucket"))
      val edges = b.select(col("vec_id").as("src"), col("bucket"))
        .join(b.select(col("vec_id").as("dst"), col("bucket")), Seq("bucket"))
        .filter(col("src") < col("dst"))
        .select(col("src"), col("dst"))
      Graphs.pageRank(edges).orderBy("id")
    })),

    // Same for the dense-window (offset-robust) rolling state over the
    // q101 shifted corpus — q101's oracle verbatim.
    "q123_streaming_rolling_state" -> ((s, dir) => {
      val shifted = shiftedBoilerplateCorpus(s, dir)
      val path = exitCleanedTempDir("graft_q123_rc")
      StreamingOps.streamShards(s, shifted, "doc_id", 3, stageKey = Some(s"q123_streaming_rolling_state:$dir"), shufflePartitions = Some(2))(
        StreamingOps.sink(EpochState.RollingCounts(), path))
      Dedup.rollingPassageDedupAgainst(
          shifted, StreamingOps.merged(s, EpochState.RollingCounts(), path))
        .orderBy("doc_id")
    }),

    // Five-table star join over the remaining dimension tables
    // (part/supplier/region were otherwise unexercised): revenue by
    // region × brand, all four dims broadcast — ONE fact shuffle.
    "q91_region_brand_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("p_brand"))
        .agg(
          round(sum(dec("l_extendedprice") * (lit(1).cast(DecimalType(18, 4)) - dec("l_discount"))), 4)
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"),
          count_distinct(col("s_suppkey")).as("n_suppliers"))
        .orderBy("r_name", "p_brand")),

    // Hybrid semantic+lexical near-dup report: embedding-LSH candidate
    // recall, exact shingle-jaccard precision, both scores per pair.
    // Lifecycle bracket + driver landing: pair-bounded answer, both
    // index caches released before return (BASELINE.md convention).
    "q90_hybrid_near_dup" -> ((s, dir) =>
      Dedup.withHybridNearDupPairs(Tables.documents(s, dir), Tables.embeddings(s, dir)) {
        pairs => landed(pairs.orderBy("doc_a", "doc_b"))
      }),

    // End-to-end batch curation flagship: quality filter → boilerplate
    // removal → exact dedup on CLEANED text → split, with a verdict row
    // per input document.
    // Lifecycle bracket + driver landing: one verdict row per input doc
    // (corpus-row-bounded — fine at gate SF, capped by landed()), the
    // cleaned-table cache released before return.
    "q89_curate_corpus" -> ((s, dir) =>
      Curation.withCurateCorpus(Tables.documents(s, dir)) {
        verdicts => landed(verdicts.orderBy("doc_id"))
      }),

    // Per-source token-distribution drift vs the corpus: top chi²
    // contributions per source (emitted per row — a summed statistic
    // would be an order-dependent float fold).
    // Lifecycle bracket + driver landing: sources×topK-bounded answer,
    // the (source, token) count cache released before return.
    "q88_source_drift" -> ((s, dir) =>
      TextAnalysis.withSourceDrift(Tables.documents(s, dir)) {
        drift => landed(drift.orderBy("source", "rnk"))
      }),

    // Sub-document boilerplate removal: 8-token passages whose digest
    // appears in more than one document are dropped from every document;
    // clean text is rebuilt narrowly from the surviving passages.
    "q84_passage_dedup" -> ((s, dir) =>
      Dedup.passageDedup(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // Per-doc LM-surprise signals — the deterministic core of a
    // perplexity filter (rare-transition counts + least likely
    // transition), scored against the q63 corpus bigram model.
    "q85_bigram_surprise" -> ((s, dir) =>
      TextAnalysis.bigramSurprise(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // Count-Min frequency sketch (4×64) per source + probe of every
    // distinct token — deterministic md5-slice hash family, so counts,
    // estimates, and overcounts all hash-verify.
    "q86_count_min" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.wordsCol).as("tok"))
      graft.functions.Sketches.countMin(toks, "source", "tok")
        .orderBy("grp", "item")
    }),

    // SemDeDup-style semantic dedup: sign-LSH buckets as the cluster
    // step, within-bucket exact cosine, lowest-id canonical survivor.
    // Lifecycle bracket + driver landing: one verdict row per vector
    // (embedding-row-bounded at gate SF, capped by landed()), the
    // bucketed-quantized cache released before return.
    "q87_semantic_dedup" -> ((s, dir) =>
      Similarity.withSemanticDedup(Tables.embeddings(s, dir), minCosine = 0.2) {
        verdicts => landed(verdicts.orderBy("vec_id"))
      }),

    // Cluster-aware split — the FIX for q82's leakage: hash-split on the
    // near-dup cluster's canonical id, so whole components share a split.
    "q83_cluster_split" -> ((s, dir) => landedSwept(
      Curation.clusterAwareSplit(Tables.documents(s, dir))
        .orderBy("doc_id"))),

    // Split-leakage audit: verified near-dup pairs straddling a hash-split
    // boundary — the within-corpus contamination check run between
    // splitting and training (q37 assigns, q25 verifies, this joins them).
    "q82_split_leakage" -> ((s, dir) => landedSwept(
      Curation.splitLeakage(Tables.documents(s, dir))
        .orderBy("doc_a", "doc_b"))),

    // BPE tokenizer training, iteration-1 pair counts: corpus → vocabulary
    // (the only corpus-sized shuffle) → adjacent-char pairs weighted by
    // word frequency (alphabet²-bounded aggregate). Top-20 merges ranked
    // (cnt DESC, pair) — the total order makes the limit deterministic.
    "q81_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir))
        .orderBy(col("cnt").desc, col("c1"), col("c2"))
        .limit(20)),

    // Misra–Gries heavy hitters (custom mergeable TypedImperativeAggregate,
    // ≤ k counters per buffer — the bounded-state path when the vocabulary
    // is itself the scale problem). Sketch survivors near the threshold are
    // partitioning-dependent by nature, so the GATE is the theory: every
    // token whose EXACT count clears n/(k+1) must be present with its
    // estimate inside the error bound — the oracle computes the exact-count
    // row set and asserts both booleans.
    "q80_heavy_hitters" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.wordsCol).as("tok"))
      graft.functions.Sketches.heavyHittersChecked(toks, "source", "tok", k = 24)
        .orderBy("grp", "item")
    }),

    // Mergeable approximate quantiles (Greenwald–Khanna via
    // approx_percentile) — the 100 TB replacement for q34/q57/q71's exact
    // percentile, whose per-group state is the full value multiset. The
    // sketch's answer cannot be reproduced bit-for-bit by another engine,
    // so the GATE is the error bound: for each (group, p) the exact rank
    // of the sketched cutoff must sit within the documented ±n/accuracy —
    // the oracle computes n exactly and asserts the bound holds (TRUE).
    "q79_approx_quantiles" -> ((s, dir) =>
      Stats.approxQuantileRankCheck(
        Tables.orders(s, dir), col("o_orderpriority"), col("o_totalprice"))
        .orderBy("grp", "p")),

    // Map-typed columns: per-user event-type→count maps built with
    // map_from_entries, then consumed via size/map_keys/element_at and an
    // aggregate HOF over map_values. The oracle reproduces the OUTPUT with
    // conditional aggregation (DuckDB's map subscript semantics vary by
    // version; the values, not the method, are the contract).
    "q56_map_ops" -> ((s, dir) => {
      val counts = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      counts
        .groupBy(col("user_id"))
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("event_type"), col("n"))))).as("m"))
        .select(
          col("user_id"),
          size(col("m")).as("n_types"),
          concat_ws(",", map_keys(col("m"))).as("types"),
          coalesce(element_at(col("m"), "click"), lit(0L)).as("click_n"),
          coalesce(element_at(col("m"), "error"), lit(0L)).as("error_n"),
          aggregate(map_values(col("m")), lit(0L), (a, b) => a + b).as("total"))
        .orderBy("user_id")
    }),

    // Full-outer join with two-sided null extension + key coalescing:
    // per-user purchase vs click day-counts over disjoint-ish user slices.
    "q54_full_outer" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val p = ev.filter(col("event_type") === "purchase" && col("user_id") < 75)
        .groupBy(col("user_id").as("p_user")).agg(count(lit(1)).as("n_purchases"))
      val c = ev.filter(col("event_type") === "click" && col("user_id") >= 50)
        .groupBy(col("user_id").as("c_user")).agg(count(lit(1)).as("n_clicks"))
      p.join(c, col("p_user") === col("c_user"), "full_outer")
        .select(
          coalesce(col("p_user"), col("c_user")).as("user_id"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          (col("p_user").isNull || col("c_user").isNull).as("one_sided"))
        .orderBy("user_id")
    }),

    // Analytic window functions: ntile, percent_rank, cume_dist, lag/lead
    // over per-customer order histories.
    "q55_analytic_windows" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .filter(col("o_custkey") < 200)
        .select(
          col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          lag(col("o_orderkey"), 1, -1L).over(w).as("prev_order"),
          lead(col("o_orderkey"), 1, -1L).over(w).as("next_order"))
        .orderBy("o_custkey", "o_date", "o_orderkey")
    }),

    // Ranking-training negatives: deterministic hash draws per carousel,
    // excluding shown items.
    "q53_sample_negatives" -> ((s, dir) =>
      TrainingPipeline.sampleNegatives(EventFixtures.impressions(s, dir))
        .orderBy("dt", "ranking_id", "customer_id", "rn")),

    // Embedding mean pooling: chunk→document element-wise integer mean.
    "q51_mean_pool" -> ((s, dir) =>
      Similarity.meanPool(Tables.embeddings(s, dir), col("vec_id") % 10)
        .orderBy("group_id")),

    // KMV distinct-count sketch per event type (deterministic, mergeable).
    "q52_kmv_distinct" -> ((s, dir) =>
      graft.functions.Sketches.kmvDistinct(Tables.events(s, dir), "event_type", "user_id")
        .orderBy("event_type")),

    // Arbitrary GROUPING SETS + grouping() flags, through the SQL surface
    // (temp view + spark.sql — the engine's SQL API in the gate).
    // Correlated scalar subquery + EXISTS + NOT EXISTS through the SQL
    // surface — Catalyst's subquery decorrelation (rewrite to aggregate
    // + join / semi / anti join) exercised end to end. The average is
    // compared in exact integer cents (count x price > sum) so the
    // predicate never rides a partition-order double fold.
    "q180_correlated_subquery" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_cs")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_cs")
      s.sql(
        """SELECT o.o_orderkey, o.o_orderpriority,
          |       CAST(o.o_totalprice AS DOUBLE) AS price
          |FROM orders_cs o
          |WHERE CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) *
          |        (SELECT COUNT(*) FROM orders_cs o2
          |         WHERE o2.o_orderpriority = o.o_orderpriority) >
          |      (SELECT SUM(CAST(ROUND(o3.o_totalprice * 100, 0) AS BIGINT))
          |       FROM orders_cs o3
          |       WHERE o3.o_orderpriority = o.o_orderpriority)
          |  AND EXISTS (SELECT 1 FROM lineitem_cs l
          |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
          |  AND NOT EXISTS (SELECT 1 FROM lineitem_cs l
          |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
          |ORDER BY o.o_orderkey""".stripMargin)
    }),

    // Multiset set operations: INTERSECT ALL / EXCEPT ALL keep
    // multiplicities (the bag semantics q32's DISTINCT variants drop) —
    // a part returned twice and filed once survives EXCEPT ALL once.
    "q181_set_ops_all" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val a = li.filter(col("l_returnflag") === "R").select(col("l_partkey"))
      val b = li.filter(col("l_linestatus") === "F").select(col("l_partkey"))
      a.intersectAll(b).select(lit("i").as("op"), col("l_partkey"))
        .unionByName(a.exceptAll(b).select(lit("e").as("op"), col("l_partkey")))
        .orderBy("op", "l_partkey")
    }),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    // MATCH each other instead of vanishing — the semantics an ordinary
    // equi-join cannot express without COALESCE sentinels.
    "q182_null_safe_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def side(m: Int, cnt: String) = ev
        .filter(pmod(col("event_id"), lit(2L)) === m.toLong)
        .withColumn("k", when(col("event_type") === "click", lit(null).cast("string"))
          .otherwise(col("event_type")))
        .groupBy(col("k")).agg(count(lit(1)).as(cnt))
      val a = side(0, "n_even").withColumnRenamed("k", "ka")
      val b = side(1, "n_odd").withColumnRenamed("k", "kb")
      a.join(b, col("ka") <=> col("kb"))
        .select(coalesce(col("ka"), lit("<null>")).as("k"), col("n_even"), col("n_odd"))
        .orderBy("k")
    }),

    "q50_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
      s.sql(
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
          |       coalesce(l_linestatus, 'ALL') AS sm,
          |       CAST(grouping(l_returnflag) AS INT) AS g_rf,
          |       CAST(grouping(l_linestatus) AS INT) AS g_sm,
          |       COUNT(*) AS n,
          |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
          |FROM lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY g_rf, g_sm, rf, sm""".stripMargin)
    }),

    // RANGE-frame sliding window: per-user 7-day moving value sum/count
    // over gap-ful daily series (RANGE, not ROWS — missing days must not
    // stretch the window). Exact decimal arithmetic under the window sum.
    "q49_moving_window" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(
          col("user_id"),
          unix_date(to_date(col("ts"))).cast("long").as("epoch_day"))
        .agg(
          sum(col("value").cast(DecimalType(18, 2))).as("dsum"),
          count(lit(1)).as("n"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("epoch_day"))
        .rangeBetween(-6, 0)
      daily.select(
        col("user_id"), col("epoch_day"),
        col("dsum").cast("double").as("daily_value"),
        sum(col("dsum")).over(w).cast("double").as("mov_value"),
        sum(col("n")).over(w).cast("long").as("mov_n"))
        .orderBy("user_id", "epoch_day")
    }),

    // Text: top-5 distinctive terms per doc (oracle-safe tf-idf variant).
    "q48_distinctive_terms" -> ((s, dir) =>
      TextAnalysis.distinctiveTerms(Tables.documents(s, dir))
        .orderBy("doc_id", "rnk")),

    // Dedup: transitive closure of verified near-dup pairs into canonical
    // clusters (hash-min connected components).
    "q47_dedup_clusters" -> ((s, dir) => landedSwept(
      Dedup.dedupClusters(
        Dedup.lshVerifiedPairs(Tables.documents(s, dir), minJaccard = 0.5))
        .orderBy("doc_id"))),

    // As-of join: each purchase matched to the user's most recent view at
    // or before it (union + one window pass — no inequality join).
    "q45_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("t", unix_micros(col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("t"))
      val views = ev.filter(col("event_type") === "view")
        .select(
          col("user_id"),
          col("event_id").as("view_event_id"),
          col("t").as("view_t"))
      Joins.asOfJoin(purchases, views, Seq("user_id"), "t", "view_t", Seq("view_event_id"))
        .select(
          col("user_id"), col("event_id"), col("t"),
          coalesce(col("matched_view_t"), lit(-1L)).as("view_t"),
          coalesce(col("matched_view_event_id"), lit(-1L)).as("view_event_id"))
        .orderBy("user_id", "t", "event_id")
    }),

    // Range join: clicks landing within 10 minutes after an error by the
    // same user (bucketized equi-join — no inequality cross product).
    "q46_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("t", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("t").as("click_t"))
      val errors = ev.filter(col("event_type") === "error")
        .select(
          col("user_id"), col("event_id").as("error_id"),
          col("t").as("err_start"), (col("t") + lit(600000000L)).as("err_end"))
      Joins.rangeJoin(
        clicks, errors, Seq("user_id"), "click_t", "err_start", "err_end",
        bucketWidth = 600000000L)
        .select("user_id", "error_id", "click_id", "click_t", "err_start")
        .orderBy("user_id", "error_id", "click_id")
    }),

    // JSON extraction from the events props column + aggregation.
    "q30_json_props" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("value"))
        .groupBy(col("event_type"), (col("k") % 10).as("k_bucket"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .orderBy("event_type", "k_bucket")),

    // Scalar-function kitchen sink (dates, strings, math) + global
    // ORDER BY/LIMIT — operator classes absent from the reference.
    "q31_scalar_limit" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          upper(col("o_orderpriority")).as("pri"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since"),
          lpad((col("o_orderkey") % 100).cast("string"), 3, "0").as("key_pad"),
          floor(col("o_totalprice")).cast("long").as("price_floor"),
          abs(col("o_custkey") - 750).as("cust_dist"))
        .orderBy("o_orderkey")
        .limit(100)),

    // Multimodal: binary payload + metadata + feature extraction. Two
    // decode paths joined: the byte histogram over the text/plain payload
    // (f0/f6), and a REAL binary-PGM decode — each doc wrapped as a
    // 1-row P5 graymap (header with comment line + raw raster), parsed
    // back by pgmFeatures, raster reduced to pixel moments. The decoded
    // width/mean/max are checkable in SQL because the raster bytes ARE
    // the document's ASCII bytes.
    "q24_multimodal_features" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val media = Multimodal.toMedia(docs)
      val feats = Multimodal.decodeEach(media)(Multimodal.histogramFeatures).toDF()
      val pgm = Multimodal.decodeEach(Multimodal.toPgm(docs))(Multimodal.pgmFeatures).toDF()
      val ppm = Multimodal.decodeEach(Multimodal.toPpm(docs))(Multimodal.ppmFeatures).toDF()
      // Real multi-frame path: every 4th frame of the concatenated-P5
      // stream, each sampled frame decoded as its own image.
      val frames = Multimodal.decodePgmFrames(
        s,
        Multimodal.sampleFrames(
          Multimodal.toAnimatedPgm(docs),
          stride = 4, frameBytes = Multimodal.AnimFrameTotalBytes)).toDF()
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_sampled_frames"),
          min(when(col("frame_idx") === 0, col("mean_px"))).as("frame0_mean_px"))
      // Zero-frame (empty-text) docs have no frames row at all — a left
      // join + explicit zero keeps them in the report instead of silently
      // dropping them (frame0_mean_px stays null: frame 0 doesn't exist).
      media
        .select(
          col("doc_id"),
          col("meta.n_bytes").as("n_bytes"),
          col("meta.n_frames").as("n_frames"))
        .join(feats, "doc_id")
        .join(pgm.select(
          col("doc_id"), col("width"), col("mean_px"), col("min_px"), col("max_px")),
          "doc_id")
        .join(ppm.select(
          col("doc_id"), col("width").as("ppm_width"),
          col("r_mean"), col("g_mean"), col("b_mean")),
          "doc_id")
        .join(frames, Seq("doc_id"), "left_outer")
        .select(
          col("doc_id"), col("n_bytes"), col("n_frames"),
          element_at(col("features"), 1).as("f0"),
          element_at(col("features"), 7).as("f6"),
          col("width"), col("mean_px"), col("min_px"), col("max_px"),
          col("ppm_width"), col("r_mean"), col("g_mean"), col("b_mean"),
          coalesce(col("n_sampled_frames"), lit(0L)).as("n_sampled_frames"),
          col("frame0_mean_px"))
        .orderBy("doc_id")
    }))

  /** Shared oracle CTE: the events stream exactly as Spark sees it (DuckDB
    * already truncates the parquet ns timestamps to µs the same way our
    * `ts DIV 1000` read does).
    */
  private val evActions =
    """actions AS (
      |  SELECT user_id AS customer_id,
      |         event_id % 1000 AS item_id,
      |         ts AS action_time,
      |         CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 ELSE 3 END AS action_type
      |  FROM events WHERE event_type IN ('click','view','purchase')
      |)""".stripMargin

  private val evImpressions =
    """imp AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS dt,
      |         CAST(MIN(event_id) OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS VARCHAR) AS ranking_id,
      |         user_id AS customer_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY event_id) - 1 AS INT) AS impression_pos,
      |         event_id % 1000 AS impression_item_id,
      |         CAST(CASE WHEN value > 100 THEN 1 ELSE 0 END AS INT) AS label,
      |         CAST(CAST(ts AS DATE) AS TIMESTAMP) AS cutoff_ts
      |  FROM events WHERE event_type = 'purchase'
      |)""".stripMargin

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check.
    */
  def oracleSql: Map[String, String] = Map(

    "q01_normalize_actions" ->
      s"""WITH $evActions
         |SELECT customer_id, item_id, epoch_us(action_time) AS action_us, action_type
         |FROM actions
         |ORDER BY customer_id, action_us, item_id, action_type""".stripMargin,

    "q02_explode_impressions" ->
      s"""WITH $evImpressions
         |SELECT dt, ranking_id, customer_id, impression_pos, impression_item_id, label
         |FROM imp
         |ORDER BY dt, ranking_id, customer_id, impression_pos""".stripMargin,

    "q03_training_examples" -> trainingExamplesOracle,

    // The reference's default depth: same replay at max_history = 1000.
    "q244_training_examples_default" -> trainingExamplesOracleAt(1000),

    "q04_customer_history" ->
      s"""WITH $evActions,
         |dts AS (
         |  SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS dt,
         |         CAST(CAST(ts AS DATE) AS TIMESTAMP) AS cutoff_ts
         |  FROM events WHERE event_type = 'purchase'
         |),
         |ranked AS (
         |  SELECT d.dt, a.customer_id, a.item_id, a.action_type,
         |         ROW_NUMBER() OVER (
         |           PARTITION BY a.customer_id, d.dt
         |           ORDER BY a.action_time DESC, a.item_id, a.action_type) AS rn
         |  FROM actions a JOIN dts d ON a.action_time < d.cutoff_ts
         |),
         |agg AS (
         |  SELECT customer_id, dt,
         |         list(item_id ORDER BY rn) FILTER (WHERE rn <= 8) AS acts,
         |         list(action_type ORDER BY rn) FILTER (WHERE rn <= 8) AS atys
         |  FROM ranked
         |  GROUP BY customer_id, dt
         |)
         |SELECT customer_id, dt,
         |       array_to_string((COALESCE(acts, CAST([] AS BIGINT[])) || CAST([0,0,0,0,0,0,0,0] AS BIGINT[]))[1:8], ',') AS actions,
         |       array_to_string((COALESCE(atys, CAST([] AS INT[])) || CAST([0,0,0,0,0,0,0,0] AS INT[]))[1:8], ',') AS action_types
         |FROM agg
         |ORDER BY customer_id, dt""".stripMargin,

    "q05_training_examples_precomputed" -> trainingExamplesOracle,

    "q06_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS sum_disc_price,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q07_revenue_by_nation" ->
      """SELECT n_name,
        |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS revenue,
        |       COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q08_top_orders_per_customer" ->
      """SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3
        |ORDER BY o_custkey, rnk""".stripMargin,

    "q09_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q10_segments_with_orders" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q11_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |),
        |flagged AS (
        |  SELECT user_id, event_id, us,
        |         CASE WHEN us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |),
        |sess AS (
        |  SELECT user_id, us,
        |         CAST(SUM(new_sess) OVER (
        |           PARTITION BY user_id ORDER BY us, event_id
        |           ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |       MIN(us) AS first_us, MAX(us) AS last_us,
        |       MAX(us) - MIN(us) AS duration_us
        |FROM sess
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    // The streaming sessionizer's parity contract IS q11's oracle: the
    // final per-(user, session) state must equal the batch computation.
    "q157_streaming_sessions" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |),
        |flagged AS (
        |  SELECT user_id, event_id, us,
        |         CASE WHEN us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |),
        |sess AS (
        |  SELECT user_id, us,
        |         CAST(SUM(new_sess) OVER (
        |           PARTITION BY user_id ORDER BY us, event_id
        |           ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |       MIN(us) AS first_us, MAX(us) AS last_us,
        |       MAX(us) - MIN(us) AS duration_us
        |FROM sess
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q12_daily_event_stats" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin,

    "q13_text_stats" ->
      """SELECT doc_id, lang, source, n_chars,
        |       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
        |       CAST(length(regexp_replace(trim(text), '\s', '', 'g')) AS BIGINT) AS n_letters,
        |       CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_distinct_words,
        |       CAST(list_aggregate(list_transform(regexp_split_to_array(trim(text), '\s+'), w -> length(w)), 'max') AS BIGINT) AS max_word_len,
        |       CAST(length(regexp_replace(trim(text), '\s', '', 'g')) AS DOUBLE) / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS avg_word_len,
        |       CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('the','a','fast','slow','big','small'))) AS DOUBLE)
        |         / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS stopword_ratio,
        |       (n_words BETWEEN 20 AND 1000) AND (stopword_ratio <= 0.3) AS is_quality
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q14_token_count" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT) AS n_token_types
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q15_language_id" ->
      """SELECT doc_id, lang,
        |       CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('the','a','fast','slow','big','small'))) AS BIGINT) AS hits_en,
        |       CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('join','scan','merge','hash','sort','agg'))) AS BIGINT) AS hits_db,
        |       CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w IN ('query','table','column','row','key','value'))) AS BIGINT) AS hits_sql,
        |       CASE WHEN hits_en >= hits_db AND hits_en >= hits_sql THEN 'en'
        |            WHEN hits_db >= hits_sql THEN 'db'
        |            ELSE 'sql' END AS predicted
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q16_fingerprint" ->
      s"""WITH $docShingles
         |SELECT doc_id, min(md5(sh)) AS fingerprint
         |FROM sh GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "q17_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
        |FROM documents
        |GROUP BY content_hash
        |ORDER BY content_hash""".stripMargin,

    "q18_minhash_bands" ->
      s"""WITH $docShingles,
         |$minhashBands
         |SELECT doc_id, band, band_sig FROM bands
         |ORDER BY doc_id, band""".stripMargin,

    "q19_lsh_pairs" ->
      s"""WITH $docShingles,
         |$minhashBands
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q20_jaccard_pairs" ->
      s"""WITH $docShingles,
         |shh_all AS (
         |  SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h
         |  FROM sh
         |),
         |shh AS (
         |  SELECT * FROM shh_all
         |  WHERE h NOT IN (SELECT h FROM shh_all GROUP BY h HAVING COUNT(*) > 100)
         |),
         |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM shh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |)
         |SELECT doc_a, doc_b, n_common, na.n_sh AS n_a, nb.n_sh AS n_b,
         |       CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) AS jaccard
         |FROM common
         |JOIN counts na ON doc_a = na.doc_id
         |JOIN counts nb ON doc_b = nb.doc_id
         |WHERE CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q21_simhash" ->
      """WITH wh AS (
        |  SELECT doc_id, md5(w) AS h
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents)
        |),
        |nib AS (
        |  SELECT doc_id, np,
        |         instr('0123456789abcdef', substr(h, CAST(np + 1 AS INT), 1)) - 1 AS v
        |  FROM wh CROSS JOIN (SELECT unnest(range(16)) AS np)
        |),
        |bits AS (
        |  SELECT doc_id, np, COUNT(*) AS cnt,
        |         SUM(v % 2) AS s0, SUM((v // 2) % 2) AS s1,
        |         SUM((v // 4) % 2) AS s2, SUM((v // 8) % 2) AS s3
        |  FROM nib GROUP BY doc_id, np
        |),
        |ch AS (
        |  SELECT doc_id, np,
        |         substr('0123456789abcdef',
        |           CAST((CASE WHEN 2*s0 >= cnt THEN 1 ELSE 0 END)
        |              + 2*(CASE WHEN 2*s1 >= cnt THEN 1 ELSE 0 END)
        |              + 4*(CASE WHEN 2*s2 >= cnt THEN 1 ELSE 0 END)
        |              + 8*(CASE WHEN 2*s3 >= cnt THEN 1 ELSE 0 END) + 1 AS INT), 1) AS c
        |  FROM bits
        |)
        |SELECT doc_id, string_agg(c, '' ORDER BY np) AS simhash
        |FROM ch GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q22_knn_bruteforce" ->
      s"""WITH $quantizedEmbeddings,
         |q AS (SELECT vec_id AS query_id, qe AS q_qe, n2 AS q_n2 FROM n WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, n.vec_id,
         |         CAST(list_sum(list_transform(range(1, 65), i -> n.qe[i] * q.q_qe[i])) AS BIGINT) AS dp,
         |         n.n2, q.q_n2
         |  FROM n CROSS JOIN q
         |  WHERE n.vec_id <> q.query_id
         |),
         |ranked AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY dp DESC, vec_id) AS INT) AS rnk
         |  FROM scored
         |)
         |SELECT query_id, vec_id AS neighbor_id, rnk, dp,
         |       CAST(dp AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(q_n2 AS DOUBLE))) AS cosine
         |FROM ranked
         |WHERE rnk <= 10
         |ORDER BY query_id, rnk""".stripMargin,

    "q25_lsh_verified_pairs" ->
      s"""WITH $docShingles,
         |$minhashBands,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
         |),
         |sets AS (
         |  SELECT doc_id,
         |         list(DISTINCT CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)) AS shl,
         |         CAST(COUNT(DISTINCT CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)) AS BIGINT) AS n_sh
         |  FROM sh GROUP BY doc_id
         |),
         |v AS (
         |  SELECT doc_a, doc_b,
         |         CAST(len(list_intersect(sa.shl, sb.shl)) AS BIGINT) AS n_common,
         |         sa.n_sh AS n_a, sb.n_sh AS n_b
         |  FROM cand JOIN sets sa ON doc_a = sa.doc_id JOIN sets sb ON doc_b = sb.doc_id
         |)
         |SELECT doc_a, doc_b, n_common, n_a, n_b,
         |       CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) AS jaccard
         |FROM v
         |WHERE CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q110_canonical_dedup" ->
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS canon_hash,
        |       MIN(doc_id) AS canonical_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_variants
        |FROM documents
        |GROUP BY canon_hash
        |ORDER BY canon_hash""".stripMargin,

    // Same LSH candidate generation as q25; the verify step is character
    // Levenshtein over 256-char prefixes (both engines implement unit-cost
    // edit distance); sim = 1 - lev/max_len is two IEEE ops on exact ints.
    "q111_edit_verified_pairs" ->
      s"""WITH $docShingles,
         |$minhashBands,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
         |),
         |pre AS (SELECT doc_id, substr(text, 1, 256) AS pre FROM documents),
         |v AS (
         |  SELECT doc_a, doc_b,
         |         CAST(levenshtein(pa.pre, pb.pre) AS BIGINT) AS lev,
         |         CAST(greatest(length(pa.pre), length(pb.pre)) AS BIGINT) AS max_len
         |  FROM cand JOIN pre pa ON doc_a = pa.doc_id JOIN pre pb ON doc_b = pb.doc_id
         |)
         |SELECT doc_a, doc_b, lev,
         |       CASE WHEN max_len = 0 THEN 1.0
         |            ELSE 1.0 - CAST(lev AS DOUBLE) / CAST(max_len AS DOUBLE) END AS sim
         |FROM v
         |WHERE (CASE WHEN max_len = 0 THEN 1.0
         |            ELSE 1.0 - CAST(lev AS DOUBLE) / CAST(max_len AS DOUBLE) END) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Integer surprisal: bits(w) = floor(log2 n_total) - floor(log2 cnt)
    // via binary-string lengths — exact in both engines; only the final
    // mean is a (single-IEEE-op) division.
    "q112_unigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents
        |),
        |model AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY w),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM model)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(SUM(length(bin(n_total)) - length(bin(cnt))) AS BIGINT) AS sum_bits,
        |       CAST(CAST(SUM(length(bin(n_total)) - length(bin(cnt))) AS BIGINT) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS mean_bits
        |FROM toks JOIN model USING (w) CROSS JOIN tot
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // Leave-one-out cosine vs the label centroid SUM: all dot products on
    // 1e3-quantized longs (exact; sn2 bounded ~1.6e15 « 2^63), cosine is
    // the one sqrt/multiply/divide chain — identical op order both sides.
    "q113_centroid_outliers" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
        |  FROM embeddings
        |),
        |n AS (
        |  SELECT vec_id, label, qe,
        |         CAST(list_sum(list_transform(range(1, 65), i -> qe[i] * qe[i])) AS BIGINT) AS n2
        |  FROM e
        |),
        |sv AS (
        |  SELECT label, pos, CAST(SUM(v) AS BIGINT) AS s
        |  FROM (SELECT label, unnest(qe) AS v, unnest(range(len(qe))) AS pos FROM e)
        |  GROUP BY label, pos
        |),
        |cent AS (SELECT label, list(s ORDER BY pos) AS svec FROM sv GROUP BY label),
        |cent2 AS (
        |  SELECT label, svec,
        |         CAST(list_sum(list_transform(range(1, 65), i -> svec[i] * svec[i])) AS BIGINT) AS sn2
        |  FROM cent
        |),
        |j AS (
        |  SELECT n.label, n.vec_id, n.n2, cent2.sn2,
        |         CAST(list_sum(list_transform(range(1, 65), i -> n.qe[i] * cent2.svec[i])) AS BIGINT) AS dp_s
        |  FROM n JOIN cent2 USING (label)
        |),
        |l AS (
        |  SELECT label, vec_id, dp_s - n2 AS loo_dp, sn2 - 2 * dp_s + n2 AS loo_n2, n2
        |  FROM j
        |),
        |c AS (
        |  SELECT label, vec_id, CAST(loo_dp AS BIGINT) AS loo_dp,
        |         CAST(loo_dp AS DOUBLE)
        |           / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(loo_n2 AS DOUBLE))) AS cosine
        |  FROM l WHERE loo_n2 > 0 AND n2 > 0
        |),
        |r AS (
        |  SELECT label, vec_id, loo_dp, cosine,
        |         CAST(row_number() OVER (PARTITION BY label ORDER BY cosine ASC, vec_id) AS INT) AS rnk
        |  FROM c
        |)
        |SELECT label, vec_id, rnk, loo_dp, cosine FROM r WHERE rnk <= 5
        |ORDER BY label, rnk""".stripMargin,

    // The WAV wrapper stores each ASCII text byte as one 8-bit unsigned
    // PCM sample, so the decoder's amplitude moments equal the codepoint
    // moments; the mean is a single IEEE division of exact integers.
    "q114_wav_features" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1), i -> unicode(text[i:i])) AS cps
        |  FROM documents
        |)
        |SELECT d.doc_id,
        |       CAST(1 AS INT) AS n_channels,
        |       CAST(8000 AS INT) AS sample_rate,
        |       CAST(8 AS INT) AS bits_per_sample,
        |       CAST(octet_length(encode(d.text)) AS BIGINT) AS n_samples,
        |       CASE WHEN len(px.cps) > 0
        |            THEN CAST(list_sum(px.cps) AS DOUBLE) / CAST(len(px.cps) AS DOUBLE)
        |       END AS mean_amp,
        |       CASE WHEN len(px.cps) > 0 THEN CAST(list_min(px.cps) AS INT) END AS min_amp,
        |       CASE WHEN len(px.cps) > 0 THEN CAST(list_max(px.cps) AS INT) END AS max_amp
        |FROM documents d JOIN px USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // toWav16 stores each ASCII byte as the SIGNED sample (b-128)*256;
    // the decoder's 16-bit signed path must reproduce the affine
    // codepoint moments. list_sum of exact integers, one IEEE division.
    "q115_wav16_features" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1),
        |                        i -> (unicode(text[i:i]) - 128) * 256) AS amps
        |  FROM documents
        |)
        |SELECT d.doc_id,
        |       CAST(1 AS INT) AS n_channels,
        |       CAST(8000 AS INT) AS sample_rate,
        |       CAST(16 AS INT) AS bits_per_sample,
        |       CAST(octet_length(encode(d.text)) AS BIGINT) AS n_samples,
        |       CASE WHEN len(px.amps) > 0
        |            THEN CAST(list_sum(px.amps) AS DOUBLE) / CAST(len(px.amps) AS DOUBLE)
        |       END AS mean_amp,
        |       CASE WHEN len(px.amps) > 0 THEN CAST(list_min(px.amps) AS INT) END AS min_amp,
        |       CASE WHEN len(px.amps) > 0 THEN CAST(list_max(px.amps) AS INT) END AS max_amp
        |FROM documents d JOIN px USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // q241: the frame grouping is pure integer arithmetic over the same
    // affine sample mapping as q239.
    "q241_audio_frame_stats" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1),
        |                        i -> CAST((unicode(text[i:i]) - 128) * 256 AS BIGINT)) AS amps
        |  FROM documents
        |),
        |f AS (
        |  SELECT doc_id, CAST((i - 1) // 64 AS BIGINT) AS frame_idx, amps[i] AS v
        |  FROM px, unnest(range(1, len(amps) + 1)) AS u(i)
        |)
        |SELECT doc_id, frame_idx,
        |       CAST(COUNT(*) AS BIGINT) AS n_samples,
        |       CAST(SUM(v) AS BIGINT) AS sum_amp,
        |       CAST(SUM(v * v) AS BIGINT) AS energy,
        |       CAST(MIN(v) AS BIGINT) AS min_amp,
        |       CAST(MAX(v) AS BIGINT) AS max_amp
        |FROM f GROUP BY doc_id, frame_idx
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // q247: frames are consecutive 16-byte slices of the text (the
    // toAvi mapping; ASCII corpus => byte == codepoint), so the stats
    // replay from unicode() values grouped by (i-1)//16.
    "q247_video_frame_stats" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1),
        |                        i -> CAST(unicode(text[i:i]) AS BIGINT)) AS bs
        |  FROM documents
        |),
        |f AS (
        |  SELECT doc_id, CAST((i - 1) // 16 AS BIGINT) AS frame_idx, bs[i] AS v
        |  FROM px, unnest(range(1, len(bs) + 1)) AS u(i)
        |)
        |SELECT doc_id, frame_idx,
        |       CAST(COUNT(*) AS BIGINT) AS n_bytes,
        |       CAST(SUM(v) AS BIGINT) AS sum_byte,
        |       CAST(MIN(v) AS BIGINT) AS min_byte,
        |       CAST(MAX(v) AS BIGINT) AS max_byte
        |FROM f GROUP BY doc_id, frame_idx
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // q248: every 4th frame; the digest is md5 of the exact text slice
    // the frame chunk must carry — any container/decoder byte loss
    // hash-fails.
    "q248_video_frame_sample" ->
      """WITH n AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS d,
        |         CAST((length(text) + 15) // 16 AS BIGINT) AS nf
        |  FROM documents
        |),
        |f AS (
        |  SELECT doc_id, CAST(j AS BIGINT) AS frame_idx,
        |         CAST(LEAST(CAST(16 AS BIGINT), d - j * 16) AS BIGINT) AS n_bytes,
        |         md5(text[CAST(j * 16 + 1 AS INT):CAST(LEAST(d, (j + 1) * 16) AS INT)]) AS frame_digest
        |  FROM n, unnest(range(0, nf)) AS u(j)
        |  WHERE d > 0
        |)
        |SELECT doc_id, frame_idx, n_bytes, frame_digest
        |FROM f WHERE frame_idx % 4 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // q249: zero-padded 16-byte frame vectors from the text slices, the
    // adjacent-pair SAD as exact BIGINT arithmetic, the cut flag at the
    // engine's default threshold.
    "q249_video_scene_cuts" ->
      """WITH n AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS d,
        |         CAST((length(text) + 15) // 16 AS BIGINT) AS nf
        |  FROM documents
        |),
        |f AS (
        |  SELECT doc_id, CAST(j AS BIGINT) AS frame_idx,
        |         list_transform(range(0, 16), i -> CASE WHEN j * 16 + i + 1 <= d
        |           THEN CAST(unicode(text[CAST(j * 16 + i + 1 AS INT):CAST(j * 16 + i + 1 AS INT)]) AS BIGINT)
        |           ELSE CAST(0 AS BIGINT) END) AS bs
        |  FROM n, unnest(range(0, nf)) AS u(j)
        |  WHERE d > 0
        |),
        |s AS (
        |  SELECT a.doc_id, a.frame_idx,
        |         CAST(list_sum(list_transform(range(1, 17),
        |                                      i -> ABS(a.bs[i] - b.bs[i]))) AS BIGINT) AS sad
        |  FROM f a JOIN f b ON a.doc_id = b.doc_id AND a.frame_idx = b.frame_idx + 1
        |)
        |SELECT doc_id, frame_idx, sad, sad >= 1024 AS is_cut
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,

    // q250: sampled-frame digests (q248's md5-of-slice convention),
    // per-doc temporal fingerprint = md5 of the ordered digest join,
    // then clusters = fingerprint groups of size >= 2 with min-doc
    // canonicals — exactly what star pairs + CC compute in the engine.
    "q250_video_dup_clusters" -> videoDupOracleOver(""),

    // q267: q250's batch replay over the SURVIVING corpus — what the
    // merged fingerprint state must equal after the tombstones mask
    // (and compaction physically removes) the taken-down docs.
    "q267_streaming_video_dups" -> videoDupOracleOver(" WHERE doc_id % 7 <> 3"),

    // q252: the routing rule and every builder's geometry replayed from
    // text length alone (ASCII corpus: chars == bytes) — pgm/wav are
    // byte-per-px/sample, ppm packs 3 bytes per pixel, bmp/png are 2-row
    // (len//6)-wide rasters, jpeg is len//64 blocks (min one), avi is
    // ceil(len/16) frames, raw text has no geometry (-1).
    "q252_modality_router" ->
      """WITH n AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS L, doc_id % 8 AS sel
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE
        |    WHEN sel = 0 THEN 'pgm'
        |    WHEN sel = 1 THEN 'ppm'
        |    WHEN sel = 2 THEN 'wav'
        |    WHEN sel = 3 THEN 'bmp'
        |    WHEN sel = 4 AND L >= 6 THEN 'png'
        |    WHEN sel = 5 AND L >= 64 THEN 'jpeg'
        |    WHEN sel = 6 THEN 'avi'
        |    ELSE 'histogram' END AS kind,
        |  CAST(CASE
        |    WHEN sel = 0 THEN L
        |    WHEN sel = 1 THEN L // 3
        |    WHEN sel = 2 THEN L
        |    WHEN sel = 3 THEN 2 * (L // 6)
        |    WHEN sel = 4 AND L >= 6 THEN 2 * (L // 6)
        |    WHEN sel = 5 AND L >= 64 THEN L // 64
        |    WHEN sel = 6 THEN (L + 15) // 16
        |    ELSE -1 END AS BIGINT) AS geom
        |FROM n ORDER BY doc_id""".stripMargin,

    // q253: q252's routing + geometry replay, overlaid with the damage
    // rule — truncation to 8 bytes kills claims that need later bytes
    // (RIFF form types at 9-12, BMP's DIB field at 15-18 → histogram
    // fallback) but not earlier ones (netpbm 2-byte magic, PNG's
    // exactly-8-byte signature, JPEG's 3-byte SOI → quarantined decode:
    // ok=false, geom NULL — no truncated raster can ever decode, every
    // builder's minimum raster exceeds 8 bytes).
    "q253_media_inventory" ->
      """WITH n AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS L, doc_id % 8 AS sel,
        |         doc_id % 9 = 4 AS dmg
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE
        |    WHEN dmg AND sel IN (2, 3, 6) THEN 'histogram'
        |    WHEN sel = 0 THEN 'pgm'
        |    WHEN sel = 1 THEN 'ppm'
        |    WHEN sel = 2 THEN 'wav'
        |    WHEN sel = 3 THEN 'bmp'
        |    WHEN sel = 4 AND L >= 6 THEN 'png'
        |    WHEN sel = 5 AND L >= 64 THEN 'jpeg'
        |    WHEN sel = 6 THEN 'avi'
        |    ELSE 'histogram' END AS kind,
        |  NOT (dmg AND (sel IN (0, 1) OR (sel = 4 AND L >= 6)
        |                OR (sel = 5 AND L >= 64))) AS ok,
        |  CAST(CASE
        |    WHEN dmg THEN
        |      CASE WHEN sel IN (0, 1) OR (sel = 4 AND L >= 6)
        |                OR (sel = 5 AND L >= 64)
        |           THEN NULL ELSE -1 END
        |    WHEN sel = 0 THEN L
        |    WHEN sel = 1 THEN L // 3
        |    WHEN sel = 2 THEN L
        |    WHEN sel = 3 THEN 2 * (L // 6)
        |    WHEN sel = 4 AND L >= 6 THEN 2 * (L // 6)
        |    WHEN sel = 5 AND L >= 64 THEN L // 64
        |    WHEN sel = 6 THEN (L + 15) // 16
        |    ELSE -1 END AS BIGINT) AS geom
        |FROM n ORDER BY doc_id""".stripMargin,

    // q254: q246's example-replay CTEs with the quarantined-doc set in
    // place of the contamination set — the set is exactly the q253
    // oracle's ok=false rows (damaged AND the claim survives the cut).
    "q254_media_gated_examples" ->
      s"""WITH $evActions,
         |$evImpressions,
         |bad AS (
         |  SELECT doc_id FROM documents
         |  WHERE doc_id % 9 = 4
         |    AND (doc_id % 8 IN (0, 1)
         |         OR (doc_id % 8 = 4 AND length(text) >= 6)
         |         OR (doc_id % 8 = 5 AND length(text) >= 64))
         |),
         |joined AS (
         |  SELECT i.dt, i.ranking_id, i.customer_id, i.impression_pos,
         |         i.impression_item_id, i.label,
         |         a.item_id, a.action_type, a.action_time
         |  FROM imp i LEFT JOIN actions a
         |    ON i.customer_id = a.customer_id AND a.action_time < i.cutoff_ts
         |),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY dt, ranking_id, customer_id, impression_pos, impression_item_id
         |      ORDER BY action_time DESC, item_id, action_type) AS rn
         |  FROM joined
         |),
         |exh AS (
         |  SELECT dt, ranking_id, customer_id, impression_pos, impression_item_id, label,
         |         CAST(COUNT(*) FILTER (WHERE action_time IS NOT NULL AND rn <= 8) AS BIGINT) AS hist_len
         |  FROM ranked
         |  GROUP BY dt, ranking_id, customer_id, impression_pos, impression_item_id, label
         |),
         |m AS (
         |  SELECT dt, label, hist_len,
         |         (impression_item_id % (SELECT MAX(doc_id) + 1 FROM documents))
         |           IN (SELECT doc_id FROM bad) AS is_q
         |  FROM exh
         |)
         |SELECT dt, label,
         |       CAST(COUNT(*) AS BIGINT) AS n_examples,
         |       CAST(SUM(CASE WHEN is_q THEN 1 ELSE 0 END) AS BIGINT) AS n_media_quarantined,
         |       CAST(SUM(CASE WHEN is_q THEN hist_len ELSE 0 END) AS BIGINT) AS quarantined_hist_len
         |FROM m GROUP BY dt, label
         |ORDER BY dt, label""".stripMargin,

    // q257: frame f of doc covers text bytes [16f+1, min(16(f+1), L)];
    // resized output byte j of that frame = truncated mean of its 4
    // consecutive bytes; the sub-4-byte ragged tail yields an empty
    // list (sum COALESCEs to 0, min/max stay NULL — the engine's
    // aggregate-with-init / array_min-of-empty semantics).
    "q257_video_resize" ->
      """WITH n AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L,
        |         CAST((length(text) + 15) // 16 AS BIGINT) AS nf
        |  FROM documents
        |),
        |f AS (
        |  SELECT doc_id, text, CAST(j AS BIGINT) AS frame_idx, j * 16 AS base,
        |         CASE WHEN j = nf - 1 AND L % 16 <> 0 THEN L % 16 ELSE 16 END AS len_f
        |  FROM n, unnest(range(0, nf)) AS u(j)
        |  WHERE L > 0
        |),
        |o AS (
        |  SELECT doc_id, frame_idx,
        |         list_transform(range(0, len_f // 4), j ->
        |           (CAST(unicode(text[CAST(base + 4 * j + 1 AS INT):CAST(base + 4 * j + 1 AS INT)]) AS BIGINT)
        |            + unicode(text[CAST(base + 4 * j + 2 AS INT):CAST(base + 4 * j + 2 AS INT)])
        |            + unicode(text[CAST(base + 4 * j + 3 AS INT):CAST(base + 4 * j + 3 AS INT)])
        |            + unicode(text[CAST(base + 4 * j + 4 AS INT):CAST(base + 4 * j + 4 AS INT)])) // 4) AS vs
        |  FROM f
        |)
        |SELECT doc_id, frame_idx,
        |       CAST(len(vs) AS BIGINT) AS n_bytes,
        |       CAST(COALESCE(list_sum(vs), 0) AS BIGINT) AS sum_byte,
        |       CAST(list_min(vs) AS BIGINT) AS min_byte,
        |       CAST(list_max(vs) AS BIGINT) AS max_byte
        |FROM o ORDER BY doc_id, frame_idx""".stripMargin,

    // q259: the transform routing + output geometry replayed from the
    // q253 damage rule — only the TRANSFORMABLE claims matter here
    // (netpbm's 2-byte magics, PNG's exactly-8-byte signature, and
    // JPEG's 3-byte SOI survive the 8-byte cut and quarantine at
    // transform; WAVE/AVI claims die with the cut and pass through),
    // everything else is a passthrough row; out_geom = resized pixels
    // L//4 (pgm) / (L//3)//4 (ppm) / 2*((L//6)//4) (png), resized
    // blocks (L//64+3)//4 (jpeg), resampled samples L//4 (wav), total
    // resized frame bytes 4*(L//16)+(L%16)//4 (avi), -1 for
    // passthrough.
    "q259_media_transform_inventory" ->
      """WITH n AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS L, doc_id % 8 AS sel,
        |         doc_id % 9 = 4 AS dmg
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE
        |    WHEN sel = 0 THEN 'pgm'
        |    WHEN sel = 1 THEN 'ppm'
        |    WHEN sel = 4 AND L >= 6 THEN 'png'
        |    WHEN sel = 5 AND L >= 64 THEN 'jpeg'
        |    WHEN sel = 2 AND NOT dmg THEN 'wav'
        |    WHEN sel = 3 AND NOT dmg THEN 'bmp'
        |    WHEN sel = 6 AND NOT dmg THEN 'avi'
        |    ELSE 'passthrough' END AS kind,
        |  NOT ((sel IN (0, 1) OR (sel = 4 AND L >= 6) OR (sel = 5 AND L >= 64)) AND dmg) AS ok,
        |  CAST(CASE
        |    WHEN (sel IN (0, 1) OR (sel = 4 AND L >= 6) OR (sel = 5 AND L >= 64)) AND dmg THEN NULL
        |    WHEN sel = 0 THEN L // 4
        |    WHEN sel = 1 THEN (L // 3) // 4
        |    WHEN sel = 4 AND L >= 6 THEN 2 * ((L // 6) // 4)
        |    WHEN sel = 5 AND L >= 64 THEN (L // 64 + 3) // 4
        |    WHEN sel = 2 AND NOT dmg THEN L // 4
        |    WHEN sel = 3 AND NOT dmg THEN 2 * ((L // 6) // 4)
        |    WHEN sel = 6 AND NOT dmg THEN 4 * (L // 16) + (L % 16) // 4
        |    ELSE -1 END AS BIGINT) AS out_geom
        |FROM n ORDER BY doc_id""".stripMargin,

    // q265: q252's routing rule with the TRANSFORMED geometry where a
    // transform applies — pgm width and wav samples become L//4, ppm
    // width (L//3)//4, jpeg blocks (L//64+3)//4 (the resized stream's
    // ceil(2·nb/8) block row), avi keeps its frame count (spatial
    // resize preserves temporal structure), everything else is
    // byte-identical passthrough; docs whose image/stream is smaller
    // than one block DROP (the transform emits nothing for them).
    "q265_transformed_lake_router" ->
      """WITH n AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS L, doc_id % 8 AS sel
        |  FROM documents
        |)
        |SELECT doc_id, kind, geom FROM (
        |  SELECT doc_id, sel, L,
        |    CASE
        |      WHEN sel = 0 THEN 'pgm'
        |      WHEN sel = 1 THEN 'ppm'
        |      WHEN sel = 2 THEN 'wav'
        |      WHEN sel = 3 THEN 'bmp'
        |      WHEN sel = 4 AND L >= 6 THEN 'png'
        |      WHEN sel = 5 AND L >= 64 THEN 'jpeg'
        |      WHEN sel = 6 THEN 'avi'
        |      ELSE 'histogram' END AS kind,
        |    CAST(CASE
        |      WHEN sel = 0 THEN L // 4
        |      WHEN sel = 1 THEN (L // 3) // 4
        |      WHEN sel = 2 THEN L // 4
        |      WHEN sel = 3 THEN 2 * ((L // 6) // 4)
        |      WHEN sel = 4 AND L >= 6 THEN 2 * ((L // 6) // 4)
        |      WHEN sel = 5 AND L >= 64 THEN (L // 64 + 3) // 4
        |      WHEN sel = 6 THEN (L + 15) // 16
        |      ELSE -1 END AS BIGINT) AS geom
        |  FROM n)
        |WHERE NOT ((sel IN (0, 2) AND L < 4) OR (sel = 1 AND L < 12)
        |           OR (sel IN (3, 4) AND L >= 6 AND L < 24) OR (sel = 3 AND L < 6))
        |ORDER BY doc_id""".stripMargin,

    // q269: the input PNG's raster is 2 rows of w = L//6 pixels (row r
    // covers text bytes [3wr+1, 3w(r+1)]); resize kx=4 keeps both rows
    // at ow = w//4 pixels, channel c of output (r, j) = truncated mean
    // of the 4 consecutive input pixels' channel c; features replay the
    // decoder (means per channel over both rows, min/max over all,
    // top_row_mean over row 0's 3·ow values, raw_len = unfiltered
    // scanline bytes). idat_len is compressor-owned and excluded.
    "q269_png_resize" ->
      """WITH n AS (
        |  SELECT doc_id, text,
        |         CAST(length(text) AS BIGINT) // 6 AS w,
        |         (CAST(length(text) AS BIGINT) // 6) // 4 AS ow
        |  FROM documents
        |  WHERE (CAST(length(text) AS BIGINT) // 6) // 4 >= 1
        |),
        |px AS (
        |  SELECT doc_id, ow, CAST(r AS INT) AS r, CAST(c AS INT) AS c,
        |         (CAST(unicode(text[CAST(3 * w * r + 3 * (4 * j + 0) + c + 1 AS INT):CAST(3 * w * r + 3 * (4 * j + 0) + c + 1 AS INT)]) AS BIGINT)
        |          + unicode(text[CAST(3 * w * r + 3 * (4 * j + 1) + c + 1 AS INT):CAST(3 * w * r + 3 * (4 * j + 1) + c + 1 AS INT)])
        |          + unicode(text[CAST(3 * w * r + 3 * (4 * j + 2) + c + 1 AS INT):CAST(3 * w * r + 3 * (4 * j + 2) + c + 1 AS INT)])
        |          + unicode(text[CAST(3 * w * r + 3 * (4 * j + 3) + c + 1 AS INT):CAST(3 * w * r + 3 * (4 * j + 3) + c + 1 AS INT)])) // 4 AS v
        |  FROM n, unnest(range(0, 2)) AS ur(r), unnest(range(0, ow)) AS uj(j),
        |       unnest(range(0, 3)) AS uc(c)
        |)
        |SELECT doc_id,
        |       CAST(ow AS INT) AS width,
        |       CAST(2 AS INT) AS height,
        |       CAST(8 AS INT) AS bit_depth,
        |       CAST(2 AS INT) AS color_type,
        |       CAST(2 * ow AS BIGINT) AS n_px,
        |       CAST(SUM(v) FILTER (WHERE c = 0) AS DOUBLE) / CAST(2 * ow AS DOUBLE) AS r_mean,
        |       CAST(SUM(v) FILTER (WHERE c = 1) AS DOUBLE) / CAST(2 * ow AS DOUBLE) AS g_mean,
        |       CAST(SUM(v) FILTER (WHERE c = 2) AS DOUBLE) / CAST(2 * ow AS DOUBLE) AS b_mean,
        |       CAST(MIN(v) AS INT) AS min_px,
        |       CAST(MAX(v) AS INT) AS max_px,
        |       CAST(SUM(v) FILTER (WHERE r = 0) AS DOUBLE) / CAST(3 * ow AS DOUBLE) AS top_row_mean,
        |       CAST(2 * (1 + 3 * ow) AS BIGINT) AS raw_len
        |FROM px GROUP BY doc_id, ow
        |ORDER BY doc_id""".stripMargin,

    // q270: same raster replay as q269 (2 rows × L//6 RGB pixels from
    // text bytes, resized to ow = (L//6)//4 per row) with the BMP
    // feature surface — the swizzle/stride/bottom-up machinery must be
    // invisible to the pixel math.
    "q270_bmp_resize" ->
      """WITH n AS (
        |  SELECT doc_id, text,
        |         CAST(length(text) AS BIGINT) // 6 AS w,
        |         (CAST(length(text) AS BIGINT) // 6) // 4 AS ow
        |  FROM documents
        |  WHERE (CAST(length(text) AS BIGINT) // 6) // 4 >= 1
        |),
        |px AS (
        |  SELECT doc_id, ow, CAST(r AS INT) AS r, CAST(c AS INT) AS c,
        |         (CAST(unicode(text[CAST(3 * w * r + 3 * (4 * j + 0) + c + 1 AS INT):CAST(3 * w * r + 3 * (4 * j + 0) + c + 1 AS INT)]) AS BIGINT)
        |          + unicode(text[CAST(3 * w * r + 3 * (4 * j + 1) + c + 1 AS INT):CAST(3 * w * r + 3 * (4 * j + 1) + c + 1 AS INT)])
        |          + unicode(text[CAST(3 * w * r + 3 * (4 * j + 2) + c + 1 AS INT):CAST(3 * w * r + 3 * (4 * j + 2) + c + 1 AS INT)])
        |          + unicode(text[CAST(3 * w * r + 3 * (4 * j + 3) + c + 1 AS INT):CAST(3 * w * r + 3 * (4 * j + 3) + c + 1 AS INT)])) // 4 AS v
        |  FROM n, unnest(range(0, 2)) AS ur(r), unnest(range(0, ow)) AS uj(j),
        |       unnest(range(0, 3)) AS uc(c)
        |)
        |SELECT doc_id,
        |       CAST(ow AS INT) AS width,
        |       CAST(2 AS INT) AS height,
        |       CAST(24 AS INT) AS bit_count,
        |       CAST(2 * ow AS BIGINT) AS n_px,
        |       CAST(SUM(v) FILTER (WHERE c = 0) AS DOUBLE) / CAST(2 * ow AS DOUBLE) AS r_mean,
        |       CAST(SUM(v) FILTER (WHERE c = 1) AS DOUBLE) / CAST(2 * ow AS DOUBLE) AS g_mean,
        |       CAST(SUM(v) FILTER (WHERE c = 2) AS DOUBLE) / CAST(2 * ow AS DOUBLE) AS b_mean,
        |       CAST(MIN(v) AS INT) AS min_px,
        |       CAST(MAX(v) AS INT) AS max_px,
        |       CAST(SUM(v) FILTER (WHERE r = 0) AS DOUBLE) / CAST(3 * ow AS DOUBLE) AS top_row_mean
        |FROM px GROUP BY doc_id, ow
        |ORDER BY doc_id""".stripMargin,

    // q266: output pixel j channel c = truncated mean of input pixels
    // 4j..4j+3's channel c (channels never mix); input pixel p channel
    // c is text byte 3p+c; means replay the decoder's exact-sum /
    // n_px division; min/max span all channels.
    "q266_color_resize" ->
      """WITH n AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L,
        |         (CAST(length(text) AS BIGINT) // 3) // 4 AS ow
        |  FROM documents
        |  WHERE (CAST(length(text) AS BIGINT) // 3) // 4 >= 1
        |),
        |px AS (
        |  SELECT doc_id, ow, CAST(c AS INT) AS c,
        |         (CAST(unicode(text[CAST(3 * (4 * j + 0) + c + 1 AS INT):CAST(3 * (4 * j + 0) + c + 1 AS INT)]) AS BIGINT)
        |          + unicode(text[CAST(3 * (4 * j + 1) + c + 1 AS INT):CAST(3 * (4 * j + 1) + c + 1 AS INT)])
        |          + unicode(text[CAST(3 * (4 * j + 2) + c + 1 AS INT):CAST(3 * (4 * j + 2) + c + 1 AS INT)])
        |          + unicode(text[CAST(3 * (4 * j + 3) + c + 1 AS INT):CAST(3 * (4 * j + 3) + c + 1 AS INT)])) // 4 AS v
        |  FROM n, unnest(range(0, ow)) AS u(j), unnest(range(0, 3)) AS uc(c)
        |)
        |SELECT doc_id,
        |       CAST(ow AS INT) AS width,
        |       CAST(1 AS INT) AS height,
        |       CAST(255 AS INT) AS max_val,
        |       CAST(ow AS BIGINT) AS n_px,
        |       CAST(SUM(v) FILTER (WHERE c = 0) AS DOUBLE) / CAST(ow AS DOUBLE) AS r_mean,
        |       CAST(SUM(v) FILTER (WHERE c = 1) AS DOUBLE) / CAST(ow AS DOUBLE) AS g_mean,
        |       CAST(SUM(v) FILTER (WHERE c = 2) AS DOUBLE) / CAST(ow AS DOUBLE) AS b_mean,
        |       CAST(MIN(v) AS INT) AS min_px,
        |       CAST(MAX(v) AS INT) AS max_px
        |FROM px GROUP BY doc_id, ow
        |ORDER BY doc_id""".stripMargin,

    // q256: resampled sample j = floor-mean of four consecutive
    // (b-128)*256 amplitudes (exact: the sum is divisible by 4×64);
    // format fields pin the re-encode (16-bit mono at 8000/4 Hz).
    "q256_audio_resample" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1),
        |                        i -> CAST((unicode(text[i:i]) - 128) * 256 AS BIGINT)) AS amps,
        |         CAST(length(text) AS BIGINT) AS L
        |  FROM documents
        |),
        |o AS (
        |  SELECT doc_id,
        |         (amps[CAST(4 * j + 1 AS INT)] + amps[CAST(4 * j + 2 AS INT)]
        |          + amps[CAST(4 * j + 3 AS INT)] + amps[CAST(4 * j + 4 AS INT)]) // 4 AS v
        |  FROM px, unnest(range(0, L // 4)) AS u(j)
        |)
        |SELECT doc_id,
        |       CAST(1 AS INT) AS n_channels,
        |       CAST(2000 AS INT) AS sample_rate,
        |       CAST(16 AS INT) AS bits_per_sample,
        |       CAST(COUNT(*) AS BIGINT) AS n_samples,
        |       CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_amp,
        |       CAST(MIN(v) AS INT) AS min_amp,
        |       CAST(MAX(v) AS INT) AS max_amp
        |FROM o GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // q255: output pixel j of doc (1-row raster) = floor-mean of text
    // bytes 4j+1..4j+4; the tail L%4 bytes are dropped (the decimation
    // contract); stats replay the PGM decoder over those pixels.
    "q255_image_resize" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1),
        |                        i -> CAST(unicode(text[i:i]) AS BIGINT)) AS bs,
        |         CAST(length(text) AS BIGINT) AS L
        |  FROM documents
        |),
        |o AS (
        |  SELECT doc_id,
        |         (bs[CAST(4 * j + 1 AS INT)] + bs[CAST(4 * j + 2 AS INT)]
        |          + bs[CAST(4 * j + 3 AS INT)] + bs[CAST(4 * j + 4 AS INT)]) // 4 AS v
        |  FROM px, unnest(range(0, L // 4)) AS u(j)
        |)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS INT) AS width,
        |       CAST(1 AS INT) AS height,
        |       CAST(COUNT(*) AS BIGINT) AS n_px,
        |       CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_px,
        |       CAST(MIN(v) AS INT) AS min_px,
        |       CAST(MAX(v) AS INT) AS max_px
        |FROM o GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // q251: q249's cuts (verdict rows only), token byte offsets from the
    // exact single-space split (empties kept), containing token = last
    // tok_start <= cut_off — the oracle takes the inequality-join +
    // row_number road the engine's as-of join exists to avoid.
    "q251_cut_token_alignment" ->
      """WITH n AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS d,
        |         CAST((length(text) + 15) // 16 AS BIGINT) AS nf
        |  FROM documents
        |),
        |f AS (
        |  SELECT doc_id, CAST(j AS BIGINT) AS frame_idx,
        |         list_transform(range(0, 16), i -> CASE WHEN j * 16 + i + 1 <= d
        |           THEN CAST(unicode(text[CAST(j * 16 + i + 1 AS INT):CAST(j * 16 + i + 1 AS INT)]) AS BIGINT)
        |           ELSE CAST(0 AS BIGINT) END) AS bs
        |  FROM n, unnest(range(0, nf)) AS u(j)
        |  WHERE d > 0
        |),
        |cuts AS (
        |  SELECT a.doc_id, a.frame_idx, a.frame_idx * 16 AS cut_off
        |  FROM f a JOIN f b ON a.doc_id = b.doc_id AND a.frame_idx = b.frame_idx + 1
        |  WHERE CAST(list_sum(list_transform(range(1, 17),
        |                                     i -> ABS(a.bs[i] - b.bs[i]))) AS BIGINT) >= 1024
        |),
        |w AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |       unnest(range(1, len(toks) + 1)) AS u(i)
        |),
        |st AS (
        |  -- strlen = BYTE length (the engine's UTF-8 offsets); length()
        |  -- would count chars and misalign on any multi-byte token.
        |  SELECT doc_id, pos, w,
        |         CAST(COALESCE(SUM(strlen(w) + 1) OVER (
        |           PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM w
        |),
        |m AS (
        |  SELECT c.doc_id, c.frame_idx, c.cut_off, t.tok_start, t.pos, t.w,
        |         ROW_NUMBER() OVER (PARTITION BY c.doc_id, c.frame_idx
        |                            ORDER BY t.tok_start DESC) AS rn
        |  FROM cuts c JOIN st t ON c.doc_id = t.doc_id AND t.tok_start <= c.cut_off
        |)
        |SELECT doc_id, frame_idx, CAST(cut_off AS BIGINT) AS cut_off, tok_start,
        |       pos AS token_pos, w AS token
        |FROM m WHERE rn = 1 ORDER BY doc_id, frame_idx""".stripMargin,

    // q245: the same (b-128)*256 sample replay at 8-sample frames, then
    // the segmentation predicates as pure arithmetic — loud iff peak
    // magnitude > 8192 (any byte outside the lowercase band), clipped
    // iff a sample pins the ±24576 rail (the space byte's magnitude).
    "q245_audio_segments" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1),
        |                        i -> CAST((unicode(text[i:i]) - 128) * 256 AS BIGINT)) AS amps
        |  FROM documents
        |),
        |f AS (
        |  SELECT doc_id, CAST((i - 1) // 8 AS BIGINT) AS frame_idx, amps[i] AS v
        |  FROM px, unnest(range(1, len(amps) + 1)) AS u(i)
        |),
        |fs AS (
        |  SELECT doc_id, frame_idx,
        |         CAST(COUNT(*) AS BIGINT) AS ns,
        |         GREATEST(ABS(MIN(v)), ABS(MAX(v))) > 8192 AS loud,
        |         (MIN(v) <= -24576 OR MAX(v) >= 24576) AS clip
        |  FROM f GROUP BY doc_id, frame_idx
        |)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_frames,
        |       CAST(SUM(ns) AS BIGINT) AS n_samples,
        |       CAST(COALESCE(MIN(CASE WHEN loud THEN frame_idx END), -1) AS BIGINT) AS first_loud_frame,
        |       CAST(COALESCE(MAX(CASE WHEN loud THEN frame_idx END), -1) AS BIGINT) AS last_loud_frame,
        |       CAST(SUM(CASE WHEN loud THEN 1 ELSE 0 END) AS BIGINT) AS n_loud_frames,
        |       CAST(SUM(CASE WHEN clip THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_frames,
        |       BOOL_OR(clip) AS clipped
        |FROM fs GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // q239: samples are (b-128)*256 per text byte (the toWav16 mapping;
    // ASCII corpus => byte == codepoint, the q114/q115 shared
    // assumption); autocorrelation is a pure BIGINT sum per (doc, lag).
    "q239_audio_autocorr" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1),
        |                        i -> CAST((unicode(text[i:i]) - 128) * 256 AS BIGINT)) AS amps
        |  FROM documents
        |),
        |l AS (SELECT unnest([0, 1, 2, 4, 8]) AS lag),
        |r AS (
        |  SELECT doc_id, lag,
        |         CAST(GREATEST(len(amps) - lag, 0) AS BIGINT) AS n_terms,
        |         CAST(COALESCE(list_sum(list_transform(
        |           range(1, GREATEST(len(amps) - lag, 0) + 1),
        |           i -> amps[i] * amps[i + lag])), 0) AS BIGINT) AS ac
        |  FROM px CROSS JOIN l
        |)
        |SELECT doc_id, CAST(lag AS INT) AS lag, n_terms, ac
        |FROM r ORDER BY doc_id, lag""".stripMargin,

    // The mu-law roundtrip is a pure function of the text byte, so the
    // oracle indexes the SAME compand->expand table the encoder/decoder
    // pair compiles (embedded as a 256-entry list literal).
    "q174_mulaw_features" -> {
      val lut = (0 until 256).map(b =>
        graft.operators.Multimodal.muLawDecodeByte(
          graft.operators.Multimodal.muLawEncodeSample((b - 128) * 256)))
        .mkString("[", ", ", "]")
      s"""WITH lut AS (SELECT $lut AS l),
         |px AS (
         |  SELECT doc_id,
         |         list_transform(range(1, length(text) + 1),
         |                        i -> l[unicode(text[i:i]) + 1]) AS amps
         |  FROM documents, lut
         |)
         |SELECT d.doc_id,
         |       CAST(1 AS INT) AS n_channels,
         |       CAST(8000 AS INT) AS sample_rate,
         |       CAST(8 AS INT) AS bits_per_sample,
         |       CAST(octet_length(encode(d.text)) AS BIGINT) AS n_samples,
         |       CASE WHEN len(px.amps) > 0
         |            THEN CAST(list_sum(px.amps) AS DOUBLE) / CAST(len(px.amps) AS DOUBLE)
         |       END AS mean_amp,
         |       CASE WHEN len(px.amps) > 0 THEN CAST(list_min(px.amps) AS INT) END AS min_amp,
         |       CASE WHEN len(px.amps) > 0 THEN CAST(list_max(px.amps) AS INT) END AS max_amp
         |FROM documents d JOIN px USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    // Sequential 3-round admission replay: per-doc signals (shingle
    // digest sets, band signatures, content hashes, quality) computed
    // once, then each round's admitted set is the quality-passing batch
    // minus exact-hash and verified-near-dup matches against the kept
    // set so far. Batch ids mirror the staged-shard order (doc_id % 3).
    "q116_streaming_admission" ->
      s"""WITH $docShingles,
         |$minhashBands,
         |$admissionSignalCtes,
         |${admissionRound(0)},
         |${admissionRound(1)},
         |${admissionRound(2)}
         |SELECT doc_id, CAST(0 AS INT) AS batch_id FROM adm0
         |UNION ALL SELECT doc_id, CAST(1 AS INT) AS batch_id FROM adm1
         |UNION ALL SELECT doc_id, CAST(2 AS INT) AS batch_id FROM adm2
         |ORDER BY doc_id""".stripMargin,

    // Same window/run construction as the engine, on window STRINGS
    // instead of digests (equality coincides absent md5 collisions —
    // the standing oracle assumption): islands trick per (doc, ref_doc,
    // alignment) chains consecutive matched starts into exact common
    // substrings of COUNT + windowLen - 1 tokens.
    "q117_substring_decontaminate" ->
      s"""WITH $substringWindowCtes,
        |m AS MATERIALIZED (
        |  SELECT p.doc_id, p.start, i.ref_doc, p.start - i.ref_start AS off
        |  FROM win p JOIN idx i USING (w8)
        |  WHERE p.doc_id >= 250
        |),
        |runs AS MATERIALIZED (
        |  SELECT doc_id, ref_doc, off, MIN(start) AS start,
        |         CAST(COUNT(*) + 7 AS BIGINT) AS match_len
        |  FROM (
        |    SELECT doc_id, ref_doc, off, start,
        |           start - ROW_NUMBER() OVER (
        |             PARTITION BY doc_id, ref_doc, off ORDER BY start) AS grp
        |    FROM m)
        |  GROUP BY doc_id, ref_doc, off, grp
        |),
        |best AS (
        |  SELECT doc_id, match_len, ref_doc AS best_ref_doc,
        |         CAST(start AS INT) AS best_start, CAST(start - off AS INT) AS best_ref_start
        |  FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY doc_id ORDER BY match_len DESC, ref_doc, start, off) AS rn
        |    FROM runs)
        |  WHERE rn = 1
        |),
        |cov AS (
        |  SELECT doc_id, CAST(COUNT(DISTINCT start) AS BIGINT) AS n_matched_windows
        |  FROM m GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(len(t.ws) AS BIGINT) AS n_tokens,
        |       COALESCE(b.match_len, CAST(0 AS BIGINT)) AS max_match_len,
        |       b.best_ref_doc, b.best_start, b.best_ref_start,
        |       COALESCE(c.n_matched_windows, CAST(0 AS BIGINT)) AS n_matched_windows,
        |       COALESCE(b.match_len, CAST(0 AS BIGINT)) >= 8 AS contaminated
        |FROM documents d
        |JOIN t ON d.doc_id = t.doc_id
        |LEFT JOIN best b ON d.doc_id = b.doc_id
        |LEFT JOIN cov c ON d.doc_id = c.doc_id
        |WHERE d.doc_id >= 250
        |ORDER BY d.doc_id""".stripMargin,

    // Strip variant: positions covered by any matched reference window
    // (start + 0..7) are dropped; clean text is the ordered remainder.
    // Shares the window/index stack with q117; m's DISTINCT collapses
    // the per-ref-occurrence fan-out the report variant needs.
    "q118_substring_strip" ->
      s"""WITH $substringWindowCtes,
        |m AS MATERIALIZED (
        |  SELECT DISTINCT p.doc_id, p.start
        |  FROM win p JOIN idx i USING (w8)
        |  WHERE p.doc_id >= 250
        |),
        |dp AS MATERIALIZED (
        |  SELECT DISTINCT m.doc_id, m.start + j.j AS pos
        |  FROM m CROSS JOIN (SELECT unnest(range(8)) AS j) j
        |),
        |words AS (
        |  SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS pos
        |  FROM t WHERE doc_id >= 250
        |),
        |kept AS (
        |  SELECT w2.doc_id, w2.w, w2.pos
        |  FROM words w2 LEFT JOIN dp ON w2.doc_id = dp.doc_id AND w2.pos = dp.pos
        |  WHERE dp.pos IS NULL
        |),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |         string_agg(w, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |       CAST(len(t.ws) AS BIGINT) AS n_tokens,
        |       CAST(len(t.ws) AS BIGINT) - COALESCE(agg.n_kept, CAST(0 AS BIGINT)) AS n_dropped,
        |       COALESCE(agg.clean_text, '') AS clean_text
        |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
        |WHERE t.doc_id >= 250
        |ORDER BY t.doc_id""".stripMargin,

    // Self-pairs at positive gap, islands per (doc, gap), longest
    // internal repeat with the engine's tie-break; in-doc digest
    // occurrences capped at 64 before pairing, exactly as the engine.
    "q227_exact_substr_dedup" -> exactSubstrOracle,

    "q233_canary_recall" ->
      """SELECT doc_id,
        |       CAST(len(regexp_split_to_array(trim(text), '\s+')) + 10 AS BIGINT) AS n_tokens,
        |       CAST(10 AS BIGINT) AS max_match_len,
        |       CAST(1000000 + doc_id AS BIGINT) AS best_ref_doc,
        |       CAST(2 AS INT) AS best_start,
        |       CAST(0 AS INT) AS best_ref_start,
        |       CAST(3 AS BIGINT) AS n_matched_windows,
        |       TRUE AS contaminated
        |FROM documents WHERE doc_id < 20
        |ORDER BY doc_id""".stripMargin,

    // The merged streaming occurrence state must strip identically to
    // the one-shot batch pass.
    "q231_streaming_exact_substr" -> exactSubstrOracle,

    "q119_self_repeats" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |win AS MATERIALIZED (
        |  SELECT doc_id, CAST(i AS INT) AS start, array_to_string(ws[i + 1: i + 8], ' ') AS w8
        |  FROM (SELECT doc_id, ws, unnest(range(len(ws) - 7)) AS i FROM t WHERE len(ws) >= 8)
        |),
        |occ AS (SELECT doc_id, w8 FROM win GROUP BY doc_id, w8 HAVING COUNT(*) BETWEEN 2 AND 64),
        |rep AS MATERIALIZED (SELECT win.* FROM win JOIN occ USING (doc_id, w8)),
        |pairs AS MATERIALIZED (
        |  SELECT a.doc_id, a.start AS s1, b.start - a.start AS off
        |  FROM rep a JOIN rep b ON a.doc_id = b.doc_id AND a.w8 = b.w8 AND a.start < b.start
        |),
        |runs AS MATERIALIZED (
        |  SELECT doc_id, off, MIN(s1) AS start, CAST(COUNT(*) + 7 AS BIGINT) AS repeat_len
        |  FROM (
        |    SELECT doc_id, off, s1,
        |           s1 - ROW_NUMBER() OVER (PARTITION BY doc_id, off ORDER BY s1) AS grp
        |    FROM pairs)
        |  GROUP BY doc_id, off, grp
        |),
        |best AS (
        |  SELECT doc_id, repeat_len,
        |         CAST(start AS INT) AS best_start, CAST(off AS INT) AS best_gap
        |  FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY doc_id ORDER BY repeat_len DESC, start, off) AS rn
        |    FROM runs)
        |  WHERE rn = 1
        |),
        |cov AS (
        |  SELECT doc_id, CAST(COUNT(DISTINCT start) AS BIGINT) AS n_repeat_windows
        |  FROM rep GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |       CAST(len(t.ws) AS BIGINT) AS n_tokens,
        |       COALESCE(b.repeat_len, CAST(0 AS BIGINT)) AS max_repeat_len,
        |       b.best_start, b.best_gap,
        |       COALESCE(c.n_repeat_windows, CAST(0 AS BIGINT)) AS n_repeat_windows,
        |       COALESCE(b.repeat_len, CAST(0 AS BIGINT)) >= 8 AS has_repeat
        |FROM t
        |LEFT JOIN best b ON t.doc_id = b.doc_id
        |LEFT JOIN cov c ON t.doc_id = c.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // The stub "decoder" is a 16-bin byte histogram over the UTF-8 payload;
    // documents are pure ASCII (verified at generation), so byte-range
    // counts equal char-class counts. f0 / f6 are single float32 divisions
    // of exact small integers — bit-identical across engines. The PGM
    // columns check the REAL decoder: the engine parses width out of the
    // binary header it wrote and reduces the raster, so width must equal
    // the byte length and the pixel moments must equal the codepoint
    // moments (ASCII ⇒ byte = codepoint); mean is one IEEE division of an
    // exact sub-2^53 sum.
    "q24_multimodal_features" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1), i -> unicode(text[i:i])) AS cps,
        |         CAST(octet_length(encode(text)) // 3 AS INT) AS pw,
        |         list_transform(
        |           range(1, 65),
        |           i -> unicode(rpad(text[1:64], 64, ' ')[i:i])) AS f0cps
        |  FROM documents
        |)
        |SELECT d.doc_id,
        |       octet_length(encode(d.text)) AS n_bytes,
        |       CAST(ceil(octet_length(encode(d.text)) / 64.0) AS INT) AS n_frames,
        |       CAST(length(d.text) - length(regexp_replace(d.text, '[\x00-\x0f]', '', 'g')) AS FLOAT)
        |         / CAST(greatest(octet_length(encode(d.text)), 1) AS FLOAT) AS f0,
        |       CAST(length(d.text) - length(regexp_replace(d.text, '[\x60-\x6f]', '', 'g')) AS FLOAT)
        |         / CAST(greatest(octet_length(encode(d.text)), 1) AS FLOAT) AS f6,
        |       CAST(octet_length(encode(d.text)) AS INT) AS width,
        |       CAST(list_sum(px.cps) AS DOUBLE) / CAST(len(px.cps) AS DOUBLE) AS mean_px,
        |       CAST(list_min(px.cps) AS INT) AS min_px,
        |       CAST(list_max(px.cps) AS INT) AS max_px,
        |       px.pw AS ppm_width,
        |       CAST(list_sum(list_transform(range(0, px.pw), k -> px.cps[3*k + 1])) AS DOUBLE)
        |         / CAST(px.pw AS DOUBLE) AS r_mean,
        |       CAST(list_sum(list_transform(range(0, px.pw), k -> px.cps[3*k + 2])) AS DOUBLE)
        |         / CAST(px.pw AS DOUBLE) AS g_mean,
        |       CAST(list_sum(list_transform(range(0, px.pw), k -> px.cps[3*k + 3])) AS DOUBLE)
        |         / CAST(px.pw AS DOUBLE) AS b_mean,
        |       CAST((CAST(ceil(octet_length(encode(d.text)) / 64.0) AS INT) + 3) // 4 AS BIGINT)
        |         AS n_sampled_frames,
        |       CASE WHEN octet_length(encode(d.text)) > 0
        |            THEN CAST(list_sum(px.f0cps) AS DOUBLE) / 64.0 END AS frame0_mean_px
        |FROM documents d JOIN px USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q26_event_type_pivot" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |       COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |       COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events
        |GROUP BY day
        |ORDER BY day""".stripMargin,

    "q27_pricing_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q28_top_words_per_lang" ->
      """WITH wc AS (
        |  SELECT lang, w, COUNT(*) AS cnt
        |  FROM (SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents)
        |  GROUP BY lang, w
        |),
        |r AS (
        |  SELECT lang, w, cnt,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, w) AS INT) AS rnk
        |  FROM wc
        |)
        |SELECT lang, rnk, w, cnt FROM r WHERE rnk <= 5
        |ORDER BY lang, rnk""".stripMargin,

    "q29_ann_lsh" -> annLshOracle,

    "q136_pagerank" -> pageRankOracle,

    "q141_mmr_diversify" -> mmrOracle,

    "q177_margin_sampling" ->
      """WITH n3 AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
        |  FROM embeddings
        |),
        |e AS (
        |  SELECT vec_id, label, qe,
        |         CAST(list_sum(list_transform(range(1, 65), i -> qe[i] * qe[i])) AS BIGINT) AS n2
        |  FROM n3
        |),
        |cd AS (
        |  SELECT label AS c_label, i.i, CAST(SUM(qe[i.i]) AS BIGINT) AS sv
        |  FROM n3 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        |  GROUP BY 1, 2
        |),
        |c2 AS (
        |  SELECT c_label, svec,
        |         CAST(list_sum(list_transform(range(1, 65), i -> svec[i] * svec[i])) AS BIGINT) AS sn2
        |  FROM (SELECT c_label, list(sv ORDER BY i) AS svec FROM cd GROUP BY c_label)
        |),
        |cs AS (
        |  SELECT e.vec_id, e.label, c2.c_label, e.n2, c2.sn2,
        |         CAST(list_sum(list_transform(range(1, 65), i -> e.qe[i] * c2.svec[i])) AS BIGINT) AS dp
        |  FROM e CROSS JOIN c2
        |  WHERE e.n2 > 0 AND c2.sn2 > 0
        |),
        |r AS (
        |  SELECT vec_id, label, c_label,
        |         CAST(dp AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(sn2 AS DOUBLE))) AS cosine,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
        |           CAST(dp AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(sn2 AS DOUBLE))) DESC,
        |           c_label) AS crn
        |  FROM cs
        |  QUALIFY crn <= 2
        |),
        |b AS (SELECT vec_id, label, c_label AS pred_label, cosine AS cos_best FROM r WHERE crn = 1),
        |s2 AS (SELECT vec_id, c_label AS second_label, cosine AS cos_second FROM r WHERE crn = 2),
        |t AS (
        |  SELECT b.vec_id, b.label, b.pred_label, s2.second_label,
        |         b.cos_best, s2.cos_second, b.cos_best - s2.cos_second AS margin,
        |         CAST(ROW_NUMBER() OVER (ORDER BY b.cos_best - s2.cos_second, b.vec_id) AS INT) AS rnk
        |  FROM b JOIN s2 USING (vec_id)
        |  QUALIFY rnk <= 50
        |)
        |SELECT rnk, vec_id, label, pred_label, second_label, cos_best, cos_second, margin,
        |       pred_label <> label AS is_error
        |FROM t ORDER BY rnk""".stripMargin,

    "q175_kcenter" -> {
      val k = 8
      val rounds = (1 until k).map { t =>
        s"""p$t AS MATERIALIZED (
           |  SELECT vec_id, d2min FROM s${t - 1} ORDER BY d2min DESC, vec_id LIMIT 1
           |),
           |s$t AS MATERIALIZED (
           |  SELECT s.vec_id,
           |         LEAST(s.d2min, CAST(list_sum(list_transform(range(1, 65), i ->
           |           (v.qe[i] - c.qe[i]) * (v.qe[i] - c.qe[i]))) AS BIGINT)) AS d2min
           |  FROM s${t - 1} s
           |  JOIN n v ON v.vec_id = s.vec_id
           |  CROSS JOIN (SELECT n.qe FROM n JOIN p$t ON n.vec_id = p$t.vec_id) c
           |)""".stripMargin
      }.mkString(",\n")
      val sel = (1 until k).map(t =>
        s"SELECT CAST(${t + 1} AS INT) AS rnk, vec_id, CAST(d2min AS BIGINT) AS radius_d2 FROM p$t")
        .mkString("\nUNION ALL ")
      s"""WITH $quantizedEmbeddings,
         |seed AS (SELECT vec_id, qe FROM n ORDER BY vec_id LIMIT 1),
         |s0 AS MATERIALIZED (
         |  SELECT n.vec_id,
         |         CAST(list_sum(list_transform(range(1, 65), i ->
         |           (n.qe[i] - seed.qe[i]) * (n.qe[i] - seed.qe[i]))) AS BIGINT) AS d2min
         |  FROM n CROSS JOIN seed
         |),
         |$rounds
         |SELECT CAST(1 AS INT) AS rnk, vec_id, CAST(NULL AS BIGINT) AS radius_d2 FROM seed
         |UNION ALL $sel
         |ORDER BY rnk""".stripMargin
    },

    "q173_sq8_search" ->
      s"""WITH $quantizedEmbeddings,
         |dm AS MATERIALIZED (
         |  SELECT i.i, MIN(n.qe[i.i]) AS lo, MAX(n.qe[i.i]) AS hi
         |  FROM n CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
         |  GROUP BY i.i
         |),
         |xh AS MATERIALIZED (
         |  SELECT n.vec_id, d.i,
         |         d.lo + (((CASE WHEN d.hi = d.lo THEN 0
         |                   ELSE least(255, ((n.qe[d.i] - d.lo) * 255) // (d.hi - d.lo)) END)
         |                  * (d.hi - d.lo)) // 255) AS xhat
         |  FROM n CROSS JOIN dm d
         |),
         |q AS (SELECT vec_id AS query_id, qe FROM n WHERE vec_id < 10),
         |dist AS (
         |  SELECT q.query_id, x.vec_id,
         |         CAST(SUM((q.qe[x.i] - x.xhat) * (q.qe[x.i] - x.xhat)) AS BIGINT) AS adc_d2
         |  FROM q JOIN xh x ON x.vec_id <> q.query_id
         |  GROUP BY 1, 2
         |)
         |SELECT query_id, vec_id AS neighbor_id, rnk, adc_d2 FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY adc_d2, vec_id) AS INT) AS rnk
         |  FROM dist)
         |WHERE rnk <= 10
         |ORDER BY query_id, rnk""".stripMargin,

    "q138_hamming_search" ->
      s"""WITH $quantizedEmbeddings,
         |$hammingCtes
         |SELECT query_id, vec_id AS neighbor_id, rnk, hamming, dp,
         |       CAST(dp AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(q_n2 AS DOUBLE))) AS cosine
         |FROM hr
         |WHERE rnk <= 10
         |ORDER BY query_id, rnk""".stripMargin,

    // Recall@10 of the Hamming index vs exact brute force — shares
    // hammingCtes with q138 and q22's exact scoring so neither side can
    // drift from its source query.
    "q140_ann_recall" ->
      s"""WITH $quantizedEmbeddings,
         |$hammingCtes,
         |approx AS (SELECT query_id, vec_id FROM hr WHERE rnk <= 10),
         |exact_scored AS (
         |  SELECT q.query_id, n.vec_id,
         |         CAST(list_sum(list_transform(range(1, 65), i -> n.qe[i] * q.q_qe[i])) AS BIGINT) AS dp
         |  FROM n CROSS JOIN (SELECT vec_id AS query_id, qe AS q_qe FROM n WHERE vec_id < 10) q
         |  WHERE n.vec_id <> q.query_id
         |),
         |exact AS (
         |  SELECT query_id, vec_id, CAST(rn AS INT) AS exact_rnk FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dp DESC, vec_id) AS rn
         |    FROM exact_scored)
         |  WHERE rn <= 10
         |)
         |SELECT e.query_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_exact,
         |       CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
         |       MIN(CASE WHEN a.vec_id IS NULL THEN e.exact_rnk END) AS first_missed_rank,
         |       CAST(COUNT(a.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
         |FROM exact e
         |LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
         |GROUP BY e.query_id
         |ORDER BY e.query_id""".stripMargin,

    // Brute-force ordered-pair containment at the same threshold:
    // hash-matching proves the one-sided prefix filter lossless.
    "q142_containment_pairs" ->
      s"""WITH $docShingles,
         |shh AS (
         |  SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h
         |  FROM sh
         |),
         |counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM shh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc, CAST(COUNT(*) AS BIGINT) AS n_common
         |  FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id <> b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |)
         |SELECT src_doc, dst_doc, n_common, ns.n_sh AS n_src, nd.n_sh AS n_dst,
         |       CAST(n_common AS DOUBLE) / CAST(ns.n_sh AS DOUBLE) AS containment
         |FROM common
         |JOIN counts ns ON src_doc = ns.doc_id
         |JOIN counts nd ON dst_doc = nd.doc_id
         |WHERE 100 * n_common >= 80 * ns.n_sh
         |ORDER BY src_doc, dst_doc""".stripMargin,

    // The BRUTE-FORCE all-pairs join at the same integer threshold:
    // hash-matching it proves the engine's prefix filter lossless.
    "q139_prefix_filter_pairs" ->
      s"""WITH $docShingles,
         |shh AS (
         |  SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h
         |  FROM sh
         |),
         |counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM shh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
         |  FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |)
         |SELECT doc_a, doc_b, n_common, na.n_sh AS n_a, nb.n_sh AS n_b,
         |       CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) AS jaccard
         |FROM common
         |JOIN counts na ON doc_a = na.doc_id
         |JOIN counts nb ON doc_b = nb.doc_id
         |WHERE 100 * n_common >= 50 * (na.n_sh + nb.n_sh - n_common)
         |ORDER BY doc_a, doc_b""".stripMargin,

    // The BMP wire format (bottom-up rows, stride pad, BGR) cancels out
    // through build+decode, so the oracle computes features straight
    // from the text codepoints (ASCII corpus: byte == codepoint, the
    // q24/q114 shared assumption). w = ⌊len/6⌋ pixels per row, 2 rows;
    // byte 3k is R, 3k+1 G, 3k+2 B, top row = first 3w bytes.
    "q137_bmp_features" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1), i -> unicode(text[i:i])) AS cps,
        |         CAST(length(text) // 6 AS BIGINT) AS w
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(w AS INT) AS width,
        |       CAST(2 AS INT) AS height,
        |       CAST(24 AS INT) AS bit_count,
        |       CAST(2 * w AS BIGINT) AS n_px,
        |       CAST(list_sum(list_transform(range(0, 2 * w), k -> cps[3 * k + 1])) AS DOUBLE)
        |         / CAST(2 * w AS DOUBLE) AS r_mean,
        |       CAST(list_sum(list_transform(range(0, 2 * w), k -> cps[3 * k + 2])) AS DOUBLE)
        |         / CAST(2 * w AS DOUBLE) AS g_mean,
        |       CAST(list_sum(list_transform(range(0, 2 * w), k -> cps[3 * k + 3])) AS DOUBLE)
        |         / CAST(2 * w AS DOUBLE) AS b_mean,
        |       CAST(list_min(cps[1 : CAST(6 * w AS INT)]) AS INT) AS min_px,
        |       CAST(list_max(cps[1 : CAST(6 * w AS INT)]) AS INT) AS max_px,
        |       CAST(list_sum(cps[1 : CAST(3 * w AS INT)]) AS DOUBLE)
        |         / CAST(3 * w AS DOUBLE) AS top_row_mean
        |FROM px
        |ORDER BY doc_id""".stripMargin,

    // q275: the q272 bilinear formula over signed 16-bit amplitudes
    // (amps[i] = (byte−128)·256): n' = 3L//8 output samples, sample j
    // at source position ((2j+1)·L − n')/(2n') — clamps at the edges,
    // two-neighbor weighted blend elsewhere; the blend numerator can
    // be NEGATIVE, where Spark div and DuckDB // both truncate (the
    // q256 convention).
    "q275_linear_resample" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1),
        |                        i -> CAST((unicode(text[i:i]) - 128) * 256 AS BIGINT)) AS amps,
        |         CAST(length(text) AS BIGINT) AS L,
        |         CAST(3 * length(text) AS BIGINT) // 8 AS n2
        |  FROM documents
        |  WHERE CAST(3 * length(text) AS BIGINT) // 8 >= 1
        |),
        |o AS (
        |  SELECT doc_id, n2,
        |    CASE WHEN (2 * j + 1) * L - n2 <= 0 THEN amps[1]
        |         WHEN (2 * j + 1) * L - n2 >= (L - 1) * 2 * n2 THEN amps[CAST(L AS INT)]
        |         ELSE ((2 * n2 - ((2 * j + 1) * L - n2) % (2 * n2))
        |                 * amps[CAST(((2 * j + 1) * L - n2) // (2 * n2) + 1 AS INT)]
        |               + (((2 * j + 1) * L - n2) % (2 * n2))
        |                 * amps[CAST(((2 * j + 1) * L - n2) // (2 * n2) + 2 AS INT)]) // (2 * n2)
        |    END AS v
        |  FROM px, unnest(range(0, n2)) AS u(j)
        |)
        |SELECT doc_id,
        |       CAST(1 AS INT) AS n_channels,
        |       CAST(3000 AS INT) AS sample_rate,
        |       CAST(16 AS INT) AS bits_per_sample,
        |       CAST(COUNT(*) AS BIGINT) AS n_samples,
        |       CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_amp,
        |       CAST(MIN(v) AS INT) AS min_amp,
        |       CAST(MAX(v) AS INT) AS max_amp
        |FROM o GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // q276: q252's routing rule with the THUMBNAIL geometry — every
    // raster kind lands at the fixed 24x16 target (pgm/ppm width 24,
    // bmp/png n_px 384, jpeg ceil(24/8)*ceil(16/8) = 6 blocks), audio
    // at L//4 samples (8000 -> 2000 Hz), avi keeps its frame count,
    // raw stays histogram; only degenerate sources drop (bilinear
    // imposes no sub-block contract — empty rasters and zero-sample
    // audio only).
    "q276_media_thumbnails" ->
      """WITH n AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS L, doc_id % 8 AS sel
        |  FROM documents
        |)
        |SELECT doc_id, kind, geom FROM (
        |  SELECT doc_id, sel, L,
        |    CASE
        |      WHEN sel = 0 THEN 'pgm'
        |      WHEN sel = 1 THEN 'ppm'
        |      WHEN sel = 2 THEN 'wav'
        |      WHEN sel = 3 THEN 'bmp'
        |      WHEN sel = 4 AND L >= 6 THEN 'png'
        |      WHEN sel = 5 AND L >= 64 THEN 'jpeg'
        |      WHEN sel = 6 THEN 'avi'
        |      ELSE 'histogram' END AS kind,
        |    CAST(CASE
        |      WHEN sel = 0 THEN 24
        |      WHEN sel = 1 THEN 24
        |      WHEN sel = 2 THEN L // 4
        |      WHEN sel = 3 THEN 384
        |      WHEN sel = 4 AND L >= 6 THEN 384
        |      WHEN sel = 5 AND L >= 64 THEN 6
        |      WHEN sel = 6 THEN (L + 15) // 16
        |      ELSE -1 END AS BIGINT) AS geom
        |  FROM n)
        |WHERE NOT ((sel = 0 AND L < 1) OR (sel = 1 AND L < 3)
        |           OR (sel = 2 AND L < 4) OR (sel = 3 AND L < 6))
        |ORDER BY doc_id""".stripMargin,

    // q277: the thumbnail DC replay. Source col i of the decoded flat
    // raster carries v_{i//8} (the q271 value path); output col x
    // blends source cols i0 = num//48 and i0+1 at weight r = num%48
    // with num = (2x+1)·8nb − 24 (edge clamps when num ≤ 0 or
    // num ≥ (8nb−1)·48); the 16 identical rows make each of the 3
    // block columns contribute one DC to BOTH block rows:
    // dcq_bx = (8·Σ_{c=0..7} col(8bx+c) − 8192 + 64)//128, dc_sum
    // doubles the column sums, min/max ignore duplication.
    "q277_jpeg_thumbnail" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(length(text) // 64 AS BIGINT) AS nb
        |  FROM documents WHERE length(text) >= 64
        |),
        |blk AS (
        |  SELECT doc_id, nb, CAST(b AS BIGINT) AS b,
        |         CAST(list_sum(list_transform(range(1, 65), i ->
        |           unicode(text[CAST(64 * b + i AS INT):CAST(64 * b + i AS INT)]))) AS BIGINT) AS s
        |  FROM d, unnest(range(nb)) AS u(b)
        |),
        |v AS (
        |  SELECT doc_id, nb, b,
        |         LEAST(255, GREATEST(0, 128 + (16 * ((s - 8192 + 64) // 128) + 4) // 8)) AS v
        |  FROM blk
        |),
        |cols AS (
        |  SELECT d.doc_id, d.nb, CAST(x AS BIGINT) AS x,
        |         (2 * x + 1) * 8 * d.nb - 24 AS num
        |  FROM d, unnest(range(0, 24)) AS ux(x)
        |),
        |cw AS (
        |  SELECT doc_id, nb, x,
        |    CASE WHEN num <= 0 THEN 0
        |         WHEN num >= (8 * nb - 1) * 48 THEN nb - 1
        |         ELSE (num // 48) // 8 END AS b0,
        |    CASE WHEN num <= 0 THEN 0
        |         WHEN num >= (8 * nb - 1) * 48 THEN nb - 1
        |         ELSE (num // 48 + 1) // 8 END AS b1,
        |    CASE WHEN num <= 0 OR num >= (8 * nb - 1) * 48 THEN 0
        |         ELSE num % 48 END AS r
        |  FROM cols
        |),
        |cv AS (
        |  SELECT cw.doc_id, cw.x // 8 AS bx,
        |         ((48 - cw.r) * va.v + cw.r * vb.v) // 48 AS val
        |  FROM cw
        |  JOIN v va ON va.doc_id = cw.doc_id AND va.b = cw.b0
        |  JOIN v vb ON vb.doc_id = cw.doc_id AND vb.b = cw.b1
        |),
        |odc AS (
        |  SELECT doc_id, bx,
        |         CAST((8 * SUM(val) - 8192 + 64) // 128 AS BIGINT) AS dcq
        |  FROM cv GROUP BY doc_id, bx
        |)
        |SELECT doc_id,
        |       CAST(24 AS INT) AS width,
        |       CAST(16 AS INT) AS height,
        |       CAST(6 AS BIGINT) AS n_blocks,
        |       CAST(2 * SUM(dcq) AS BIGINT) AS dc_sum,
        |       CAST(MIN(dcq) AS BIGINT) AS dc_min,
        |       CAST(MAX(dcq) AS BIGINT) AS dc_max
        |FROM odc GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // q279: the color-JPEG DC replay. MCU m's solid color is text bytes
    // (3m+1, 3m+2, 3m+3); the fixed-point forward transform (truncating
    // division — DuckDB // ≡ Scala / on the negative chroma numerators)
    // gives the flat plane values; each quantizes by the shared
    // (64v − 8192 + 64)//128 formula. The 4 Y blocks per MCU duplicate
    // one DC (sum ×4, min/max unaffected); chroma is one block per MCU.
    "q279_color_jpeg" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(length(text) // 3 AS BIGINT) AS nm
        |  FROM documents WHERE length(text) >= 3
        |),
        |mcu AS (
        |  SELECT doc_id, nm, CAST(m AS BIGINT) AS m,
        |         unicode(text[CAST(3*m+1 AS INT):CAST(3*m+1 AS INT)]) AS r,
        |         unicode(text[CAST(3*m+2 AS INT):CAST(3*m+2 AS INT)]) AS g,
        |         unicode(text[CAST(3*m+3 AS INT):CAST(3*m+3 AS INT)]) AS b
        |  FROM d, unnest(range(nm)) AS u(m)
        |),
        |q AS (
        |  SELECT doc_id, nm,
        |    (64 * ((77*r + 150*g + 29*b) // 256) - 8192 + 64) // 128 AS qy,
        |    (64 * (128 + (128*b - 43*r - 85*g) // 256) - 8192 + 64) // 128 AS qcb,
        |    (64 * (128 + (128*r - 107*g - 21*b) // 256) - 8192 + 64) // 128 AS qcr
        |  FROM mcu
        |)
        |SELECT doc_id,
        |       CAST(MAX(16 * nm) AS INT) AS width,
        |       CAST(16 AS INT) AS height,
        |       CAST(MAX(nm) AS BIGINT) AS n_mcus,
        |       CAST(4 * SUM(qy) AS BIGINT) AS y_dc_sum,
        |       CAST(MIN(qy) AS BIGINT) AS y_dc_min,
        |       CAST(MAX(qy) AS BIGINT) AS y_dc_max,
        |       CAST(SUM(qcb) AS BIGINT) AS cb_dc_sum,
        |       CAST(MIN(qcb) AS BIGINT) AS cb_dc_min,
        |       CAST(MAX(qcb) AS BIGINT) AS cb_dc_max,
        |       CAST(SUM(qcr) AS BIGINT) AS cr_dc_sum,
        |       CAST(MIN(qcr) AS BIGINT) AS cr_dc_min,
        |       CAST(MAX(qcr) AS BIGINT) AS cr_dc_max
        |FROM q GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // q280: the color thumbnail DC replay — the whole arc in SQL.
    // rec: MCU m's reconstructed flat plane values through quantize →
    // dequantize (clamps load-bearing at the range edges); rgbm: the
    // fixed-point INVERSE transform (truncating // on the negative
    // chroma terms, clamps load-bearing); xw/px: the q272 bilinear
    // blend per channel across MCU-boundary columns; pad: columns
    // 24..31 edge-replicate column 23 (the encoder's MCU padding);
    // fwd: the FORWARD transform of each output column (in range by
    // construction — no clamp fires); ydc: Y block DCs over 8-column
    // groups ×8 identical rows; csub/cdc: the exact 2×2 chroma box
    // ((2a+2b)//4 ≡ (a+b)//2 — per-PAIR truncation, then the block
    // sum); the two identical Y block rows double y_dc_sum.
    "q280_color_jpeg_thumbnail" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(length(text) // 3 AS BIGINT) AS nm
        |  FROM documents WHERE length(text) >= 3
        |),
        |mcu AS (
        |  SELECT doc_id, nm, CAST(m AS BIGINT) AS m,
        |         unicode(text[CAST(3*m+1 AS INT):CAST(3*m+1 AS INT)]) AS r,
        |         unicode(text[CAST(3*m+2 AS INT):CAST(3*m+2 AS INT)]) AS g,
        |         unicode(text[CAST(3*m+3 AS INT):CAST(3*m+3 AS INT)]) AS b
        |  FROM d, unnest(range(nm)) AS u(m)
        |),
        |rec AS (
        |  SELECT doc_id, nm, m,
        |    LEAST(255, GREATEST(0, 128 + (16 * ((64 * ((77*r + 150*g + 29*b) // 256) - 8128) // 128) + 4) // 8)) AS yv,
        |    LEAST(255, GREATEST(0, 128 + (16 * ((64 * (128 + (128*b - 43*r - 85*g) // 256) - 8128) // 128) + 4) // 8)) AS cbv,
        |    LEAST(255, GREATEST(0, 128 + (16 * ((64 * (128 + (128*r - 107*g - 21*b) // 256) - 8128) // 128) + 4) // 8)) AS crv
        |  FROM mcu
        |),
        |rgbm AS (
        |  SELECT doc_id, nm, m,
        |    LEAST(255, GREATEST(0, yv + (359 * (crv - 128)) // 256)) AS r1,
        |    LEAST(255, GREATEST(0, yv - (88 * (cbv - 128) + 183 * (crv - 128)) // 256)) AS g1,
        |    LEAST(255, GREATEST(0, yv + (454 * (cbv - 128)) // 256)) AS b1
        |  FROM rec
        |),
        |xs AS (
        |  SELECT d.doc_id, d.nm, CAST(x AS BIGINT) AS x,
        |         (2 * x + 1) * 16 * d.nm - 24 AS num
        |  FROM d, unnest(range(0, 24)) AS ux(x)
        |),
        |xw AS (
        |  SELECT doc_id, nm, x,
        |    CASE WHEN num <= 0 THEN 0
        |         WHEN num >= (16 * nm - 1) * 48 THEN nm - 1
        |         ELSE (num // 48) // 16 END AS m0,
        |    CASE WHEN num <= 0 THEN 0
        |         WHEN num >= (16 * nm - 1) * 48 THEN nm - 1
        |         ELSE (num // 48 + 1) // 16 END AS m1,
        |    CASE WHEN num <= 0 OR num >= (16 * nm - 1) * 48 THEN 0
        |         ELSE num % 48 END AS rr
        |  FROM xs
        |),
        |px AS (
        |  SELECT xw.doc_id, xw.x,
        |    ((48 - xw.rr) * a.r1 + xw.rr * c.r1) // 48 AS r2,
        |    ((48 - xw.rr) * a.g1 + xw.rr * c.g1) // 48 AS g2,
        |    ((48 - xw.rr) * a.b1 + xw.rr * c.b1) // 48 AS b2
        |  FROM xw
        |  JOIN rgbm a ON a.doc_id = xw.doc_id AND a.m = xw.m0
        |  JOIN rgbm c ON c.doc_id = xw.doc_id AND c.m = xw.m1
        |),
        |cgrid AS (
        |  SELECT d.doc_id, CAST(cc AS BIGINT) AS c
        |  FROM d, unnest(range(0, 32)) AS uc(cc)
        |),
        |fwd AS (
        |  SELECT cgrid.doc_id, cgrid.c,
        |    (77 * px.r2 + 150 * px.g2 + 29 * px.b2) // 256 AS y2,
        |    128 + (128 * px.b2 - 43 * px.r2 - 85 * px.g2) // 256 AS cb2,
        |    128 + (128 * px.r2 - 107 * px.g2 - 21 * px.b2) // 256 AS cr2
        |  FROM cgrid
        |  JOIN px ON px.doc_id = cgrid.doc_id AND px.x = LEAST(cgrid.c, 23)
        |),
        |ydc AS (
        |  SELECT doc_id, c // 8 AS bx,
        |         CAST((8 * SUM(y2) - 8128) // 128 AS BIGINT) AS dcq
        |  FROM fwd GROUP BY doc_id, c // 8
        |),
        |csub AS (
        |  SELECT doc_id, c // 2 AS cx,
        |         CAST(SUM(cb2) // 2 AS BIGINT) AS cbs,
        |         CAST(SUM(cr2) // 2 AS BIGINT) AS crs
        |  FROM fwd GROUP BY doc_id, c // 2
        |),
        |cdc AS (
        |  SELECT doc_id, cx // 8 AS blk,
        |         CAST((8 * SUM(cbs) - 8128) // 128 AS BIGINT) AS cbq,
        |         CAST((8 * SUM(crs) - 8128) // 128 AS BIGINT) AS crq
        |  FROM csub GROUP BY doc_id, cx // 8
        |),
        |ys AS (
        |  SELECT doc_id, CAST(2 * SUM(dcq) AS BIGINT) AS ysum,
        |         MIN(dcq) AS ymin, MAX(dcq) AS ymax
        |  FROM ydc GROUP BY doc_id
        |),
        |cs AS (
        |  SELECT doc_id, SUM(cbq) AS cbsum, MIN(cbq) AS cbmin, MAX(cbq) AS cbmax,
        |         SUM(crq) AS crsum, MIN(crq) AS crmin, MAX(crq) AS crmax
        |  FROM cdc GROUP BY doc_id
        |)
        |SELECT ys.doc_id,
        |       CAST(24 AS INT) AS width,
        |       CAST(16 AS INT) AS height,
        |       CAST(2 AS BIGINT) AS n_mcus,
        |       CAST(ysum AS BIGINT) AS y_dc_sum,
        |       CAST(ymin AS BIGINT) AS y_dc_min,
        |       CAST(ymax AS BIGINT) AS y_dc_max,
        |       CAST(cbsum AS BIGINT) AS cb_dc_sum,
        |       CAST(cbmin AS BIGINT) AS cb_dc_min,
        |       CAST(cbmax AS BIGINT) AS cb_dc_max,
        |       CAST(crsum AS BIGINT) AS cr_dc_sum,
        |       CAST(crmin AS BIGINT) AS cr_dc_min,
        |       CAST(crmax AS BIGINT) AS cr_dc_max
        |FROM ys JOIN cs ON cs.doc_id = ys.doc_id
        |ORDER BY ys.doc_id""".stripMargin,

    // q278: the per-frame bilinear replay. Frame j of a doc is text
    // bytes 16j+1 .. 16j+lf (lf = 16, ragged last lf = L − 16(nf−1));
    // output byte x of the resized frame is the q272 fixed-point
    // formula with L → lf and a 16j base offset: num = (2x+1)·lf − 12,
    // den = 24, edge clamps at both ends, floor blends — every
    // division non-negative so // replays the engine exactly.
    "q278_video_thumbnail" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L,
        |         CAST((length(text) + 15) // 16 AS BIGINT) AS nf
        |  FROM documents WHERE length(text) >= 1
        |),
        |fr AS (
        |  SELECT doc_id, text, CAST(j AS BIGINT) AS j,
        |         CASE WHEN j < nf - 1 THEN 16 ELSE L - 16 * (nf - 1) END AS lf
        |  FROM d, unnest(range(nf)) AS u(j)
        |),
        |px AS (
        |  SELECT doc_id, j,
        |    CASE WHEN (2 * x + 1) * lf - 12 <= 0
        |           THEN unicode(text[CAST(16 * j + 1 AS INT):CAST(16 * j + 1 AS INT)])
        |         WHEN (2 * x + 1) * lf - 12 >= (lf - 1) * 24
        |           THEN unicode(text[CAST(16 * j + lf AS INT):CAST(16 * j + lf AS INT)])
        |         ELSE ((24 - ((2 * x + 1) * lf - 12) % 24)
        |                 * unicode(text[CAST(16 * j + ((2 * x + 1) * lf - 12) // 24 + 1 AS INT):CAST(16 * j + ((2 * x + 1) * lf - 12) // 24 + 1 AS INT)])
        |               + (((2 * x + 1) * lf - 12) % 24)
        |                 * unicode(text[CAST(16 * j + ((2 * x + 1) * lf - 12) // 24 + 2 AS INT):CAST(16 * j + ((2 * x + 1) * lf - 12) // 24 + 2 AS INT)])) // 24
        |    END AS v
        |  FROM fr, unnest(range(0, 12)) AS ux(x)
        |)
        |SELECT doc_id, j AS frame_idx,
        |       CAST(12 AS BIGINT) AS n_bytes,
        |       CAST(SUM(v) AS BIGINT) AS sum_byte,
        |       CAST(MIN(v) AS BIGINT) AS min_byte,
        |       CAST(MAX(v) AS BIGINT) AS max_byte
        |FROM px GROUP BY doc_id, j
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // q272: fixed-point bilinear replay. Output x samples source
    // position ((2x+1)·L − 48)/96; num ≤ 0 clamps to byte 1,
    // num ≥ (L−1)·96 clamps to byte L, else the two-neighbor weighted
    // floor — every division non-negative, so // replays the engine's
    // integer math exactly for downscale AND upscale.
    "q272_bilinear_resize" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L
        |  FROM documents WHERE length(text) >= 1
        |),
        |p0 AS (
        |  SELECT doc_id, text, L, (2 * ox + 1) * L - 48 AS num
        |  FROM d, unnest(range(0, 48)) AS u(ox)
        |),
        |px AS (
        |  SELECT doc_id,
        |    CASE WHEN num <= 0 THEN unicode(text[1:1])
        |         WHEN num >= (L - 1) * 96 THEN unicode(text[CAST(L AS INT):CAST(L AS INT)])
        |         ELSE ((96 - num % 96) * unicode(text[CAST(num // 96 + 1 AS INT):CAST(num // 96 + 1 AS INT)])
        |               + (num % 96) * unicode(text[CAST(num // 96 + 2 AS INT):CAST(num // 96 + 2 AS INT)])) // 96
        |    END AS v
        |  FROM p0
        |)
        |SELECT doc_id,
        |       CAST(48 AS INT) AS width, CAST(1 AS INT) AS height,
        |       CAST(255 AS INT) AS max_val, CAST(48 AS BIGINT) AS n_px,
        |       CAST(SUM(v) AS DOUBLE) / 48.0 AS mean_px,
        |       CAST(MIN(v) AS INT) AS min_px, CAST(MAX(v) AS INT) AS max_px
        |FROM px GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // q273: the color twin — per-channel horizontal bilinear to 32 wide
    // (w = L//3 source pixels, channel c of source pixel i = byte
    // 3i+c+1), then the vertical pass to 2 rows, which for a 1-row
    // source clamps both rows to row 0 — per-channel means double the
    // one-row sums over n_px = 64.
    "q273_bilinear_color_resize" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) // 3 AS w
        |  FROM documents WHERE length(text) >= 3
        |),
        |p0 AS (
        |  SELECT doc_id, text, w, CAST(c AS BIGINT) AS c, (2 * ox + 1) * w - 32 AS num
        |  FROM d, unnest(range(0, 32)) AS u(ox), unnest(range(0, 3)) AS uc(c)
        |),
        |px AS (
        |  SELECT doc_id, c,
        |    CASE WHEN num <= 0 THEN unicode(text[CAST(c + 1 AS INT):CAST(c + 1 AS INT)])
        |         WHEN num >= (w - 1) * 64 THEN unicode(text[CAST(3 * (w - 1) + c + 1 AS INT):CAST(3 * (w - 1) + c + 1 AS INT)])
        |         ELSE ((64 - num % 64) * unicode(text[CAST(3 * (num // 64) + c + 1 AS INT):CAST(3 * (num // 64) + c + 1 AS INT)])
        |               + (num % 64) * unicode(text[CAST(3 * (num // 64 + 1) + c + 1 AS INT):CAST(3 * (num // 64 + 1) + c + 1 AS INT)])) // 64
        |    END AS v
        |  FROM p0
        |)
        |SELECT doc_id,
        |       CAST(32 AS INT) AS width, CAST(2 AS INT) AS height,
        |       CAST(255 AS INT) AS max_val, CAST(64 AS BIGINT) AS n_px,
        |       CAST(2 * SUM(v) FILTER (WHERE c = 0) AS DOUBLE) / 64.0 AS r_mean,
        |       CAST(2 * SUM(v) FILTER (WHERE c = 1) AS DOUBLE) / 64.0 AS g_mean,
        |       CAST(2 * SUM(v) FILTER (WHERE c = 2) AS DOUBLE) / 64.0 AS b_mean,
        |       CAST(MIN(v) AS INT) AS min_px, CAST(MAX(v) AS INT) AS max_px
        |FROM px GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // q271: the resize replayed from text. Input block b's decoded flat
    // value v_b = clamp(128 + (16·dcq_b + 4)//8) with
    // dcq_b = (S_b − 8192 + 64)//128 (the q229 DC path); stride-4
    // decimation of the width-8nb raster never crosses a block boundary
    // (4-runs start at col ≡ 0 mod 4, blocks at mod 8), so output col x
    // = v_{x//2} exactly; output block j sums 8 rows × cols 8j..8j+7
    // with edge replication past 2nb-1, and its re-encoded DC is the
    // same exact integer quantizer — scan_bits/recon_sum (AC float
    // path) are excluded from the gate.
    "q271_jpeg_resize" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(length(text) // 64 AS BIGINT) AS nb
        |  FROM documents WHERE length(text) >= 64
        |),
        |blk AS (
        |  SELECT doc_id, nb, CAST(b AS BIGINT) AS b,
        |         CAST(list_sum(list_transform(range(1, 65), i ->
        |           unicode(text[CAST(64 * b + i AS INT):CAST(64 * b + i AS INT)]))) AS BIGINT) AS s
        |  FROM d, unnest(range(nb)) AS u(b)
        |),
        |v AS (
        |  SELECT doc_id, nb, b,
        |         LEAST(255, GREATEST(0, 128 + (16 * ((s - 8192 + 64) // 128) + 4) // 8)) AS v
        |  FROM blk
        |),
        |cols AS (
        |  SELECT d.doc_id, d.nb, CAST(j AS BIGINT) AS j,
        |         LEAST(8 * j + c, 2 * d.nb - 1) // 2 AS b
        |  FROM d, unnest(range((d.nb + 3) // 4)) AS uj(j), unnest(range(8)) AS uc(c)
        |),
        |odc AS (
        |  SELECT cols.doc_id, cols.nb, cols.j,
        |         CAST((SUM(8 * v.v) - 8192 + 64) // 128 AS BIGINT) AS dcq
        |  FROM cols JOIN v ON v.doc_id = cols.doc_id AND v.b = cols.b
        |  GROUP BY cols.doc_id, cols.nb, cols.j
        |)
        |SELECT doc_id,
        |       CAST(MAX(2 * nb) AS INT) AS width,
        |       CAST(8 AS INT) AS height,
        |       CAST(MAX((nb + 3) // 4) AS BIGINT) AS n_blocks,
        |       CAST(SUM(dcq) AS BIGINT) AS dc_sum,
        |       CAST(MIN(dcq) AS BIGINT) AS dc_min,
        |       CAST(MAX(dcq) AS BIGINT) AS dc_max
        |FROM odc GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q229_jpeg_features" ->
      s"""WITH $jpegDcCtes
         |SELECT doc_id,
         |       CAST(MAX(8 * nb) AS INT) AS width,
         |       CAST(8 AS INT) AS height,
         |       MAX(nb) AS n_blocks,
         |       CAST(SUM(dcq) AS BIGINT) AS dc_sum,
         |       CAST(MIN(dcq) AS BIGINT) AS dc_min,
         |       CAST(MAX(dcq) AS BIGINT) AS dc_max,
         |       CAST(SUM((CASE WHEN cat = 0 THEN 2 WHEN cat <= 5 THEN 3 ELSE cat - 2 END)
         |                + cat + 4) AS BIGINT) AS scan_bits,
         |       CAST(SUM(64 * LEAST(255, GREATEST(0, 128 + (16 * dcq + 4) // 8))) AS BIGINT) AS recon_sum
         |FROM per
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "q234_decode_quarantine" ->
      s"""WITH $jpegDcCtes
         |SELECT doc_id,
         |       (doc_id % 7 <> 0) AS ok,
         |       CASE WHEN doc_id % 7 = 0 THEN 'IllegalArgumentException' ELSE '' END AS err_kind,
         |       CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE MAX(8 * nb) END AS INT) AS width,
         |       CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 8 END AS INT) AS height,
         |       CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE MAX(nb) END AS BIGINT) AS n_blocks,
         |       CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE SUM(dcq) END AS BIGINT) AS dc_sum,
         |       CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE MIN(dcq) END AS BIGINT) AS dc_min,
         |       CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE MAX(dcq) END AS BIGINT) AS dc_max,
         |       CAST(CASE WHEN doc_id % 7 = 0 THEN 0
         |            ELSE SUM((CASE WHEN cat = 0 THEN 2 WHEN cat <= 5 THEN 3 ELSE cat - 2 END)
         |                     + cat + 4) END AS BIGINT) AS scan_bits,
         |       CAST(CASE WHEN doc_id % 7 = 0 THEN 0
         |            ELSE SUM(64 * LEAST(255, GREATEST(0, 128 + (16 * dcq + 4) // 8))) END AS BIGINT) AS recon_sum
         |FROM per
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "q156_png_features" ->
      """WITH px AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1), i -> unicode(text[i:i])) AS cps,
        |         CAST(length(text) // 6 AS BIGINT) AS w
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(w AS INT) AS width,
        |       CAST(2 AS INT) AS height,
        |       CAST(8 AS INT) AS bit_depth,
        |       CAST(2 AS INT) AS color_type,
        |       CAST(2 * w AS BIGINT) AS n_px,
        |       CAST(list_sum(list_transform(range(0, 2 * w), k -> cps[3 * k + 1])) AS DOUBLE)
        |         / CAST(2 * w AS DOUBLE) AS r_mean,
        |       CAST(list_sum(list_transform(range(0, 2 * w), k -> cps[3 * k + 2])) AS DOUBLE)
        |         / CAST(2 * w AS DOUBLE) AS g_mean,
        |       CAST(list_sum(list_transform(range(0, 2 * w), k -> cps[3 * k + 3])) AS DOUBLE)
        |         / CAST(2 * w AS DOUBLE) AS b_mean,
        |       CAST(list_min(cps[1 : CAST(6 * w AS INT)]) AS INT) AS min_px,
        |       CAST(list_max(cps[1 : CAST(6 * w AS INT)]) AS INT) AS max_px,
        |       CAST(list_sum(cps[1 : CAST(3 * w AS INT)]) AS DOUBLE)
        |         / CAST(3 * w AS DOUBLE) AS top_row_mean,
        |       CAST(2 * (1 + 3 * w) AS BIGINT) AS raw_len
        |FROM px
        |ORDER BY doc_id""".stripMargin,

    "q32_set_ops" ->
      """WITH fh AS (SELECT DISTINCT user_id FROM events WHERE CAST(strftime(ts, '%d') AS INT) <= 15),
        |sh AS (SELECT DISTINCT user_id FROM events WHERE CAST(strftime(ts, '%d') AS INT) > 15)
        |SELECT user_id, 'both_halves' AS activity FROM (SELECT user_id FROM fh INTERSECT SELECT user_id FROM sh)
        |UNION ALL
        |SELECT user_id, 'first_half_only' AS activity FROM (SELECT user_id FROM fh EXCEPT SELECT user_id FROM sh)
        |ORDER BY activity, user_id""".stripMargin,

    "q33_pricing_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q34_order_quantiles" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       quantile_cont(o_totalprice, 0.5) AS median_price,
        |       quantile_cont(o_totalprice, 0.25) AS q1_price,
        |       quantile_cont(o_totalprice, 0.75) AS q3_price
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q35_chunk_tokens" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |c AS (
        |  SELECT doc_id, len(w) AS n, w,
        |         CAST(unnest(range(CAST(ceil(len(w) / 48.0) AS INT))) AS INT) AS chunk_id
        |  FROM w
        |)
        |SELECT doc_id, chunk_id,
        |       CAST(least(n - chunk_id * 48, 64) AS INT) AS chunk_tokens,
        |       array_to_string(w[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ') AS chunk_text
        |FROM c
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "q36_source_quota" ->
      """SELECT source, rnk, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY source ORDER BY n_chars DESC, doc_id) AS INT) AS rnk
        |  FROM documents)
        |WHERE rnk <= 50
        |ORDER BY source, rnk""".stripMargin,

    "q37_hash_split" ->
      """SELECT doc_id, bucket,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q39_ivf_search" -> ivfSearchOracle,

    "q235_graph_ann" -> graphAnnOracle,

    // The streaming edge state's batch-parity gate: q235's SQL verbatim
    // over the merged per-epoch deltas.
    "q240_streaming_graph_ann" -> graphAnnOracle,

    // The streamed IVF index must answer searches identically to the
    // one-shot batch assignment — same oracle as q39.
    "q228_streaming_ivf_postings" -> ivfSearchOracle,

    // Deletion parity: the tombstoned merged IVF index must equal the
    // batch build over the corpus MINUS the deleted ids (q39's oracle
    // with vec_ids 17/23 excluded from the assigned corpus only — the
    // frozen quantizer and the query panel are id-ranges the gate
    // deliberately does not delete from).
    "q242_ivf_deletion" -> ivfSearchOracleDeleting(Seq(17L, 23L)),

    // q258: the LEARNED-quantizer IVF search — the oracle replays the
    // deterministic Lloyd trainer verbatim (md5-ordered 4096-sample,
    // first-16 seeds, 8 unrolled assign/mean iterations with truncating
    // integer means and empty-cell carry), then q39's probe/rank tail
    // under the trained centroids. The engine side trains from the
    // streamed state's own postings — parity IS the gate.
    "q258_ivf_rebuild" -> ivfLearnedSearchOracle,

    // q260/q261/q262: the batch oracles verbatim over the SURVIVING
    // corpus — what the merged state must equal after the subtraction
    // epochs cancel the removed docs' contributions.
    "q260_exact_substr_takedown" -> exactSubstrOracleOver(" WHERE doc_id % 7 <> 3"),
    "q261_rolling_takedown" -> rollingPassageOracleOver(" WHERE doc_id % 7 <> 3"),
    "q262_passage_takedown" -> passageDedupOracleOver(" WHERE doc_id % 7 <> 3"),
    "q263_cdc_takedown" -> cdcDedupOracleOver(" WHERE doc_id % 7 <> 3"),

    // q264: the Lloyd replay over the SURVIVING vectors (sample, seeds,
    // assignment all shift with the deletion), full-table query panel.
    "q264_ivf_rebuild_deletion" -> ivfLearnedSearchOracleDeleting(Seq(17L, 23L)),

    // Deletion parity for the graph-ANN edge state: q235's oracle over
    // the surviving corpus (build, long links, entry point, scoring all
    // on survivors). Exactness rests on the prune-slack bound — the
    // sink ran at degree 8, the read at 6, and 2 ≤ 8 − 6.
    "q243_graph_ann_deletion" -> graphAnnOracleDeleting(Seq(17L, 23L)),

    "q40_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 32 AS shard,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |),
        |s AS (
        |  SELECT doc_id, shard, n_tokens,
        |         -- DuckDB windowed SUM(BIGINT) yields HUGEINT, which pandas renders as
        |         -- float64 and breaks the driver's row hash; pin back to BIGINT.
        |         CAST(COALESCE(SUM(n_tokens) OVER (
        |           PARTITION BY shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tb
        |  FROM t
        |)
        |SELECT doc_id, shard, n_tokens,
        |       CAST(tb // 512 AS BIGINT) AS seq_in_shard,
        |       CAST(tb % 512 AS BIGINT) AS seq_offset
        |FROM s ORDER BY doc_id""".stripMargin,

    "q42_dedup_against" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS content_hash
        |  FROM documents
        |)
        |SELECT doc_id, content_hash
        |FROM h
        |WHERE doc_id >= 250
        |  AND content_hash NOT IN (SELECT content_hash FROM h WHERE doc_id < 250)
        |ORDER BY doc_id""".stripMargin,

    "q43_stratified_sample" ->
      """SELECT doc_id, source
        |FROM documents
        |WHERE CAST('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 10
        |ORDER BY doc_id""".stripMargin,

    "q57_quantile_binning" ->
      """WITH cuts AS (
        |  SELECT o_orderpriority,
        |         quantile_cont(o_totalprice, 0.25) AS p25,
        |         quantile_cont(o_totalprice, 0.50) AS p50,
        |         quantile_cont(o_totalprice, 0.75) AS p75
        |  FROM orders GROUP BY 1
        |)
        |SELECT o.o_orderpriority, o.o_orderkey, o.o_totalprice,
        |       CAST(CASE WHEN o.o_totalprice <= c.p25 THEN 1
        |                 WHEN o.o_totalprice <= c.p50 THEN 2
        |                 WHEN o.o_totalprice <= c.p75 THEN 3
        |                 ELSE 4 END AS INT) AS bin
        |FROM orders o JOIN cuts c USING (o_orderpriority)
        |ORDER BY o.o_orderpriority, o.o_orderkey""".stripMargin,

    "q58_unpivot" ->
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CAST(l_quantity AS DOUBLE) AS q,
        |         CAST(l_extendedprice AS DOUBLE) AS e,
        |         CAST(l_discount AS DOUBLE) AS d,
        |         CAST(l_tax AS DOUBLE) AS t
        |  FROM lineitem WHERE l_orderkey < 1000
        |)
        |SELECT l_orderkey, l_linenumber, 'quantity' AS measure, q AS value FROM b
        |UNION ALL SELECT l_orderkey, l_linenumber, 'extendedprice', e FROM b
        |UNION ALL SELECT l_orderkey, l_linenumber, 'discount', d FROM b
        |UNION ALL SELECT l_orderkey, l_linenumber, 'tax', t FROM b
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,

    "q59_subword_budget" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        |)
        |SELECT doc_id,
        |       CAST(len(ws) AS BIGINT) AS n_words,
        |       CAST(list_sum(list_transform(ws, w -> (length(w) + 3) // 4)) AS BIGINT) AS n_subwords,
        |       CAST(list_max(list_transform(ws, w -> (length(w) + 3) // 4)) AS BIGINT) AS max_word_pieces
        |FROM t ORDER BY doc_id""".stripMargin,

    "q60_gap_fill" ->
      """WITH c AS (
        |  SELECT event_type,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epoch_day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |s AS (SELECT MIN(epoch_day) AS lo, MAX(epoch_day) AS hi FROM c),
        |d AS (SELECT CAST(unnest(range(lo, hi + 1)) AS BIGINT) AS epoch_day FROM s),
        |t AS (SELECT DISTINCT event_type FROM c)
        |SELECT t.event_type, d.epoch_day, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |FROM t CROSS JOIN d
        |LEFT JOIN c ON c.event_type = t.event_type AND c.epoch_day = d.epoch_day
        |ORDER BY t.event_type, d.epoch_day""".stripMargin,

    "q160_backoff_lm" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        |),
        |pb AS (
        |  SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
        |  FROM t WHERE doc_id % 4 = 0
        |),
        |mb AS (
        |  SELECT unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
        |  FROM t WHERE doc_id % 4 <> 0
        |),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM mb GROUP BY 1, 2),
        |p AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c GROUP BY 1),
        |u AS (
        |  SELECT w AS w2, CAST(COUNT(*) AS BIGINT) AS cu FROM (
        |    SELECT unnest(ws) AS w FROM t WHERE doc_id % 4 <> 0) GROUP BY 1
        |),
        |tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS tt FROM u),
        |j AS (
        |  SELECT pb.doc_id, c.c2,
        |         (c.c2 * 1048576) // p.c1 AS rb,
        |         (COALESCE(u.cu, 1) * 1048576) // tot.tt AS ru
        |  FROM pb
        |  LEFT JOIN c ON c.w1 = pb.w1 AND c.w2 = pb.w2
        |  LEFT JOIN p ON p.w1 = pb.w1
        |  LEFT JOIN u ON u.w2 = pb.w2
        |  CROSS JOIN tot
        |),
        |k AS (
        |  SELECT doc_id,
        |         c2 IS NULL AS backed_off,
        |         CASE WHEN c2 IS NOT NULL
        |              THEN CAST(length(bin(rb * rb * rb)) AS BIGINT) - 61
        |              ELSE CAST(length(bin(ru * ru * ru)) AS BIGINT) - 61 - 4 END AS contrib
        |  FROM j
        |)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(COUNT(*) FILTER (WHERE backed_off) AS BIGINT) AS n_backoff,
        |       CAST(SUM(contrib) AS BIGINT) AS score_tribits,
        |       CAST(SUM(contrib) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_tribits
        |FROM k GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q171_basket_pairs" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem
        |           WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |nb AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_baskets FROM b),
        |ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS ci FROM b GROUP BY i),
        |p AS (
        |  SELECT a.i AS item_a, c.i AS item_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM b a JOIN b c ON a.o = c.o AND a.i < c.i
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2
        |)
        |SELECT p.item_a, p.item_b, p.n_ab,
        |       ca.ci AS n_a, cb.ci AS n_b,
        |       (1000000 * p.n_ab) // nb.n_baskets AS support_ppm,
        |       (1000000 * p.n_ab) // ca.ci AS conf_ab_ppm,
        |       (1000000 * p.n_ab) // cb.ci AS conf_ba_ppm,
        |       CAST((1000000 * CAST(p.n_ab AS HUGEINT) * nb.n_baskets)
        |            // (CAST(ca.ci AS HUGEINT) * cb.ci) AS BIGINT) AS lift_ppm
        |FROM p
        |JOIN ic ca ON ca.i = p.item_a
        |JOIN ic cb ON cb.i = p.item_b
        |CROSS JOIN nb
        |ORDER BY item_a, item_b""".stripMargin,

    "q183_basket_triples" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem
        |           WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |nb AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_baskets FROM b),
        |p AS (
        |  SELECT x.i AS a, y.i AS b2, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM b x JOIN b y ON x.o = y.o AND x.i < y.i
        |  GROUP BY 1, 2
        |),
        |t AS (
        |  SELECT x.i AS item_a, y.i AS item_b, z.i AS item_c,
        |         CAST(COUNT(*) AS BIGINT) AS n_abc
        |  FROM b x
        |  JOIN b y ON x.o = y.o AND x.i < y.i
        |  JOIN b z ON y.o = z.o AND y.i < z.i
        |  GROUP BY 1, 2, 3
        |  HAVING COUNT(*) >= 2
        |)
        |SELECT t.item_a, t.item_b, t.item_c, t.n_abc, p.n_ab,
        |       (1000000 * t.n_abc) // nb.n_baskets AS support_ppm,
        |       (1000000 * t.n_abc) // p.n_ab AS conf_ab_c_ppm
        |FROM t
        |JOIN p ON p.a = t.item_a AND p.b2 = t.item_b
        |CROSS JOIN nb
        |ORDER BY item_a, item_b, item_c""".stripMargin,

    "q170_kneser_ney" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        |),
        |pb AS (
        |  SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
        |  FROM t WHERE doc_id % 4 = 0
        |),
        |mb AS (
        |  SELECT unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
        |  FROM t WHERE doc_id % 4 <> 0
        |),
        |c AS MATERIALIZED (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM mb GROUP BY 1, 2),
        |p AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1,
        |             CAST(COUNT(*) AS BIGINT) AS n1f FROM c GROUP BY 1),
        |cx AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncw FROM c GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM c),
        |j AS (
        |  SELECT pb.doc_id, c.c2, p.c1,
        |         CASE WHEN p.c1 IS NOT NULL
        |              THEN CAST(greatest(4 * COALESCE(c.c2, 0) - 3, 0) AS HUGEINT)
        |                     * CAST(tot.nb AS HUGEINT)
        |                   + 3 * CAST(p.n1f AS HUGEINT) * CAST(COALESCE(cx.ncw, 1) AS HUGEINT)
        |              ELSE CAST(COALESCE(cx.ncw, 1) AS HUGEINT) END AS kn_a,
        |         CASE WHEN p.c1 IS NOT NULL
        |              THEN 4 * CAST(p.c1 AS HUGEINT) * CAST(tot.nb AS HUGEINT)
        |              ELSE CAST(tot.nb AS HUGEINT) END AS kn_b
        |  FROM pb
        |  LEFT JOIN c ON c.w1 = pb.w1 AND c.w2 = pb.w2
        |  LEFT JOIN p ON p.w1 = pb.w1
        |  LEFT JOIN cx ON cx.w2 = pb.w2
        |  CROSS JOIN tot
        |),
        |k AS (
        |  SELECT doc_id, c2, c1,
        |         CAST((kn_a * 1048576) // kn_b AS BIGINT) AS r
        |  FROM j
        |),
        |s AS (
        |  SELECT doc_id, c2, c1,
        |         CAST(length(bin(r * r * r)) AS BIGINT) - 61 AS contrib
        |  FROM k
        |)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(COUNT(*) FILTER (WHERE c2 IS NULL) AS BIGINT) AS n_unseen_bigram,
        |       CAST(COUNT(*) FILTER (WHERE c1 IS NULL) AS BIGINT) AS n_unseen_prefix,
        |       CAST(SUM(contrib) AS BIGINT) AS score_tribits,
        |       CAST(SUM(contrib) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_tribits
        |FROM s GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q159_rendezvous_shard" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         list_transform(range(0, 6), s ->
        |           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(s AS VARCHAR)), 1, 15) AS BIGINT)) AS hs
        |  FROM documents
        |),
        |a AS (
        |  SELECT doc_id,
        |         CAST(list_indexof(hs[1:5], list_max(hs[1:5])) - 1 AS INT) AS shard5,
        |         CAST(list_indexof(hs, list_max(hs)) - 1 AS INT) AS shard6
        |  FROM h
        |)
        |SELECT doc_id, shard5, shard6, shard5 <> shard6 AS moved
        |FROM a ORDER BY doc_id""".stripMargin,

    "q158_cusum" ->
      """WITH c AS (
        |  SELECT event_type,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epoch_day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |s AS (SELECT MIN(epoch_day) AS lo, MAX(epoch_day) AS hi FROM c),
        |d AS (SELECT CAST(unnest(range(lo, hi + 1)) AS BIGINT) AS epoch_day FROM s),
        |t AS (SELECT DISTINCT event_type FROM c),
        |f AS (
        |  SELECT t.event_type, d.epoch_day, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |  FROM t CROSS JOIN d
        |  LEFT JOIN c ON c.event_type = t.event_type AND c.epoch_day = d.epoch_day
        |),
        |m AS (
        |  SELECT event_type, epoch_day, n,
        |         SUM(n) OVER (PARTITION BY event_type) // COUNT(*) OVER (PARTITION BY event_type) AS mu
        |  FROM f
        |),
        |k AS (
        |  SELECT event_type, epoch_day, n, mu,
        |         mu // 20 AS slack, (mu * 1) // 4 AS h
        |  FROM m
        |),
        |w AS (
        |  SELECT event_type, epoch_day, n, mu, h,
        |         SUM(n - mu - slack) OVER run AS p,
        |         SUM(n - mu + slack) OVER run AS q
        |  FROM k
        |  WINDOW run AS (PARTITION BY event_type ORDER BY epoch_day
        |                 ROWS UNBOUNDED PRECEDING)
        |),
        |x AS (
        |  SELECT event_type, epoch_day, n, mu, h,
        |         CAST(p - LEAST(0, MIN(p) OVER run) AS BIGINT) AS s_pos,
        |         CAST(GREATEST(0, MAX(q) OVER run) - q AS BIGINT) AS s_neg
        |  FROM w
        |  WINDOW run AS (PARTITION BY event_type ORDER BY epoch_day
        |                 ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT event_type, epoch_day, n, CAST(mu AS BIGINT) AS mu, s_pos, s_neg,
        |       s_pos > h AS alarm_up, s_neg > h AS alarm_down
        |FROM x
        |ORDER BY event_type, epoch_day""".stripMargin,

    "q61_exact_moments" ->
      """WITH a AS (
        |  SELECT lang, COUNT(*) AS n,
        |         CAST(SUM(n_chars) AS BIGINT) AS s,
        |         CAST(SUM(n_chars * n_chars) AS BIGINT) AS ss
        |  FROM documents GROUP BY lang
        |)
        |SELECT lang, n,
        |       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |       CAST(n * ss - s * s AS DOUBLE) / CAST(n * n AS DOUBLE) AS variance,
        |       sqrt(CAST(n * ss - s * s AS DOUBLE) / CAST(n * n AS DOUBLE)) AS stddev
        |FROM a ORDER BY lang""".stripMargin,

    "q62_quality_filter" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        |),
        |m AS (
        |  SELECT doc_id,
        |         CAST(len(ws) AS BIGINT) AS n_words,
        |         CAST(CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS DOUBLE)
        |           / CAST(len(ws) AS DOUBLE) AS avg_word_len,
        |         CAST(len(list_filter(ws, w -> w = 'the' OR w = 'a')) AS BIGINT) AS stop_hits
        |  FROM t
        |)
        |SELECT doc_id, n_words, avg_word_len, stop_hits,
        |       (n_words BETWEEN 40 AND 10000) AS len_ok,
        |       (avg_word_len >= 3.0 AND avg_word_len <= 8.0) AS shape_ok,
        |       (stop_hits > 0) AS stop_ok,
        |       ((n_words BETWEEN 40 AND 10000)
        |         AND avg_word_len >= 3.0 AND avg_word_len <= 8.0
        |         AND stop_hits > 0) AS keep,
        |       concat_ws(',',
        |         CASE WHEN NOT (n_words BETWEEN 40 AND 10000) THEN 'length' END,
        |         CASE WHEN NOT (avg_word_len >= 3.0 AND avg_word_len <= 8.0) THEN 'word_shape' END,
        |         CASE WHEN NOT (stop_hits > 0) THEN 'no_stopwords' END) AS reject_reasons
        |FROM m ORDER BY doc_id""".stripMargin,

    "q63_bigram_model" ->
      """WITH t AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        |),
        |bg AS (
        |  SELECT unnest(ws[1:len(ws) - 1]) AS w1, unnest(ws[2:len(ws)]) AS w2 FROM t
        |),
        |c AS (SELECT w1, w2, COUNT(*) AS cnt FROM bg GROUP BY 1, 2)
        |SELECT w1, w2, cnt,
        |       CAST(SUM(cnt) OVER (PARTITION BY w1) AS BIGINT) AS total,
        |       CAST(cnt AS DOUBLE) / CAST(CAST(SUM(cnt) OVER (PARTITION BY w1) AS BIGINT) AS DOUBLE) AS p
        |FROM c ORDER BY w1, w2""".stripMargin,

    "q64_cohort_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        |  FROM events
        |),
        |c AS (
        |  SELECT user_id, d, MIN(d) OVER (PARTITION BY user_id) AS cohort_day FROM ud
        |)
        |SELECT cohort_day, d - cohort_day AS day_offset,
        |       CAST(COUNT(*) AS BIGINT) AS n_active
        |FROM c GROUP BY 1, 2
        |ORDER BY cohort_day, day_offset""".stripMargin,

    "q65_equiwidth_histogram" ->
      """WITH v AS (SELECT n_chars AS x FROM documents),
        |s AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM v),
        |b AS (
        |  SELECT x, CAST(LEAST(9, ((x - lo) * 10) // (hi - lo + 1)) AS INT) AS bin
        |  FROM v CROSS JOIN s
        |)
        |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, MIN(x) AS x_min, MAX(x) AS x_max
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "q66_embed_near_dup_against" -> embedNearDupOracle,

    "q67_latest_snapshot" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    "q68_contamination" ->
      s"""WITH $docShingles,
         |shh AS (
         |  SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h
         |  FROM sh
         |),
         |corpus AS (SELECT doc_id, h FROM shh WHERE doc_id >= 50),
         |bench AS (SELECT doc_id AS bench_id, h FROM shh WHERE doc_id < 50)
         |SELECT c.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS n_common
         |FROM corpus c JOIN bench b USING (h)
         |GROUP BY c.doc_id, b.bench_id
         |HAVING COUNT(*) >= 2
         |ORDER BY c.doc_id, b.bench_id""".stripMargin,

    // q246: the q03 replay (joined→ranked, history depth 8) reduced to
    // per-example real-history lengths, composed with the q68 replay
    // (distinct contaminated corpus docs) through the item→doc modulus.
    "q246_contaminated_examples" ->
      s"""WITH $evActions,
         |$evImpressions,
         |$docShingles,
         |shh AS (
         |  SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h
         |  FROM sh
         |),
         |contam AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT c.doc_id
         |    FROM (SELECT doc_id, h FROM shh WHERE doc_id >= 50) c
         |    JOIN (SELECT doc_id AS bench_id, h FROM shh WHERE doc_id < 50) b USING (h)
         |    GROUP BY c.doc_id, b.bench_id
         |    HAVING COUNT(*) >= 2)
         |),
         |joined AS (
         |  SELECT i.dt, i.ranking_id, i.customer_id, i.impression_pos,
         |         i.impression_item_id, i.label,
         |         a.item_id, a.action_type, a.action_time
         |  FROM imp i LEFT JOIN actions a
         |    ON i.customer_id = a.customer_id AND a.action_time < i.cutoff_ts
         |),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY dt, ranking_id, customer_id, impression_pos, impression_item_id
         |      ORDER BY action_time DESC, item_id, action_type) AS rn
         |  FROM joined
         |),
         |exh AS (
         |  SELECT dt, ranking_id, customer_id, impression_pos, impression_item_id, label,
         |         CAST(COUNT(*) FILTER (WHERE action_time IS NOT NULL AND rn <= 8) AS BIGINT) AS hist_len
         |  FROM ranked
         |  GROUP BY dt, ranking_id, customer_id, impression_pos, impression_item_id, label
         |),
         |m AS (
         |  SELECT dt, label, hist_len,
         |         (impression_item_id % (SELECT MAX(doc_id) + 1 FROM documents))
         |           IN (SELECT doc_id FROM contam) AS is_c
         |  FROM exh
         |)
         |SELECT dt, label,
         |       CAST(COUNT(*) AS BIGINT) AS n_examples,
         |       CAST(SUM(CASE WHEN is_c THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |       CAST(SUM(CASE WHEN is_c THEN hist_len ELSE 0 END) AS BIGINT) AS contaminated_hist_len
         |FROM m GROUP BY dt, label
         |ORDER BY dt, label""".stripMargin,

    "q69_vocabulary" ->
      """WITH t AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents
        |),
        |c AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM t WHERE LEN(token) > 0
        |  GROUP BY token HAVING COUNT(*) >= 2
        |),
        |r AS (
        |  SELECT token, n,
        |         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INT) AS token_id
        |  FROM c
        |)
        |SELECT token_id, token, n FROM r WHERE token_id <= 1000
        |ORDER BY token_id""".stripMargin,

    "q70_standardize" ->
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
        |  FROM embeddings
        |),
        |x AS (
        |  SELECT vec_id, CAST(i - 1 AS INT) AS dim, qe[i] AS x
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
        |),
        |m AS (
        |  SELECT dim, COUNT(*) AS n,
        |         CAST(SUM(x) AS BIGINT) AS s,
        |         CAST(SUM(x * x) AS BIGINT) AS ss
        |  FROM x GROUP BY dim
        |),
        |mm AS (
        |  SELECT dim,
        |         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |         sqrt(CAST(n * ss - s * s AS DOUBLE) / CAST(n * n AS DOUBLE)) AS stddev
        |  FROM m
        |)
        |SELECT x.vec_id, x.dim,
        |       CASE WHEN mm.stddev = 0 THEN 0.0
        |            ELSE (CAST(x.x AS DOUBLE) - mm.mean) / mm.stddev END AS z
        |FROM x JOIN mm USING (dim)
        |ORDER BY x.vec_id, x.dim""".stripMargin,

    "q71_winsorize" ->
      """WITH v AS (
        |  SELECT o_orderpriority AS grp, o_orderkey AS id,
        |         CAST(o_totalprice AS DOUBLE) AS x
        |  FROM orders
        |),
        |c AS (
        |  SELECT grp, quantile_cont(x, 0.05) AS p_lo, quantile_cont(x, 0.95) AS p_hi
        |  FROM v GROUP BY grp
        |)
        |SELECT v.grp, v.id, v.x, LEAST(GREATEST(v.x, c.p_lo), c.p_hi) AS x_clipped
        |FROM v JOIN c USING (grp)
        |ORDER BY grp, id""".stripMargin,

    "q180_correlated_subquery" ->
      """SELECT o.o_orderkey, o.o_orderpriority,
        |       CAST(o.o_totalprice AS DOUBLE) AS price
        |FROM orders o
        |WHERE CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) *
        |        (SELECT COUNT(*) FROM orders o2
        |         WHERE o2.o_orderpriority = o.o_orderpriority) >
        |      (SELECT SUM(CAST(ROUND(o3.o_totalprice * 100, 0) AS BIGINT))
        |       FROM orders o3
        |       WHERE o3.o_orderpriority = o.o_orderpriority)
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
        |ORDER BY o.o_orderkey""".stripMargin,

    "q181_set_ops_all" ->
      """WITH a AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
        |b AS (SELECT l_partkey FROM lineitem WHERE l_linestatus = 'F')
        |SELECT 'i' AS op, l_partkey FROM (SELECT l_partkey FROM a INTERSECT ALL SELECT l_partkey FROM b)
        |UNION ALL
        |SELECT 'e' AS op, l_partkey FROM (SELECT l_partkey FROM a EXCEPT ALL SELECT l_partkey FROM b)
        |ORDER BY op, l_partkey""".stripMargin,

    "q182_null_safe_join" ->
      """WITH a AS (
        |  SELECT CASE WHEN event_type = 'click' THEN NULL ELSE event_type END AS k,
        |         CAST(COUNT(*) AS BIGINT) AS n_even
        |  FROM events WHERE event_id % 2 = 0 GROUP BY 1
        |),
        |b AS (
        |  SELECT CASE WHEN event_type = 'click' THEN NULL ELSE event_type END AS k,
        |         CAST(COUNT(*) AS BIGINT) AS n_odd
        |  FROM events WHERE event_id % 2 = 1 GROUP BY 1
        |)
        |SELECT COALESCE(a.k, '<null>') AS k, a.n_even, b.n_odd
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY k""".stripMargin,

    "q195_reciprocal_rank" ->
      s"""WITH $quantizedEmbeddings,
         |q AS (SELECT vec_id AS query_id, qe AS q_qe FROM n WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, n.vec_id,
         |         CAST(list_sum(list_transform(range(1, 65), i -> n.qe[i] * q.q_qe[i])) AS BIGINT) AS dp
         |  FROM n CROSS JOIN q
         |  WHERE n.vec_id <> q.query_id
         |),
         |ranked AS (
         |  SELECT query_id, vec_id, dp,
         |         CAST(ROW_NUMBER() OVER (
         |           PARTITION BY query_id ORDER BY dp DESC, vec_id) AS BIGINT) AS rnk
         |  FROM scored
         |  QUALIFY rnk <= 10
         |),
         |rel AS (
         |  SELECT r.query_id, r.rnk,
         |         CAST(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS BIGINT) AS rel
         |  FROM ranked r
         |  JOIN embeddings ql ON ql.vec_id = r.query_id
         |  JOIN embeddings nl ON nl.vec_id = r.vec_id
         |)
         |SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(MIN(CASE WHEN rel > 0 THEN rnk END) AS BIGINT) AS first_rel_rank,
         |       CAST(COALESCE(1000000 // MIN(CASE WHEN rel > 0 THEN rnk END), 0) AS BIGINT) AS rr_ppm
         |FROM rel GROUP BY query_id ORDER BY query_id""".stripMargin,

    "q197_embedding_drift" ->
      s"""WITH $quantizedEmbeddings,
         |u AS (
         |  SELECT vec_id, unnest(qe) AS x,
         |         CAST(unnest(range(len(qe))) AS INT) AS k
         |  FROM n
         |),
         |a AS (
         |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_a, CAST(SUM(x) AS BIGINT) AS sum_a
         |  FROM u WHERE vec_id % 2 = 0 GROUP BY k
         |),
         |b AS (
         |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_b, CAST(SUM(x) AS BIGINT) AS sum_b
         |  FROM u WHERE vec_id % 2 = 1 GROUP BY k
         |)
         |SELECT COALESCE(a.k, b.k) AS k,
         |       COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
         |       COALESCE(sum_a, 0) AS sum_a, COALESCE(sum_b, 0) AS sum_b,
         |       COALESCE(n_b, 0) * COALESCE(sum_a, 0)
         |         - COALESCE(n_a, 0) * COALESCE(sum_b, 0) AS shift_num
         |FROM a FULL OUTER JOIN b ON a.k = b.k
         |ORDER BY k""".stripMargin,

    "q217_cluster_purity" -> clusterPurityOracle,

    // q201's pair graph closed by a recursive-CTE reachability (q47's
    // CC oracle shape) — doc_id-min canonicals, cluster sizes.
    "q222_cdc_dedup" -> cdcDedupOracle,

    "q223_streaming_cdc_state" -> cdcDedupOracle,

    "q221_benford_digits" ->
      """WITH v AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders WHERE round(o_totalprice * 100) > 0
        |),
        |obs AS (
        |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |         CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM v GROUP BY 1
        |),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v)
        |SELECT d.digit, CAST(COALESCE(obs.n_obs, 0) AS BIGINT) AS n_obs,
        |       t.n AS n_total,
        |       CASE WHEN t.n > 0
        |            THEN (1000000 * COALESCE(obs.n_obs, 0)) // t.n END AS obs_ppm
        |FROM (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS digit) d
        |LEFT JOIN obs USING (digit) CROSS JOIN t
        |ORDER BY d.digit""".stripMargin,

    "q220_profile_orders" ->
      """SELECT 'o_custkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_null,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
        |       CAST(MIN(o_custkey) AS DOUBLE) AS min_num,
        |       CAST(MAX(o_custkey) AS DOUBLE) AS max_num
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
        |       COUNT(DISTINCT o_orderdate),
        |       CAST(epoch_us(MIN(o_orderdate)) AS DOUBLE),
        |       CAST(epoch_us(MAX(o_orderdate)) AS DOUBLE)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderkey', COUNT(*), COUNT(*) - COUNT(o_orderkey),
        |       COUNT(DISTINCT o_orderkey),
        |       CAST(MIN(o_orderkey) AS DOUBLE), CAST(MAX(o_orderkey) AS DOUBLE)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
        |       COUNT(DISTINCT o_orderpriority), NULL, NULL
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
        |       COUNT(DISTINCT o_orderstatus), NULL, NULL
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
        |       COUNT(DISTINCT o_totalprice),
        |       MIN(o_totalprice), MAX(o_totalprice)
        |FROM orders
        |ORDER BY col_name""".stripMargin,

    "q219_rank_family" ->
      """SELECT o_orderpriority AS grp, o_orderkey, o_totalprice,
        |       CAST(rank() OVER w AS BIGINT) AS rnk,
        |       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |       percent_rank() OVER w AS prank,
        |       cume_dist() OVER w AS cdist,
        |       CAST(ntile(4) OVER w2 AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice),
        |       w2 AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY grp, o_totalprice, o_orderkey""".stripMargin,

    "q218_image_dup_clusters" ->
      s"""WITH RECURSIVE $dHashSql,
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM dh a JOIN dh b ON b.doc_id > a.doc_id
         |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
         |),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach(v, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
         |),
         |lab AS (SELECT v AS doc_id, MIN(r) AS canonical_id FROM reach GROUP BY v),
         |sz AS (SELECT canonical_id, COUNT(*) AS cluster_size FROM lab GROUP BY canonical_id)
         |SELECT l.doc_id, l.canonical_id, s.cluster_size,
         |       l.doc_id = l.canonical_id AS is_canonical
         |FROM lab l JOIN sz s USING (canonical_id)
         |ORDER BY doc_id""".stripMargin,

    "q216_knn_outliers" ->
      s"""WITH $quantizedEmbeddings,
         |ob AS MATERIALIZED (SELECT vec_id, qe, n2, $lshBucketExprSql AS bucket FROM n),
         |opr AS (
         |  SELECT vec_id, qe, n2, xor(bucket, m) AS bucket
         |  FROM ob CROSS JOIN (SELECT unnest($lshProbeMaskListSql) AS m)
         |),
         |d AS (
         |  SELECT opr.vec_id, b.vec_id AS nb,
         |         opr.n2 + b.n2 - 2 * CAST(list_sum(
         |           list_transform(range(1, 65), i -> opr.qe[i] * b.qe[i])) AS BIGINT) AS d2
         |  FROM ob b JOIN opr USING (bucket)
         |  WHERE opr.vec_id <> b.vec_id
         |),
         |kn AS (
         |  SELECT vec_id, d2,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, nb) AS rnk
         |  FROM d
         |),
         |sc AS (
         |  SELECT vec_id, CAST(MAX(d2) AS BIGINT) AS kdist2,
         |         CAST(SUM(d2) AS BIGINT) AS sum_d2
         |  FROM kn WHERE rnk <= 5 GROUP BY vec_id
         |),
         |r AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY kdist2 DESC, vec_id) AS BIGINT) AS out_rank,
         |         CAST(COUNT(*) OVER () AS BIGINT) AS nn
         |  FROM sc
         |)
         |SELECT vec_id, kdist2, sum_d2, out_rank,
         |       (out_rank <= nn // 50) AS is_outlier
         |FROM r ORDER BY out_rank""".stripMargin,

    "q215_bleu_stats" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |p AS (
        |  SELECT a.doc_id AS pair_id, a.text AS cand, b.text AS ref
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        |),
        |cw AS (SELECT pair_id, regexp_split_to_array(trim(cand), '\s+') AS ws FROM p),
        |rw AS (SELECT pair_id, regexp_split_to_array(trim(ref), '\s+') AS ws FROM p),
        |cg AS (
        |  SELECT pair_id, CAST(n AS BIGINT) AS n,
        |         CAST('0x' || substr(md5(array_to_string(ws[i:i+n-1], ' ')), 1, 15)
        |              AS BIGINT) AS dig,
        |         CAST(COUNT(*) AS BIGINT) AS cc
        |  FROM cw, unnest(range(1, 5)) AS un(n), unnest(range(1, len(ws)-n+2)) AS ui(i)
        |  GROUP BY 1, 2, 3
        |),
        |rg AS (
        |  SELECT pair_id, CAST(n AS BIGINT) AS n,
        |         CAST('0x' || substr(md5(array_to_string(ws[i:i+n-1], ' ')), 1, 15)
        |              AS BIGINT) AS dig,
        |         CAST(COUNT(*) AS BIGINT) AS rc
        |  FROM rw, unnest(range(1, 5)) AS un(n), unnest(range(1, len(ws)-n+2)) AS ui(i)
        |  GROUP BY 1, 2, 3
        |),
        |m AS (
        |  SELECT pair_id, n,
        |         CAST(SUM(COALESCE(cc, 0)) AS BIGINT) AS t,
        |         CAST(SUM(COALESCE(rc, 0)) AS BIGINT) AS rt,
        |         CAST(SUM(LEAST(COALESCE(cc, 0), COALESCE(rc, 0))) AS BIGINT) AS mm
        |  FROM cg FULL JOIN rg USING (pair_id, n, dig)
        |  GROUP BY 1, 2
        |),
        |grid AS (
        |  SELECT p.pair_id, CAST(n AS BIGINT) AS n,
        |         CAST(len(cw.ws) AS BIGINT) AS cand_len,
        |         CAST(len(rw.ws) AS BIGINT) AS ref_len
        |  FROM p JOIN cw USING (pair_id) JOIN rw USING (pair_id),
        |       unnest(range(1, 5)) AS un(n)
        |)
        |SELECT g.pair_id, g.n, g.cand_len, g.ref_len,
        |       COALESCE(m.t, 0) AS n_total,
        |       COALESCE(m.rt, 0) AS n_ref_total,
        |       COALESCE(m.mm, 0) AS n_match,
        |       CASE WHEN m.t > 0 THEN (1000000 * m.mm) // m.t END AS prec_ppm,
        |       CASE WHEN m.rt > 0 THEN (1000000 * m.mm) // m.rt END AS rouge_recall_ppm
        |FROM grid g LEFT JOIN m ON m.pair_id = g.pair_id AND m.n = g.n
        |ORDER BY g.pair_id, g.n""".stripMargin,

    "q211_roc_curve" ->
      """WITH ev AS (
        |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |         CAST(round(value * 100) AS BIGINT) AS thr_centi,
        |         (event_type = 'purchase') AS y
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |),
        |per_t AS (
        |  SELECT day, thr_centi,
        |         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
        |         CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
        |  FROM ev GROUP BY day, thr_centi
        |),
        |win AS (
        |  SELECT day, thr_centi,
        |         CAST(SUM(c_pos) OVER (PARTITION BY day ORDER BY thr_centi DESC)
        |              AS BIGINT) AS tp,
        |         CAST(SUM(c_neg) OVER (PARTITION BY day ORDER BY thr_centi DESC)
        |              AS BIGINT) AS fp,
        |         CAST(SUM(c_pos) OVER (PARTITION BY day) AS BIGINT) AS n_pos,
        |         CAST(SUM(c_neg) OVER (PARTITION BY day) AS BIGINT) AS n_neg
        |  FROM per_t
        |)
        |SELECT day, thr_centi, tp, fp, n_pos, n_neg,
        |       (1000000 * tp) // n_pos AS tpr_ppm,
        |       (1000000 * fp) // n_neg AS fpr_ppm,
        |       (1000000 * tp) // (tp + fp) AS precision_ppm
        |FROM win
        |WHERE n_pos > 0 AND n_neg > 0
        |ORDER BY day, thr_centi DESC""".stripMargin,

    "q210_cdc_chunk_dups" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
        |         CAST(unnest(range(1, len(regexp_split_to_array(trim(text), '\s+')) + 1))
        |              AS BIGINT) AS pos,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents
        |),
        |b AS (
        |  SELECT doc_id, pos, w,
        |         CASE WHEN pos < n
        |                   AND CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 8 = 0
        |              THEN 1 ELSE 0 END AS brk
        |  FROM w
        |),
        |c AS (
        |  SELECT doc_id, pos, w,
        |         COALESCE(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
        |  FROM b
        |),
        |ch AS (
        |  SELECT doc_id, chunk_idx,
        |         CAST(COUNT(*) AS BIGINT) AS n_words,
        |         CAST('0x' || substr(md5(string_agg(w, ' ' ORDER BY pos)), 1, 15)
        |              AS BIGINT) AS dig
        |  FROM c GROUP BY doc_id, chunk_idx
        |)
        |SELECT dig,
        |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(COUNT(*) AS BIGINT) AS n_occ,
        |       CAST(MIN(n_words) AS BIGINT) AS n_words
        |FROM ch GROUP BY dig HAVING COUNT(*) > 1
        |ORDER BY dig""".stripMargin,

    "q209_luhn_validate" ->
      """WITH c AS (
        |  SELECT doc_id AS id,
        |         lpad(CAST((doc_id * 48271 + 11) % 100000000 AS VARCHAR), 8, '0')
        |           || lpad(CAST((doc_id * 69621 + 17) % 100000000 AS VARCHAR), 8, '0')
        |           AS cand
        |  FROM documents
        |),
        |s AS (
        |  SELECT id, cand,
        |         CAST(list_sum(list_transform(range(1, length(cand) + 1), i ->
        |           CASE WHEN (length(cand) - i) % 2 = 1
        |                THEN CASE WHEN 2 * CAST(substr(cand, CAST(i AS INT), 1) AS INT) > 9
        |                          THEN 2 * CAST(substr(cand, CAST(i AS INT), 1) AS INT) - 9
        |                          ELSE 2 * CAST(substr(cand, CAST(i AS INT), 1) AS INT) END
        |                ELSE CAST(substr(cand, CAST(i AS INT), 1) AS INT) END))
        |           AS BIGINT) AS luhn_sum
        |  FROM c
        |)
        |SELECT id, cand, CAST(length(cand) AS BIGINT) AS n_digits,
        |       luhn_sum % 10 AS luhn_mod,
        |       (luhn_sum % 10 = 0) AS luhn_valid
        |FROM s ORDER BY id""".stripMargin,

    "q208_quantile_normalize" ->
      """WITH v AS (SELECT doc_id AS id, source AS grp, n_chars AS x FROM documents),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
        |g AS (
        |  SELECT x AS x_norm,
        |         CAST(ROW_NUMBER() OVER (ORDER BY x, id) AS BIGINT) AS grank
        |  FROM v
        |),
        |s AS (
        |  SELECT id, grp, x,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x, id)
        |              AS BIGINT) AS src_rank,
        |         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS ns
        |  FROM v
        |)
        |SELECT s.id, s.grp, s.x, s.src_rank,
        |       (s.src_rank * t.n + s.ns - 1) // s.ns AS g_rank,
        |       g.x_norm
        |FROM s CROSS JOIN t
        |JOIN g ON g.grank = (s.src_rank * t.n + s.ns - 1) // s.ns
        |ORDER BY s.id""".stripMargin,

    "q206_rolling_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        |  FROM events
        |),
        |r AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM ud),
        |g AS (
        |  SELECT CAST(unnest(range((SELECT lo FROM r), (SELECT hi FROM r) + 1))
        |              AS BIGINT) AS day
        |)
        |SELECT g.day, CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS n_active
        |FROM g LEFT JOIN ud ON ud.d BETWEEN g.day - 6 AND g.day
        |GROUP BY g.day
        |ORDER BY g.day""".stripMargin,

    "q205_phrase_search" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        |),
        |tok AS (
        |  SELECT doc_id, unnest(ws) AS w,
        |         CAST(unnest(range(0, len(ws))) AS BIGINT) AS pos
        |  FROM t
        |),
        |bg AS (
        |  SELECT unnest(ws[1:len(ws) - 1]) || ' ' || unnest(ws[2:len(ws)]) AS phrase FROM t
        |),
        |tg AS (
        |  SELECT unnest(ws[1:len(ws) - 2]) || ' ' || unnest(ws[2:len(ws) - 1])
        |           || ' ' || unnest(ws[3:len(ws)]) AS phrase
        |  FROM t
        |),
        |topb AS (
        |  SELECT phrase FROM (SELECT phrase, COUNT(*) AS cnt FROM bg GROUP BY 1)
        |  ORDER BY cnt DESC, phrase LIMIT 3
        |),
        |topt AS (
        |  SELECT phrase FROM (SELECT phrase, COUNT(*) AS cnt FROM tg GROUP BY 1)
        |  ORDER BY cnt DESC, phrase LIMIT 3
        |),
        |p AS (SELECT phrase FROM topb UNION ALL SELECT phrase FROM topt),
        |pw AS (
        |  SELECT phrase, CAST(len(l) AS BIGINT) AS plen, unnest(l) AS pw,
        |         CAST(unnest(range(0, len(l))) AS BIGINT) AS i
        |  FROM (SELECT phrase, regexp_split_to_array(trim(phrase), '\s+') AS l FROM p)
        |),
        |cand AS (
        |  SELECT phrase, plen, doc_id, pos - i AS start
        |  FROM tok JOIN pw ON tok.w = pw.pw
        |  WHERE pos - i >= 0
        |),
        |m AS (
        |  SELECT phrase, plen, doc_id, start, COUNT(*) AS hit
        |  FROM cand GROUP BY 1, 2, 3, 4
        |)
        |SELECT phrase, doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |       CAST(MIN(start) AS BIGINT) AS first_pos
        |FROM m WHERE hit = plen
        |GROUP BY phrase, doc_id
        |ORDER BY phrase, doc_id""".stripMargin,

    "q203_spelling_variants" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents
        |),
        |v AS (SELECT DISTINCT w FROM tok WHERE w <> '')
        |SELECT a.w AS wa, b.w AS wb, CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist
        |FROM v a JOIN v b ON a.w < b.w
        |WHERE levenshtein(a.w, b.w) <= 2
        |ORDER BY wa, wb""".stripMargin,

    "q204_spelling_canonicalize" ->
      """WITH RECURSIVE tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents
        |),
        |v AS (SELECT DISTINCT w FROM tok WHERE w <> ''),
        |p AS (
        |  SELECT a.w AS wa, b.w AS wb
        |  FROM v a JOIN v b ON a.w < b.w
        |  WHERE levenshtein(a.w, b.w) <= 2
        |),
        |edges AS (SELECT wa AS a, wb AS b FROM p UNION SELECT wb, wa FROM p),
        |reach(x, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.x
        |),
        |lab AS (SELECT x AS w, MIN(r) AS canonical_w FROM reach GROUP BY x),
        |sz AS (SELECT canonical_w, COUNT(*) AS cluster_size FROM lab GROUP BY canonical_w)
        |SELECT l.w, l.canonical_w, s.cluster_size,
        |       l.w = l.canonical_w AS is_canonical
        |FROM lab l JOIN sz s USING (canonical_w)
        |ORDER BY w""".stripMargin,

    "q202_lag_correlation" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epoch_day,
        |         event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2
        |),
        |a AS (SELECT epoch_day, n AS na FROM daily WHERE event_type = 'click'),
        |b AS (SELECT epoch_day AS bday, n AS nb FROM daily WHERE event_type = 'purchase'),
        |l AS (SELECT unnest(range(0, 8)) AS lag),
        |j AS (
        |  SELECT l.lag, a.na, b.nb
        |  FROM a CROSS JOIN l JOIN b ON b.bday = a.epoch_day + l.lag
        |),
        |g AS (
        |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_days,
        |         CAST(SUM(na) AS BIGINT) AS sx, CAST(SUM(nb) AS BIGINT) AS sy,
        |         CAST(SUM(na*na) AS BIGINT) AS sxx, CAST(SUM(nb*nb) AS BIGINT) AS syy,
        |         CAST(SUM(na*nb) AS BIGINT) AS sxy
        |  FROM j GROUP BY lag
        |),
        |d AS (
        |  SELECT lag, n_days, sxy,
        |         n_days * sxy - sx * sy AS num,
        |         n_days * sxx - sx * sx AS d1,
        |         n_days * syy - sy * sy AS d2
        |  FROM g
        |)
        |SELECT CAST(lag AS BIGINT) AS lag, n_days, sxy, CAST(num AS BIGINT) AS num,
        |       CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END AS BIGINT) AS corr_sign,
        |       CASE WHEN d1 > 0 AND d2 > 0
        |            THEN CAST((CAST(1000000 AS HUGEINT) * num * num)
        |                   // (CAST(d1 AS HUGEINT) * d2) AS BIGINT)
        |       END AS r2_ppm
        |FROM d ORDER BY lag""".stripMargin,

    "q201_dhash_pairs" ->
      s"""WITH $dHashSql
         |SELECT a.doc_id AS ida, b.doc_id AS idb,
         |       CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS dist
         |FROM dh a JOIN dh b ON b.doc_id > a.doc_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
         |ORDER BY ida, idb""".stripMargin,

    "q200_image_dhash" ->
      s"""WITH $dHashSql
         |SELECT doc_id, n_px, dhash FROM dh ORDER BY doc_id""".stripMargin,

    "q199_vocabulary_growth" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents
        |),
        |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok GROUP BY doc_id),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM pd),
        |db AS (
        |  SELECT doc_id, n_tok,
        |         CAST((((ROW_NUMBER() OVER (ORDER BY doc_id)) - 1) * 10) // n_docs AS BIGINT) AS bucket
        |  FROM pd CROSS JOIN tot
        |),
        |bt AS (
        |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs_in,
        |         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |  FROM db GROUP BY bucket
        |),
        |nt AS (
        |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_types FROM (
        |    SELECT w, MIN(db.bucket) AS bucket
        |    FROM tok JOIN db USING (doc_id) GROUP BY w
        |  ) GROUP BY bucket
        |)
        |SELECT b.bucket, b.n_docs_in,
        |       CAST(SUM(b.n_tokens) OVER (ORDER BY b.bucket) AS BIGINT) AS tokens_cum,
        |       COALESCE(nt.new_types, 0) AS new_types,
        |       CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY b.bucket) AS BIGINT) AS types_cum
        |FROM bt b LEFT JOIN nt USING (bucket)
        |ORDER BY bucket""".stripMargin,

    "q198_kmv_overlap" -> kmvOverlapOracle(256),

    "q196_tokenizer_scorecard" -> tokenizerScorecardOracle,

    "q194_top_principal_component" -> topPcOracle(12, 10000L),

    "q193_pareto_frontier" ->
      """WITH v AS (
        |  SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS c,
        |         CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS v
        |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL
        |)
        |SELECT p.id, p.c, p.v FROM v p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM v q
        |  WHERE q.c <= p.c AND q.v >= p.v AND (q.c < p.c OR q.v > p.v))
        |ORDER BY c, v, id""".stripMargin,

    "q192_rank_sum_test" ->
      """WITH v AS (
        |  SELECT CAST(source AS VARCHAR) AS grp, CAST(n_chars AS BIGINT) AS x
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |),
        |pv AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS n_v FROM v GROUP BY x),
        |rk AS (
        |  SELECT x, n_v, CAST(COALESCE(SUM(n_v) OVER (
        |    ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_less
        |  FROM pv
        |),
        |tot AS (
        |  SELECT CAST(SUM(n_v) AS BIGINT) AS n,
        |         CAST(SUM(n_v*n_v*n_v - n_v) AS BIGINT) AS tie_sum
        |  FROM pv
        |),
        |agg AS (
        |  SELECT grp,
        |         CAST(SUM(n_gv * (2*cum_less + n_v + 1)) AS BIGINT) AS r_x2,
        |         CAST(SUM(n_gv) AS BIGINT) AS n1
        |  FROM (SELECT grp, x, CAST(COUNT(*) AS BIGINT) AS n_gv FROM v GROUP BY grp, x) gv
        |  JOIN rk USING (x) GROUP BY grp
        |),
        |d AS (
        |  SELECT grp, n1, n - n1 AS n2,
        |         r_x2 - n1*(n1+1) AS u_x2,
        |         r_x2 - n1*(n1+1) - n1*(n - n1) AS delta,
        |         n, tie_sum
        |  FROM agg CROSS JOIN tot
        |)
        |SELECT grp, n1, n2, u_x2, delta,
        |       CASE WHEN n1 > 0 AND n2 > 0
        |            THEN CAST((1000000 * u_x2) // (2*n1*n2) AS BIGINT) END AS cles_ppm,
        |       CASE WHEN n1 > 0 AND n2 > 0
        |             AND CAST(n AS HUGEINT)*(n-1)*(n+1) - tie_sum > 0
        |            THEN CAST((CAST(3000000 AS HUGEINT) * delta * delta * n * (n-1))
        |                   // (CAST(n1 AS HUGEINT) * n2 *
        |                      (CAST(n AS HUGEINT)*(n-1)*(n+1) - tie_sum)) AS BIGINT)
        |       END AS z2_micro
        |FROM d ORDER BY grp""".stripMargin,

    "q191_hilbert_layout" -> hilbertOracle,

    "q190_chi_square_terms" ->
      s"""WITH $qualityLabelCtes,
        |tot AS (
        |  SELECT CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |         CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        |  FROM m
        |),
        |dt AS (SELECT DISTINCT doc_id, unnest(ws) AS tok FROM t),
        |c AS (
        |  SELECT dt.tok,
        |         CAST(SUM(CASE WHEN m.y THEN 1 ELSE 0 END) AS BIGINT) AS df_pos,
        |         CAST(SUM(CASE WHEN m.y THEN 0 ELSE 1 END) AS BIGINT) AS df_neg
        |  FROM dt JOIN m USING (doc_id)
        |  GROUP BY dt.tok
        |),
        |x AS (
        |  SELECT tok, df_pos, df_neg, tt.n_pos, tt.n_neg,
        |         CAST(df_pos AS HUGEINT) AS a, CAST(df_neg AS HUGEINT) AS b,
        |         CAST(tt.n_pos - df_pos AS HUGEINT) AS cc,
        |         CAST(tt.n_neg - df_neg AS HUGEINT) AS d,
        |         CAST(tt.n_pos + tt.n_neg AS HUGEINT) AS n
        |  FROM c, tot tt
        |  WHERE df_pos + df_neg >= 2
        |)
        |SELECT tok AS t, df_pos, df_neg,
        |       CASE WHEN (a + b) * (cc + d) * (a + cc) * (b + d) = 0 THEN 0
        |            ELSE CAST((1000000 * n * (a * d - b * cc) * (a * d - b * cc))
        |                 // ((a + b) * (cc + d) * (a + cc) * (b + d)) AS BIGINT)
        |       END AS chi2_micro,
        |       a * CAST(n_neg AS HUGEINT) > b * CAST(n_pos AS HUGEINT) AS enriched
        |FROM x
        |ORDER BY chi2_micro DESC, t
        |LIMIT 50""".stripMargin,

    "q189_sequential_pairs" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
        |),
        |flagged AS (
        |  SELECT user_id, event_id, event_type, us,
        |         CASE WHEN us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |),
        |sess AS (
        |  SELECT user_id, event_type, us,
        |         CAST(SUM(new_sess) OVER (
        |           PARTITION BY user_id ORDER BY us, event_id
        |           ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
        |  FROM flagged
        |),
        |spans AS MATERIALIZED (
        |  SELECT user_id, session_id, event_type,
        |         MIN(us) AS first_us, MAX(us) AS last_us
        |  FROM sess GROUP BY 1, 2, 3
        |),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_total
        |  FROM (SELECT DISTINCT user_id, session_id FROM spans)
        |),
        |na AS (
        |  SELECT event_type AS ante, CAST(COUNT(*) AS BIGINT) AS n_ante
        |  FROM spans GROUP BY 1
        |),
        |pairs AS (
        |  SELECT a.event_type AS ante, b.event_type AS cons,
        |         CAST(COUNT(*) AS BIGINT) AS n_sessions
        |  FROM spans a
        |  JOIN spans b ON a.user_id = b.user_id AND a.session_id = b.session_id
        |   AND a.event_type <> b.event_type AND a.first_us < b.last_us
        |  GROUP BY 1, 2
        |)
        |SELECT p.ante, p.cons, p.n_sessions, na.n_ante,
        |       CAST((1000000 * p.n_sessions) // t.n_total AS BIGINT) AS support_ppm,
        |       CAST((1000000 * p.n_sessions) // na.n_ante AS BIGINT) AS conf_ppm
        |FROM pairs p JOIN na ON na.ante = p.ante CROSS JOIN tot t
        |WHERE p.n_sessions >= 2
        |ORDER BY p.ante, p.cons""".stripMargin,

    "q188_hits" -> hitsOracle,

    "q232_hilbert3_layout" -> hilbert3Oracle,

    "q224_zorder3_layout" ->
      """WITH t AS (
        |  SELECT CAST(l_partkey AS BIGINT) AS zx, CAST(l_suppkey AS BIGINT) AS zy,
        |         CAST(l_orderkey AS BIGINT) AS zz,
        |         CAST(list_sum(list_transform(range(0, 21), i ->
        |           (((CAST(l_partkey AS BIGINT) >> i) & 1) << (3 * i))
        |           + (((CAST(l_suppkey AS BIGINT) >> i) & 1) << (3 * i + 1))
        |           + (((CAST(l_orderkey AS BIGINT) >> i) & 1) << (3 * i + 2)))) AS BIGINT) AS zv
        |  FROM lineitem
        |),
        |r AS (
        |  SELECT zx, zy, zz,
        |         CAST(ROW_NUMBER() OVER (ORDER BY zv, zx, zy, zz) AS BIGINT) AS rnk,
        |         CAST(COUNT(*) OVER () AS BIGINT) AS total
        |  FROM t
        |)
        |SELECT CAST(((rnk - 1) * 32) // total AS INT) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       MIN(zx) AS min_x, MAX(zx) AS max_x,
        |       MIN(zy) AS min_y, MAX(zy) AS max_y,
        |       MIN(zz) AS min_z, MAX(zz) AS max_z
        |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q187_zorder_layout" ->
      """WITH t AS (
        |  SELECT CAST(l_partkey AS BIGINT) AS zx, CAST(l_suppkey AS BIGINT) AS zy,
        |         CAST(list_sum(list_transform(range(0, 21), i ->
        |           (((CAST(l_partkey AS BIGINT) >> i) & 1) << (2 * i))
        |           + (((CAST(l_suppkey AS BIGINT) >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zv
        |  FROM lineitem
        |),
        |r AS (
        |  SELECT zx, zy,
        |         CAST(ROW_NUMBER() OVER (ORDER BY zv, zx, zy) AS BIGINT) AS rnk,
        |         CAST(COUNT(*) OVER () AS BIGINT) AS total
        |  FROM t
        |)
        |SELECT CAST(((rnk - 1) * 32) // total AS INT) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       MIN(zx) AS min_x, MAX(zx) AS max_x,
        |       MIN(zy) AS min_y, MAX(zy) AS max_y
        |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q186_maintain_aggregate" ->
      """SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_x
        |FROM documents
        |WHERE doc_id % 7 = 0 OR doc_id % 3 <> 0
        |GROUP BY source
        |ORDER BY grp""".stripMargin,

    "q185_gini" ->
      """WITH r AS (
        |  SELECT source AS grp, CAST(n_chars AS BIGINT) AS x,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS rnk
        |  FROM documents
        |),
        |a AS (
        |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
        |         CAST(SUM(CAST(rnk AS HUGEINT) * x) AS HUGEINT) AS a
        |  FROM r GROUP BY grp
        |)
        |SELECT grp, n, CAST(s AS BIGINT) AS sum_x,
        |       CASE WHEN s > 0
        |            THEN CAST(2 * a - (n + 1) * s AS DOUBLE) /
        |                 CAST(CAST(n AS HUGEINT) * s AS DOUBLE)
        |       END AS gini
        |FROM a ORDER BY grp""".stripMargin,

    "q184_group_regression" ->
      """WITH c AS (
        |  SELECT event_type,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epoch_day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |s AS (SELECT MIN(epoch_day) AS lo, MAX(epoch_day) AS hi FROM c),
        |d AS (SELECT CAST(unnest(range(lo, hi + 1)) AS BIGINT) AS epoch_day FROM s),
        |t AS (SELECT DISTINCT event_type FROM c),
        |g AS (
        |  SELECT t.event_type, d.epoch_day AS x, CAST(COALESCE(c.n, 0) AS BIGINT) AS y
        |  FROM t CROSS JOIN d
        |  LEFT JOIN c ON c.event_type = t.event_type AND c.epoch_day = d.epoch_day
        |),
        |a AS (
        |  SELECT event_type AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
        |         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM g GROUP BY 1
        |),
        |f AS (
        |  SELECT grp, n,
        |         n * sxy - sx * sy AS cov_num,
        |         n * sxx - sx * sx AS varx_num,
        |         n * syy - sy * sy AS vary_num,
        |         sx, sy
        |  FROM a
        |),
        |o AS (
        |  SELECT grp, n,
        |         CASE WHEN varx_num > 0
        |              THEN CAST(cov_num AS DOUBLE) / CAST(varx_num AS DOUBLE) END AS slope,
        |         CASE WHEN varx_num > 0 AND vary_num > 0
        |              THEN CAST(cov_num AS DOUBLE) /
        |                   (sqrt(CAST(varx_num AS DOUBLE)) * sqrt(CAST(vary_num AS DOUBLE)))
        |         END AS r,
        |         sx, sy
        |  FROM f
        |)
        |SELECT grp, n, slope,
        |       CASE WHEN slope IS NOT NULL
        |            THEN (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
        |       END AS intercept,
        |       r * r AS r2
        |FROM o ORDER BY grp""".stripMargin,

    "q179_seasonal_residuals" ->
      """WITH c AS (
        |  SELECT event_type,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epoch_day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |s AS (SELECT MIN(epoch_day) AS lo, MAX(epoch_day) AS hi FROM c),
        |d AS (SELECT CAST(unnest(range(lo, hi + 1)) AS BIGINT) AS epoch_day FROM s),
        |t AS (SELECT DISTINCT event_type FROM c),
        |g AS (
        |  SELECT t.event_type, d.epoch_day, CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
        |         CAST((d.epoch_day + 4) % 7 AS BIGINT) AS dow
        |  FROM t CROSS JOIN d
        |  LEFT JOIN c ON c.event_type = t.event_type AND c.epoch_day = d.epoch_day
        |),
        |b AS (
        |  SELECT event_type, dow, quantile_cont(CAST(n AS DOUBLE), 0.5) AS baseline
        |  FROM g GROUP BY 1, 2
        |),
        |r AS (
        |  SELECT g.event_type, g.epoch_day, g.dow, g.n, b.baseline,
        |         CAST(g.n AS DOUBLE) - b.baseline AS residual
        |  FROM g JOIN b USING (event_type, dow)
        |),
        |m AS (SELECT event_type, quantile_cont(abs(residual), 0.5) AS mad0 FROM r GROUP BY 1)
        |SELECT r.event_type, r.epoch_day, r.dow, r.n, r.baseline, r.residual, m.mad0,
        |       (m.mad0 > 0 AND abs(r.residual) > 3.0 * 1.4826 * m.mad0) AS is_anomaly
        |FROM r JOIN m USING (event_type)
        |ORDER BY event_type, epoch_day""".stripMargin,

    "q176_robust_outliers" ->
      """WITH v AS (
        |  SELECT o_orderpriority AS grp, o_orderkey AS id,
        |         CAST(o_totalprice AS DOUBLE) AS x
        |  FROM orders
        |),
        |m AS (SELECT grp, quantile_cont(x, 0.5) AS med FROM v GROUP BY grp),
        |d AS (
        |  SELECT v.grp, v.id, v.x, m.med, abs(v.x - m.med) AS adev
        |  FROM v JOIN m USING (grp)
        |),
        |md AS (SELECT grp, quantile_cont(adev, 0.5) AS mad FROM d GROUP BY grp)
        |SELECT d.grp, d.id, d.x, d.med, md.mad,
        |       CASE WHEN md.mad > 0 THEN (d.x - d.med) / (1.4826 * md.mad) END AS robust_z,
        |       (md.mad > 0 AND d.adev > 3.0 * 1.4826 * md.mad) AS is_outlier
        |FROM d JOIN md USING (grp)
        |ORDER BY grp, id""".stripMargin,

    "q72_transition_matrix" ->
      """WITH s AS (
        |  SELECT event_type,
        |         LEAD(event_type) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events
        |)
        |SELECT event_type AS from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM s WHERE to_type IS NOT NULL
        |GROUP BY event_type, to_type
        |ORDER BY from_type, to_type""".stripMargin,

    "q73_redact_pii" ->
      """SELECT doc_id,
        |       regexp_replace(
        |         regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
        |         '[0-9]{7,}', '[NUMBER]', 'g') AS clean_text,
        |       CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS BIGINT) AS n_numbers
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q74_mixture_allocation" ->
      """WITH a AS (
        |  SELECT source AS grp, CAST(SUM(n_chars) AS BIGINT) AS available
        |  FROM documents GROUP BY source
        |),
        |w AS (
        |  SELECT grp, available,
        |         ROW_NUMBER() OVER (ORDER BY available, grp) AS i,
        |         CAST(SUM(available) OVER (
        |           ORDER BY available, grp
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |         CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM a
        |),
        |sat AS (
        |  SELECT *, (cum - available) + (n - i + 1) * available <= 60000 AS saturated FROM w
        |),
        |g AS (
        |  SELECT *,
        |         CAST(MAX(CASE WHEN saturated THEN cum ELSE 0 END) OVER () AS BIGINT) AS sat_cum,
        |         CAST(SUM(CASE WHEN saturated THEN 1 ELSE 0 END) OVER () AS BIGINT) AS n_sat
        |  FROM sat
        |)
        |SELECT grp, available,
        |       CASE WHEN saturated THEN available
        |            ELSE (60000 - sat_cum) // (n - n_sat) END AS allocated,
        |       saturated
        |FROM g ORDER BY grp""".stripMargin,

    "q75_quantize_int8" ->
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS qe
        |  FROM embeddings
        |),
        |x AS (
        |  SELECT vec_id, CAST(i - 1 AS INT) AS dim, qe[i] AS x
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
        |),
        |s AS (
        |  SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM x GROUP BY dim
        |),
        |c AS (
        |  SELECT x.vec_id, x.dim, x.x, s.mn, s.mx,
        |         CASE WHEN s.mx = s.mn THEN 0
        |              ELSE CAST((x.x - s.mn) * 255 // (s.mx - s.mn) AS INT) END AS code
        |  FROM x JOIN s USING (dim)
        |)
        |SELECT vec_id, dim, x, code,
        |       mn + CAST(code AS BIGINT) * (mx - mn) // 255 AS recon
        |FROM c ORDER BY vec_id, dim""".stripMargin,

    "q76_hll_distinct" -> hllEventsOracle,

    // The streaming HLL view must reproduce the batch construction
    // exactly (register MAX is shard-order-blind) — same oracle as q76.
    "q121_streaming_hll" -> hllEventsOracle,

    // PQ encode: codeword (s, c) = dims [s*8, (s+1)*8) of vector c;
    // per (vector, subspace) the code minimizing exact integer L2²
    // (lowest code on ties) plus the residual distance.
    "q124_pq_encode" ->
      s"""WITH $quantizedEmbeddings,
         |$pqCodesCtes
         |SELECT vec_id, sub, code, d2 FROM pcodes
         |ORDER BY vec_id, sub""".stripMargin,

    // PQ ADC search: per-query exact distance tables to every codeword,
    // approximate distance = sum of the 8 table entries the corpus
    // vector's codes select; top-10 ascending with vec_id tie-break.
    // IVF-PQ composition: q39's assign/probes prune to each query's 4
    // cells; q125's codes/tables rank the candidates by ADC.
    "q126_ivf_pq_search" ->
      s"""WITH $quantizedEmbeddings,
         |$ivfAssignCtes,
         |$pqCodesCtes,
         |cand AS (
         |  SELECT p.query_id, a.vec_id
         |  FROM assign a JOIN probes p USING (cell)
         |  WHERE a.vec_id <> p.query_id
         |),
         |adc AS (
         |  SELECT c.query_id, c.vec_id, CAST(SUM(t.t) AS BIGINT) AS adc_d2
         |  FROM cand c
         |  JOIN pcodes pc ON pc.vec_id = c.vec_id
         |  JOIN tabs t ON t.query_id = c.query_id AND t.sub = pc.sub AND t.code = pc.code
         |  GROUP BY c.query_id, c.vec_id
         |)
         |SELECT query_id, vec_id AS neighbor_id, CAST(rn AS INT) AS rnk, adc_d2 FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d2, vec_id) AS rn
         |  FROM adc)
         |WHERE rn <= 10
         |ORDER BY query_id, rnk""".stripMargin,

    "q127_hard_negatives" ->
      s"""WITH $quantizedEmbeddings,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |q AS (
         |  SELECT n.vec_id AS query_id, l.label AS query_label, n.qe AS q_qe, n.n2 AS q_n2
         |  FROM n JOIN lab l USING (vec_id) WHERE n.vec_id < 10
         |),
         |scored AS (
         |  SELECT q.query_id, q.query_label, n.vec_id, l.label AS neighbor_label,
         |         CAST(list_sum(list_transform(range(1, 65), i -> n.qe[i] * q.q_qe[i])) AS BIGINT) AS dp,
         |         n.n2, q.q_n2
         |  FROM n JOIN lab l USING (vec_id) CROSS JOIN q
         |  WHERE l.label <> q.query_label
         |),
         |ranked AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY dp DESC, vec_id) AS INT) AS rnk
         |  FROM scored
         |)
         |SELECT query_id, query_label, vec_id AS neighbor_id, neighbor_label, rnk, dp,
         |       CAST(dp AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(q_n2 AS DOUBLE))) AS cosine
         |FROM ranked
         |WHERE rnk <= 10
         |ORDER BY query_id, rnk""".stripMargin,

    "q128_random_projection" ->
      s"""WITH $quantizedEmbeddings,
         |p AS (
         |  SELECT vec_id,
         |         list_transform(range(0, 16), j ->
         |           CAST(list_sum(list_transform(range(0, 64), d ->
         |             (CASE WHEN CAST('0x' || substr(md5('rp:' || j || ':' || d), 1, 15) AS BIGINT) % 2 = 0
         |                   THEN 1 ELSE -1 END) * qe[CAST(d AS INT) + 1])) AS BIGINT)) AS proj
         |  FROM n
         |)
         |SELECT vec_id, array_to_string(proj, ',') AS proj_csv,
         |       CAST(list_sum(list_transform(range(1, 17), i -> proj[i] * proj[i])) AS BIGINT) AS pn2
         |FROM p
         |ORDER BY vec_id""".stripMargin,

    "q129_gram_matrix" ->
      s"""WITH $quantizedEmbeddings
         |SELECT CAST(i.i AS INT) AS dim_i, CAST(j.j AS INT) AS dim_j,
         |       CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |       CAST(SUM(qe[CAST(i.i AS INT) + 1]) AS BIGINT) AS sum_i,
         |       CAST(SUM(qe[CAST(j.j AS INT) + 1]) AS BIGINT) AS sum_j,
         |       CAST(SUM(qe[CAST(i.i AS INT) + 1] * qe[CAST(j.j AS INT) + 1]) AS BIGINT) AS sum_prod
         |FROM n
         |CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
         |CROSS JOIN (SELECT unnest(range(0, 64)) AS j) j
         |WHERE i.i <= j.j
         |GROUP BY dim_i, dim_j
         |ORDER BY dim_i, dim_j""".stripMargin,

    "q130_ranking_auc" ->
      """WITH ev AS (
        |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, value AS s,
        |         (event_type = 'purchase') AS y
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |),
        |per_s AS (
        |  SELECT day, s,
        |         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
        |         CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
        |  FROM ev GROUP BY day, s
        |),
        |win AS (
        |  SELECT *,
        |         CAST(SUM(c_pos) OVER (PARTITION BY day ORDER BY s) AS BIGINT) AS cum_pos_le,
        |         CAST(SUM(c_pos) OVER (PARTITION BY day) AS BIGINT) AS n_pos,
        |         CAST(SUM(c_neg) OVER (PARTITION BY day) AS BIGINT) AS n_neg
        |  FROM per_s
        |),
        |agg AS (
        |  SELECT day, n_pos, n_neg,
        |         CAST(SUM(c_neg * (n_pos - cum_pos_le)) AS BIGINT) AS concordant,
        |         CAST(SUM(c_pos * c_neg) AS BIGINT) AS tied
        |  FROM win GROUP BY day, n_pos, n_neg
        |)
        |SELECT day, n_pos, n_neg, concordant, tied,
        |       (CAST(concordant AS DOUBLE) + CAST(tied AS DOUBLE) / 2.0)
        |         / CAST(n_pos * n_neg AS DOUBLE) AS auc
        |FROM agg
        |WHERE n_pos > 0 AND n_neg > 0
        |ORDER BY day""".stripMargin,

    "q131_importance_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, (source = 'src0') AS is_t,
        |         unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents
        |),
        |model AS (
        |  SELECT w,
        |         CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
        |         CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS c_r
        |  FROM toks GROUP BY w
        |),
        |tot AS (
        |  SELECT CAST(SUM(c_t) AS BIGINT) AS t_t, CAST(SUM(c_r) AS BIGINT) AS t_r,
        |         CAST(COUNT(*) AS BIGINT) AS v
        |  FROM model
        |)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(SUM((length(bin(c_t + 1)) - length(bin(t_t + v)))
        |              - (length(bin(c_r + 1)) - length(bin(t_r + v)))) AS BIGINT) AS weight_bits,
        |       CAST(CAST(SUM((length(bin(c_t + 1)) - length(bin(t_t + v)))
        |              - (length(bin(c_r + 1)) - length(bin(t_r + v)))) AS BIGINT) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS mean_bits
        |FROM toks JOIN model USING (w) CROSS JOIN tot
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q132_rrf_fusion" ->
      s"""WITH $quantizedEmbeddings,
         |$dualRankCtes,
         |fused AS (
         |  SELECT COALESCE(a.query_id, b.query_id) AS query_id,
         |         COALESCE(a.vec_id, b.vec_id) AS vec_id,
         |         COALESCE(a.cos_rank, 0) AS cos_rank,
         |         COALESCE(b.l2_rank, 0) AS l2_rank,
         |         CAST(COALESCE(1000000000 // (60 + a.cos_rank), 0)
         |            + COALESCE(1000000000 // (60 + b.l2_rank), 0) AS BIGINT) AS rrf_score
         |  FROM bycos a FULL OUTER JOIN byl2 b
         |    ON a.query_id = b.query_id AND a.vec_id = b.vec_id
         |)
         |SELECT query_id, vec_id AS neighbor_id, rnk, rrf_score, cos_rank, l2_rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY rrf_score DESC, vec_id) AS INT) AS rnk
         |  FROM fused)
         |WHERE rnk <= 10
         |ORDER BY query_id, rnk""".stripMargin,

    "q133_ivf_pq_residual" ->
      s"""WITH $quantizedEmbeddings,
         |$ivfAssignCtes,
         |res AS MATERIALIZED (
         |  SELECT a.vec_id, a.cell,
         |         list_transform(range(1, 65), i -> a.qe[i] - c.c_qe[i]) AS rqe
         |  FROM assign a JOIN cents c ON a.cell = c.cent_id
         |),
         |rcb AS MATERIALIZED (
         |  SELECT CAST(s.s AS INT) AS sub, CAST(r.vec_id AS INT) AS code, r.rqe
         |  FROM res r CROSS JOIN (SELECT unnest(range(8)) AS s) s
         |  WHERE r.vec_id < 16
         |),
         |rd AS (
         |  SELECT v.vec_id, cb.sub, cb.code,
         |         CAST(list_sum(list_transform(range(1, 9), i ->
         |           (v.rqe[cb.sub * 8 + i] - cb.rqe[cb.sub * 8 + i])
         |             * (v.rqe[cb.sub * 8 + i] - cb.rqe[cb.sub * 8 + i]))) AS BIGINT) AS d2
         |  FROM res v CROSS JOIN rcb cb
         |),
         |rcodes AS MATERIALIZED (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
         |    FROM rd)
         |  WHERE rn = 1
         |),
         |qres AS (
         |  SELECT p.query_id, p.cell,
         |         list_transform(range(1, 65), i -> p.q_qe[i] - c.c_qe[i]) AS rq
         |  FROM probes p JOIN cents c ON p.cell = c.cent_id
         |),
         |rtabs AS MATERIALIZED (
         |  SELECT q.query_id, q.cell, cb.sub, cb.code,
         |         CAST(list_sum(list_transform(range(1, 9), i ->
         |           (q.rq[cb.sub * 8 + i] - cb.rqe[cb.sub * 8 + i])
         |             * (q.rq[cb.sub * 8 + i] - cb.rqe[cb.sub * 8 + i]))) AS BIGINT) AS t
         |  FROM qres q CROSS JOIN rcb cb
         |),
         |cand AS (
         |  SELECT p.query_id, r.vec_id, r.cell
         |  FROM res r JOIN probes p USING (cell)
         |  WHERE r.vec_id <> p.query_id
         |),
         |adc AS (
         |  SELECT c.query_id, c.vec_id, CAST(SUM(t.t) AS BIGINT) AS adc_d2
         |  FROM cand c
         |  JOIN rcodes rc ON rc.vec_id = c.vec_id
         |  JOIN rtabs t ON t.query_id = c.query_id AND t.cell = c.cell
         |              AND t.sub = rc.sub AND t.code = rc.code
         |  GROUP BY c.query_id, c.vec_id
         |)
         |SELECT query_id, vec_id AS neighbor_id, CAST(rn AS INT) AS rnk, adc_d2 FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d2, vec_id) AS rn
         |  FROM adc)
         |WHERE rn <= 10
         |ORDER BY query_id, rnk""".stripMargin,

    "q134_source_overlap" ->
      s"""WITH $docShingles,
         |dig AS (
         |  SELECT DISTINCT d.source, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS shh
         |  FROM sh JOIN documents d USING (doc_id)
         |),
         |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM dig GROUP BY source),
         |shared AS (
         |  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM dig a JOIN dig b ON a.shh = b.shh AND a.source < b.source
         |  GROUP BY 1, 2
         |)
         |SELECT src_a, src_b, n_shared, ta.n_sh AS n_a, tb.n_sh AS n_b,
         |       CAST(n_shared AS DOUBLE) / CAST(ta.n_sh + tb.n_sh - n_shared AS DOUBLE) AS jaccard
         |FROM shared
         |JOIN tot ta ON src_a = ta.source
         |JOIN tot tb ON src_b = tb.source
         |ORDER BY src_a, src_b""".stripMargin,

    "q135_collocations" ->
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |toks AS (SELECT unnest(ws) AS w FROM w),
        |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni),
        |bg AS (
        |  SELECT ws[i] AS w1, ws[i + 1] AS w2
        |  FROM (SELECT ws, CAST(unnest(range(1, len(ws))) AS INT) AS i FROM w WHERE len(ws) >= 2)
        |),
        |bc AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
        |  FROM bg GROUP BY w1, w2 HAVING COUNT(*) >= 5
        |)
        |SELECT b.w1, b.w2, b.c_xy, u1.c AS c_x, u2.c AS c_y,
        |       CAST(length(bin(b.c_xy)) + length(bin(t.n_tokens))
        |          - length(bin(u1.c)) - length(bin(u2.c)) AS BIGINT) AS pmi_bits
        |FROM bc b
        |JOIN uni u1 ON b.w1 = u1.w
        |JOIN uni u2 ON b.w2 = u2.w
        |CROSS JOIN tot t
        |ORDER BY pmi_bits DESC, w1, w2
        |LIMIT 50""".stripMargin,

    // Mirrors TextAnalysis.bm25MoreLikeThis: bigram postings, whole-bit
    // idf, exact-integer tf saturation (a10 = avgdl*10), // floor
    // division matching Spark `div` on the nonnegative operands.
    "q143_bm25_retrieval" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |bg AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS t
        |  FROM (SELECT doc_id, ws, CAST(unnest(range(1, len(ws))) AS INT) AS i FROM w WHERE len(ws) >= 2)
        |),
        |postings AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM bg GROUP BY doc_id, t),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id),
        |dfc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY t),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |               CAST((10 * SUM(dl)) // COUNT(*) AS BIGINT) AS a10 FROM dl),
        |qt AS (
        |  SELECT p.doc_id AS query_id, p.t,
        |         CAST(length(bin(t2.n_docs)) - length(bin(d.df)) AS BIGINT) AS idf_bits
        |  FROM postings p JOIN dfc d ON p.t = d.t CROSS JOIN tot t2
        |  WHERE p.doc_id % 25 = 0
        |),
        |scored AS (
        |  SELECT q.query_id, p.doc_id,
        |         CAST(SUM(q.idf_bits * ((22 * p.tf * t.a10 * 1000000) // (10 * p.tf * t.a10 + 3 * t.a10 + 90 * l.dl))) AS BIGINT) AS score,
        |         CAST(COUNT(*) AS BIGINT) AS matched
        |  FROM qt q JOIN postings p ON q.t = p.t AND p.doc_id <> q.query_id
        |  JOIN dl l ON l.doc_id = p.doc_id
        |  CROSS JOIN tot t
        |  GROUP BY q.query_id, p.doc_id
        |)
        |SELECT query_id, doc_id, CAST(rn AS INT) AS rnk, score, matched FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
        |  FROM scored)
        |WHERE rn <= 10
        |ORDER BY query_id, rnk""".stripMargin,

    // Mirrors TextAnalysis.charEntropy: codepoint counts (ASCII corpus —
    // byte == codepoint == UTF-16 unit), whole-bit surprisal, the window
    // SUM cast back to BIGINT before use (HUGEINT would float the frame).
    "q144_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, text[i:i] AS ch
        |  FROM (SELECT doc_id, text, CAST(unnest(range(1, length(text) + 1)) AS INT) AS i FROM documents)
        |),
        |counts AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS cnt FROM ch GROUP BY doc_id, ch),
        |wn AS (SELECT doc_id, cnt,
        |              CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM counts)
        |SELECT doc_id, MAX(n) AS n_chars_seen, CAST(COUNT(*) AS BIGINT) AS distinct_chars,
        |       CAST(SUM(cnt * (length(bin(n)) - length(bin(cnt)))) AS BIGINT) AS sum_bits,
        |       CAST((1000 * SUM(cnt * (length(bin(n)) - length(bin(cnt))))) // MAX(n) AS BIGINT) AS millibits_per_char
        |FROM wn GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // Mirrors Curation.kAnonymityAudit on (nation, segment) quasi-ids:
    // exact group count + distinct-sensitive count, risk verdict.
    "q145_k_anonymity" ->
      """WITH t AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         CASE WHEN c_acctbal < 0 THEN 'delinquent' ELSE 'ok' END AS sens
        |  FROM customer
        |)
        |SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS cnt,
        |       CAST(COUNT(DISTINCT sens) AS BIGINT) AS l_diversity,
        |       (COUNT(*) < 5 OR COUNT(DISTINCT sens) <= 1) AS at_risk
        |FROM t GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // Mirrors Timeseries.scd2Intervals: (ts, event_id)-ordered run
    // collapse on event_type, half-open microsecond intervals, -1
    // sentinel keeping valid_to_us BIGINT on both engines.
    "q146_scd2_intervals" ->
      """WITH runs AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |),
        |s AS (SELECT * FROM runs WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type AS attr,
        |       epoch_us(ts) AS valid_from_us,
        |       CAST(COALESCE(epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)), -1) AS BIGINT) AS valid_to_us,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS version,
        |       (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
        |FROM s
        |ORDER BY user_id, version""".stripMargin,

    // Mirrors Stats.calibrationBins: q77's round(s*100) BIGINT decimal
    // bridge, equal-width binning by floor division, exact ppm/centi
    // cells.
    "q149_calibration_bins" ->
      """WITH v AS (
        |  SELECT CAST(round(value * 100, 0) AS BIGINT) AS s_centi,
        |         (event_type = 'purchase') AS y
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |),
        |ext AS (SELECT MIN(s_centi) AS lo, MAX(s_centi) AS hi FROM v)
        |SELECT CAST(LEAST(9, (10 * (v.s_centi - e.lo)) // (e.hi - e.lo + 1)) AS INT) AS bin,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |       CAST(SUM(s_centi) AS BIGINT) AS sum_score_centi,
        |       CAST((1000000 * SUM(CASE WHEN y THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS pos_rate_ppm,
        |       CAST(MIN(e.lo) + (SUM(s_centi) - COUNT(*) * MIN(e.lo)) // COUNT(*) AS BIGINT) AS mean_score_centi
        |FROM v CROSS JOIN ext e
        |GROUP BY 1
        |ORDER BY bin""".stripMargin,

    // q148's oracle is the NAIVE interval-overlap inequality join over
    // the same SCD2-version and session CTEs (q146 + q11 verbatim) — the
    // hash match proves the engine's bucket-replication plan lossless.
    "q148_version_session_overlap" ->
      """WITH runs AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |),
        |s AS (SELECT * FROM runs WHERE prev IS NULL OR prev <> event_type),
        |vers0 AS (
        |  SELECT user_id, event_type AS attr,
        |         epoch_us(ts) AS v_start_us,
        |         CAST(COALESCE(epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) - 1,
        |                       (SELECT MAX(epoch_us(ts)) FROM events)) AS BIGINT) AS v_end_us,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS version
        |  FROM s
        |),
        |vers AS (SELECT * FROM vers0 WHERE v_end_us >= v_start_us),
        |ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, us,
        |         CASE WHEN us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |),
        |sess0 AS (
        |  SELECT user_id, us,
        |         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |           ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
        |  FROM flagged
        |),
        |sessions AS (
        |  SELECT user_id, session_id, MIN(us) AS first_us, MAX(us) AS last_us
        |  FROM sess0 GROUP BY user_id, session_id
        |)
        |SELECT v.user_id, v.attr, v.version, x.session_id,
        |       CAST(GREATEST(v.v_start_us, x.first_us) AS BIGINT) AS ov_start_us,
        |       CAST(LEAST(v.v_end_us, x.last_us) AS BIGINT) AS ov_end_us
        |FROM vers v JOIN sessions x ON v.user_id = x.user_id
        |  AND v.v_start_us <= x.last_us AND x.first_us <= v.v_end_us
        |ORDER BY v.user_id, version, session_id""".stripMargin,

    // Mirrors Graphs.triangleCounts over Dedup.rareShingleEdges: df-2..3
    // shared-shingle edges, degree orientation via tuple compare, wedge
    // closure probe, per-node counts, ppm coefficients.
    "q147_triangle_counts" ->
      s"""WITH $docShingles,
         |dig AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS shh FROM sh),
         |rare AS (SELECT shh FROM dig GROUP BY shh HAVING COUNT(*) BETWEEN 2 AND 3),
         |edges AS (
         |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         |  FROM dig a JOIN rare USING (shh) JOIN dig b USING (shh)
         |  WHERE a.doc_id < b.doc_id
         |),
         |sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
         |deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src),
         |e2 AS (
         |  SELECT CASE WHEN (ds.deg, e.src) < (dd.deg, e.dst) THEN e.src ELSE e.dst END AS u,
         |         CASE WHEN (ds.deg, e.src) < (dd.deg, e.dst) THEN e.dst ELSE e.src END AS v,
         |         CASE WHEN (ds.deg, e.src) < (dd.deg, e.dst) THEN dd.deg ELSE ds.deg END AS deg_v
         |  FROM edges e JOIN deg ds ON ds.id = e.src JOIN deg dd ON dd.id = e.dst
         |),
         |tri AS (
         |  SELECT a.u AS x, a.v AS y, b.v AS z
         |  FROM e2 a JOIN e2 b ON a.u = b.u AND ((a.deg_v, a.v) < (b.deg_v, b.v))
         |  JOIN e2 c ON c.u = a.v AND c.v = b.v
         |),
         |pern AS (
         |  SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
         |    SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |  GROUP BY id
         |)
         |SELECT d.id, d.deg, COALESCE(p.triangles, 0) AS triangles,
         |       CAST(CASE WHEN d.deg >= 2 THEN (2000000 * COALESCE(p.triangles, 0)) // (d.deg * (d.deg - 1)) ELSE 0 END AS BIGINT) AS coeff_ppm
         |FROM deg d LEFT JOIN pern p ON p.id = d.id
         |ORDER BY d.id""".stripMargin,

    "q125_pq_search" ->
      s"""WITH $quantizedEmbeddings,
         |$pqCodesCtes,
         |adc AS (
         |  SELECT t.query_id, c.vec_id, CAST(SUM(t.t) AS BIGINT) AS adc_d2
         |  FROM pcodes c JOIN tabs t ON c.sub = t.sub AND c.code = t.code
         |  WHERE c.vec_id <> t.query_id
         |  GROUP BY t.query_id, c.vec_id
         |)
         |SELECT query_id, vec_id AS neighbor_id, CAST(rn AS INT) AS rnk, adc_d2 FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d2, vec_id) AS rn
         |  FROM adc)
         |WHERE rn <= 10
         |ORDER BY query_id, rnk""".stripMargin,

    "q77_exact_correlation" ->
      """WITH v AS (
        |  SELECT l_returnflag AS grp,
        |         CAST(l_quantity AS BIGINT) AS x,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        |  FROM lineitem
        |),
        |a AS (
        |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
        |         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM v GROUP BY grp
        |)
        |SELECT grp, n,
        |       CAST(n * sxy - sx * sy AS DOUBLE) /
        |         CAST(CAST(n AS HUGEINT) * n AS DOUBLE) AS cov_pop,
        |       CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
        |            ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
        |                 (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |                  sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |       END AS corr
        |FROM a ORDER BY grp""".stripMargin,

    "q95_bpe_merges" -> bpeMergesOracle,

    "q96_bpe_encode" -> bpeEncodeOracle,

    "q225_byte_bpe_merges" -> byteBpeMergesOracle(),

    "q230_byte_bpe_roundtrip" ->
      ("""SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '""" +
        "''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+" +
        """')) AS BIGINT) AS n_pretoks,
          |       md5(text) AS rebuilt_digest
          |FROM documents
          |ORDER BY doc_id""").stripMargin,

    "q226_byte_bpe_encode" -> byteBpeEncodeOracle(),

    // q237: the multilingual round-trip — the oracle rewrites the corpus
    // the same deterministic way and hashes the ORIGINAL rewritten text;
    // the engine hashes its full train->encode->detokenize rebuild.
    "q237_byte_bpe_utf8_roundtrip" ->
      (s"""WITH $documentsMlSql
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '""" +
        "''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+" +
        """')) AS BIGINT) AS n_pretoks,
          |       md5(text) AS rebuilt_digest
          |FROM documents_ml
          |ORDER BY doc_id""").stripMargin,

    // q238: q226's encode-digest replay over the multilingual corpus —
    // the full 256-entry byte remap, train and greedy encode all replay
    // in SQL over multibyte input.
    "q238_byte_bpe_utf8_encode" ->
      byteBpeEncodeOracle("documents_ml", s"$documentsMlSql,\n"),

    "q236_fertility_by_source" ->
      s"""WITH ${byteBpePiecesSql()},
         |j AS MATERIALIZED (
         |  SELECT d.source, t.w, p.pl
         |  FROM bbtok t JOIN bbpieces p USING (w)
         |  JOIN documents d ON d.doc_id = t.doc_id
         |)
         |SELECT source,
         |       CAST(COUNT(*) AS BIGINT) AS n_pretoks,
         |       CAST(SUM(length(w)) AS BIGINT) AS n_bytes,
         |       CAST(SUM(len(pl)) AS BIGINT) AS n_pieces,
         |       CAST((1000000 * SUM(len(pl))) // COUNT(*) AS BIGINT) AS fertility_ppm
         |FROM j
         |GROUP BY source
         |ORDER BY source""".stripMargin,

    "q150_unigram_train" -> uniTrainOracle,

    "q212_wordpiece_train" -> wpTrainOracle,

    "q213_wordpiece_encode" -> wpEncodeOracle,

    "q151_unigram_encode" -> uniEncodeOracle,

    "q155_bitext_mining" -> bitextOracle,

    "q154_label_propagation" -> {
      val iters = 3
      val rounds = (1 to iters).map { t =>
        s"""l$t AS MATERIALIZED (
           |  SELECT dst AS id, l FROM (
           |    SELECT s.dst, r.l, COUNT(*) AS n,
           |           ROW_NUMBER() OVER (PARTITION BY s.dst
           |             ORDER BY COUNT(*) DESC, r.l) AS rn
           |    FROM sym s JOIN l${t - 1} r ON r.id = s.src
           |    GROUP BY s.dst, r.l
           |  ) WHERE rn = 1
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $rareSymCtes,
         |l0 AS (SELECT DISTINCT src AS id, src AS l FROM sym),
         |$rounds
         |SELECT id, l AS label FROM l$iters ORDER BY id""".stripMargin
    },

    "q207_modularity" -> {
      val iters = 3
      val rounds = (1 to iters).map { t =>
        s"""l$t AS MATERIALIZED (
           |  SELECT dst AS id, l FROM (
           |    SELECT s.dst, r.l, COUNT(*) AS n,
           |           ROW_NUMBER() OVER (PARTITION BY s.dst
           |             ORDER BY COUNT(*) DESC, r.l) AS rn
           |    FROM sym s JOIN l${t - 1} r ON r.id = s.src
           |    GROUP BY s.dst, r.l
           |  ) WHERE rn = 1
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $rareSymCtes,
         |l0 AS (SELECT DISTINCT src AS id, src AS l FROM sym),
         |$rounds,
         |lab AS (SELECT id, l AS label FROM l$iters),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
         |deg AS (
         |  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM (SELECT src AS id FROM edges UNION ALL SELECT dst AS id FROM edges)
         |  GROUP BY id
         |),
         |byc AS (
         |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |         CAST(SUM(deg) AS BIGINT) AS deg_sum
         |  FROM deg JOIN lab USING (id) GROUP BY label
         |),
         |min_in AS (
         |  SELECT la.label AS label, CAST(COUNT(*) AS BIGINT) AS m_in
         |  FROM edges e
         |  JOIN lab la ON la.id = e.src
         |  JOIN lab lb ON lb.id = e.dst
         |  WHERE la.label = lb.label
         |  GROUP BY la.label
         |)
         |SELECT byc.label, n_nodes, COALESCE(m_in, 0) AS m_in, deg_sum,
         |       4 * m * COALESCE(m_in, 0) - deg_sum * deg_sum AS q_num,
         |       CAST(4 * m * COALESCE(m_in, 0) - deg_sum * deg_sum AS DOUBLE)
         |         / CAST(4 * m * m AS DOUBLE) AS q_contrib
         |FROM byc LEFT JOIN min_in USING (label) CROSS JOIN tot
         |ORDER BY byc.label""".stripMargin
    },

    "q166_ndcg" ->
      s"""WITH $quantizedEmbeddings,
         |q AS (SELECT vec_id AS query_id, qe AS q_qe FROM n WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, n.vec_id,
         |         CAST(list_sum(list_transform(range(1, 65), i -> n.qe[i] * q.q_qe[i])) AS BIGINT) AS dp
         |  FROM n CROSS JOIN q
         |  WHERE n.vec_id <> q.query_id
         |),
         |ranked AS (
         |  SELECT query_id, vec_id, dp,
         |         CAST(ROW_NUMBER() OVER (
         |           PARTITION BY query_id ORDER BY dp DESC, vec_id) AS BIGINT) AS rnk
         |  FROM scored
         |  QUALIFY rnk <= 10
         |),
         |rel AS (
         |  SELECT r.query_id, r.rnk,
         |         (CASE WHEN ql.label = nl.label THEN 2 ELSE 0 END
         |           + CASE WHEN r.dp > 0 THEN 1 ELSE 0 END) AS rel
         |  FROM ranked r
         |  JOIN embeddings ql ON ql.vec_id = r.query_id
         |  JOIN embeddings nl ON nl.vec_id = r.vec_id
         |),
         |i AS (
         |  SELECT query_id, rnk, rel,
         |         CAST(ROW_NUMBER() OVER (
         |           PARTITION BY query_id ORDER BY rel DESC, rnk) AS BIGINT) AS irnk
         |  FROM rel
         |),
         |a AS (
         |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM((1000000 * rel) // (length(bin(rnk + 1)) - 1)) AS BIGINT) AS dcg_m,
         |         CAST(SUM((1000000 * rel) // (length(bin(irnk + 1)) - 1)) AS BIGINT) AS idcg_m
         |  FROM i GROUP BY query_id
         |)
         |SELECT query_id, n, dcg_m, idcg_m,
         |       CASE WHEN idcg_m > 0 THEN (1000000 * dcg_m) // idcg_m END AS ndcg_ppm
         |FROM a ORDER BY query_id""".stripMargin,

    "q167_avg_precision" ->
      s"""WITH $quantizedEmbeddings,
         |q AS (SELECT vec_id AS query_id, qe AS q_qe FROM n WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, n.vec_id,
         |         CAST(list_sum(list_transform(range(1, 65), i -> n.qe[i] * q.q_qe[i])) AS BIGINT) AS dp
         |  FROM n CROSS JOIN q
         |  WHERE n.vec_id <> q.query_id
         |),
         |ranked AS (
         |  SELECT query_id, vec_id, dp,
         |         CAST(ROW_NUMBER() OVER (
         |           PARTITION BY query_id ORDER BY dp DESC, vec_id) AS BIGINT) AS rnk
         |  FROM scored
         |  QUALIFY rnk <= 10
         |),
         |rel AS (
         |  SELECT r.query_id, r.rnk,
         |         CAST(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS BIGINT) AS rel
         |  FROM ranked r
         |  JOIN embeddings ql ON ql.vec_id = r.query_id
         |  JOIN embeddings nl ON nl.vec_id = r.vec_id
         |),
         |c AS (
         |  SELECT query_id, rnk, rel,
         |         SUM(rel) OVER (PARTITION BY query_id ORDER BY rnk
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_hits
         |  FROM rel
         |),
         |a AS (
         |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(rel) AS BIGINT) AS hits,
         |         CAST(SUM(CASE WHEN rel = 1
         |           THEN (1000000 * cum_hits) // rnk ELSE 0 END) AS BIGINT) AS sp
         |  FROM c GROUP BY query_id
         |)
         |SELECT query_id, n, hits,
         |       CASE WHEN hits > 0 THEN sp // hits END AS ap_ppm
         |FROM a ORDER BY query_id""".stripMargin,

    "q168_cohen_kappa" ->
      s"""WITH $linearQualityCtes,
         |j AS (SELECT s.score_tribits >= 0 AS p, m.y FROM s JOIN m USING (doc_id)),
         |cells AS (SELECT p, y, CAST(COUNT(*) AS BIGINT) AS cnt FROM j GROUP BY p, y),
         |ktot AS (
         |  SELECT CAST(SUM(cnt) AS HUGEINT) AS n,
         |         CAST(SUM(CASE WHEN p = y THEN cnt ELSE 0 END) AS HUGEINT) AS agree
         |  FROM cells
         |),
         |rt AS (SELECT p AS cat, CAST(SUM(cnt) AS HUGEINT) AS r_tot FROM cells GROUP BY p),
         |ct AS (SELECT y AS cat, CAST(SUM(cnt) AS HUGEINT) AS c_tot FROM cells GROUP BY y),
         |pe AS (
         |  SELECT CAST(COALESCE(SUM(rt.r_tot * ct.c_tot), 0) AS HUGEINT) AS pe_num
         |  FROM rt JOIN ct USING (cat)
         |)
         |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
         |       CAST((1000000 * agree) // n AS BIGINT) AS po_ppm,
         |       CAST((1000000 * pe_num) // (n * n) AS BIGINT) AS pe_ppm,
         |       CAST(CASE WHEN (n * n - pe_num) > 0 THEN
         |         CASE WHEN n * agree >= pe_num
         |           THEN (1000000 * (n * agree - pe_num)) // (n * n - pe_num)
         |           ELSE -((1000000 * (pe_num - n * agree)) // (n * n - pe_num)) END
         |       END AS BIGINT) AS kappa_ppm
         |FROM ktot, pe ORDER BY n""".stripMargin,

    "q169_kendall_tau" ->
      s"""WITH $quantizedEmbeddings,
         |$dualRankCtes,
         |common AS (
         |  SELECT a.query_id, a.vec_id AS item_id,
         |         CAST(a.cos_rank AS BIGINT) AS ra, CAST(b.l2_rank AS BIGINT) AS rb
         |  FROM bycos a JOIN byl2 b ON a.query_id = b.query_id AND a.vec_id = b.vec_id
         |),
         |ni AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_items FROM common GROUP BY query_id),
         |pairs AS (
         |  SELECT l.query_id, ((l.ra - r.ra) * (l.rb - r.rb) > 0) AS conc
         |  FROM common l JOIN common r
         |    ON l.query_id = r.query_id AND l.item_id < r.item_id
         |),
         |cd AS (
         |  SELECT query_id,
         |         CAST(COUNT(*) FILTER (WHERE conc) AS BIGINT) AS concordant,
         |         CAST(COUNT(*) FILTER (WHERE NOT conc) AS BIGINT) AS discordant
         |  FROM pairs GROUP BY query_id
         |),
         |o AS (
         |  SELECT ni.query_id, ni.n_items,
         |         COALESCE(cd.concordant, 0) AS concordant,
         |         COALESCE(cd.discordant, 0) AS discordant
         |  FROM ni LEFT JOIN cd USING (query_id)
         |)
         |SELECT query_id, n_items, concordant, discordant,
         |       CASE WHEN n_items > 1 THEN
         |         CASE WHEN concordant >= discordant
         |           THEN (1000000 * (concordant - discordant)) // ((n_items * (n_items - 1)) // 2)
         |           ELSE -((1000000 * (discordant - concordant)) // ((n_items * (n_items - 1)) // 2)) END
         |       END AS tau_ppm
         |FROM o ORDER BY query_id""".stripMargin,

    "q163_winnowing" ->
      s"""WITH $winnowCtes,
         |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g GROUP BY doc_id),
         |f AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
         |         CAST(bit_xor(fh) AS BIGINT) AS fp_xor,
         |         MIN(fh) AS fp_min, MAX(fh) AS fp_max
         |  FROM fp GROUP BY doc_id
         |)
         |SELECT a.doc_id, a.n_grams, a.n_grams - 3 AS n_windows, f.n_fp,
         |       (1000000 * f.n_fp) // (a.n_grams - 3) AS density_ppm,
         |       f.fp_xor, f.fp_min, f.fp_max
         |FROM a JOIN f USING (doc_id)
         |WHERE a.n_grams >= 4
         |ORDER BY doc_id""".stripMargin,

    "q164_winnowing_matches" ->
      s"""WITH $winnowCtes,
         |fpd AS MATERIALIZED (SELECT DISTINCT doc_id, fh FROM fp),
         |kept AS (SELECT fh FROM fpd GROUP BY fh HAVING COUNT(*) BETWEEN 2 AND 4)
         |SELECT a.doc_id AS src, b.doc_id AS dst, CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM fpd a JOIN kept USING (fh) JOIN fpd b USING (fh)
         |WHERE a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING COUNT(*) >= 2
         |ORDER BY src, dst""".stripMargin,

    "q161_coreness" -> {
      val iters = 4
      val rounds = (1 to iters).map { t =>
        s"""h$t AS MATERIALIZED (
           |  SELECT id, CAST(MAX(LEAST(rn, e)) AS BIGINT) AS h FROM (
           |    SELECT s.dst AS id, r.h AS e,
           |           ROW_NUMBER() OVER (PARTITION BY s.dst
           |             ORDER BY r.h DESC, s.src) AS rn
           |    FROM sym s JOIN h${t - 1} r ON r.id = s.src
           |  ) GROUP BY id
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $rareSymCtes,
         |d AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src),
         |h0 AS (SELECT id, deg AS h FROM d),
         |$rounds
         |SELECT d.id, d.deg, h$iters.h AS coreness
         |FROM d JOIN h$iters USING (id)
         |ORDER BY id""".stripMargin
    },

    "q178_personalized_pagerank" -> {
      val iters = 4
      val scale = 1000000000000L
      val base = scale * 15L / 100L
      val rounds = (1 to iters).map { t =>
        s"""c$t AS (
           |  SELECT e.dst AS id, CAST(SUM(r.r * 85 // (100 * d.deg)) AS BIGINT) AS s
           |  FROM sym e JOIN r${t - 1} r ON r.id = e.src JOIN d ON d.src = e.src
           |  GROUP BY e.dst
           |),
           |r$t AS MATERIALIZED (
           |  SELECT n.src AS id,
           |         CAST(CASE WHEN n.src % 23 = 0 THEN $base ELSE 0 END
           |              + COALESCE(c.s, 0) AS BIGINT) AS r
           |  FROM d n LEFT JOIN c$t c ON c.id = n.src
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $rareSymCtes,
         |d AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src),
         |r0 AS (SELECT src AS id, CAST(CASE WHEN src % 23 = 0 THEN $scale ELSE 0 END AS BIGINT) AS r FROM d),
         |$rounds
         |SELECT d.src AS id, d.deg, (d.src % 23 = 0) AS is_seed, r$iters.r AS trust_scaled
         |FROM d JOIN r$iters ON r$iters.id = d.src
         |ORDER BY id""".stripMargin
    },

    "q172_hyperball" -> {
      val c = graft.functions.Sketches.hllConstant(6)
      val rounds = (1 to 3).map { t =>
        s"""r$t AS MATERIALIZED (
           |  SELECT id, reg, MAX(r) AS r FROM (
           |    SELECT id, reg, r FROM r${t - 1}
           |    UNION ALL
           |    SELECT s.dst AS id, x.reg, x.r FROM sym s JOIN r${t - 1} x ON x.id = s.src
           |  ) GROUP BY id, reg
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $rareSymCtes,
         |r0 AS MATERIALIZED (
         |  SELECT id, CAST(h % 64 AS INT) AS reg,
         |         CASE WHEN h // 64 = 0 THEN 55
         |              ELSE 55 - CAST(length(bin(h // 64)) AS INT) END AS r
         |  FROM (SELECT id, CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |        FROM (SELECT DISTINCT src AS id FROM sym))
         |),
         |$rounds,
         |a AS (
         |  SELECT id, CAST(COUNT(*) AS BIGINT) AS m_used,
         |         CAST(SUM(CAST(1 AS BIGINT) << (55 - r)) AS BIGINT) AS s_used
         |  FROM r3 GROUP BY id
         |)
         |SELECT id, m_used,
         |       s_used + (64 - m_used) * 36028797018963968 AS s,
         |       CAST('$c' AS DOUBLE) /
         |         CAST(s_used + (64 - m_used) * 36028797018963968 AS DOUBLE) AS est_ball
         |FROM a ORDER BY id""".stripMargin
    },

    "q162_seed_distance" -> {
      val hops = 4
      val rounds = (1 to hops).map { t =>
        s"""d$t AS MATERIALIZED (
           |  SELECT id, CAST(MIN(dist) AS BIGINT) AS dist FROM (
           |    SELECT id, dist FROM d${t - 1}
           |    UNION ALL
           |    SELECT s.dst AS id, r.dist + 1 AS dist
           |    FROM sym s JOIN d${t - 1} r ON r.id = s.src
           |  ) GROUP BY id
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $rareSymCtes,
         |d0 AS (SELECT doc_id AS id, CAST(0 AS BIGINT) AS dist FROM documents WHERE doc_id % 23 = 0),
         |$rounds
         |SELECT id, dist FROM d$hops ORDER BY id""".stripMargin
    },

    "q152_linear_quality" ->
      s"""WITH $linearQualityCtes
        |SELECT doc_id, n_tokens, score_tribits,
        |       CAST(score_tribits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_tribits,
        |       score_tribits >= 0 AS pred
        |FROM s ORDER BY doc_id""".stripMargin,

    "q165_classifier_eval" ->
      s"""WITH $linearQualityCtes,
        |j AS (SELECT s.score_tribits >= 0 AS p, m.y FROM s JOIN m USING (doc_id)),
        |cm AS (
        |  SELECT CAST(COUNT(*) FILTER (WHERE p AND y) AS BIGINT) AS tp,
        |         CAST(COUNT(*) FILTER (WHERE p AND NOT y) AS BIGINT) AS fp,
        |         CAST(COUNT(*) FILTER (WHERE NOT p AND y) AS BIGINT) AS fn,
        |         CAST(COUNT(*) FILTER (WHERE NOT p AND NOT y) AS BIGINT) AS tn
        |  FROM j
        |),
        |pr AS (
        |  SELECT tp, fp, fn, tn,
        |         (1000000 * (tp + tn)) // (tp + fp + fn + tn) AS accuracy_ppm,
        |         CASE WHEN tp + fp > 0 THEN (1000000 * tp) // (tp + fp) END AS precision_ppm,
        |         CASE WHEN tp + fn > 0 THEN (1000000 * tp) // (tp + fn) END AS recall_ppm
        |  FROM cm
        |)
        |SELECT tp, fp, fn, tn, accuracy_ppm, precision_ppm, recall_ppm,
        |       CASE WHEN precision_ppm IS NOT NULL AND recall_ppm IS NOT NULL
        |                 AND precision_ppm + recall_ppm > 0
        |            THEN (2 * precision_ppm * recall_ppm) // (precision_ppm + recall_ppm)
        |       END AS f1_ppm
        |FROM pr ORDER BY tp""".stripMargin,

    "q153_apply_changes" ->
      """SELECT doc_id, source,
        |       md5(CASE WHEN doc_id % 3 = 0 THEN 'v2 ' || text ELSE text END) AS text_digest
        |FROM documents WHERE doc_id % 5 <> 0
        |ORDER BY doc_id""".stripMargin,

    "q97_uniform_sample" ->
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY source
        |           ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS sample_rnk
        |  FROM documents
        |)
        |SELECT source, sample_rnk, doc_id, n_chars
        |FROM r WHERE sample_rnk <= 10
        |ORDER BY source, sample_rnk""".stripMargin,

    "q98_shingle_coverage" ->
      s"""WITH $docShingles,
         |dig AS (
         |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS shh
         |  FROM sh
         |),
         |ref AS (SELECT DISTINCT shh FROM dig WHERE doc_id < 50),
         |c AS (
         |  SELECT d.doc_id,
         |         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |         CAST(COUNT(*) FILTER (WHERE r.shh IS NOT NULL) AS BIGINT) AS n_hit
         |  FROM dig d LEFT JOIN ref r USING (shh)
         |  WHERE d.doc_id >= 50
         |  GROUP BY d.doc_id
         |)
         |SELECT doc_id, n_shingles, n_hit,
         |       CAST(n_hit AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS coverage
         |FROM c
         |ORDER BY doc_id""".stripMargin,

    "q94_daily_anomalies" ->
      """WITH d AS (
        |  SELECT event_type,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epoch_day,
        |         CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2
        |),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         CAST(SUM(n_events) AS BIGINT) AS s,
        |         CAST(SUM(n_events * n_events) AS BIGINT) AS ss
        |  FROM d GROUP BY event_type
        |),
        |mm AS (
        |  SELECT event_type,
        |         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |         sqrt(CAST(n * ss - s * s AS DOUBLE) / CAST(n * n AS DOUBLE)) AS stddev
        |  FROM m
        |)
        |SELECT d.event_type, d.epoch_day, d.n_events, mm.mean,
        |       CASE WHEN mm.stddev > 0
        |            THEN (CAST(d.n_events AS DOUBLE) - mm.mean) / mm.stddev
        |       END AS z,
        |       mm.stddev > 0 AND
        |       abs((CAST(d.n_events AS DOUBLE) - mm.mean) / mm.stddev) > 2.0 AS is_anomaly
        |FROM d JOIN mm USING (event_type)
        |ORDER BY event_type, epoch_day""".stripMargin,

    "q93_temperature_mixture" ->
      """WITH a AS (
        |  SELECT source AS grp, CAST(SUM(n_chars) AS BIGINT) AS available
        |  FROM documents GROUP BY source
        |),
        |w AS (
        |  SELECT grp, available,
        |         CAST(floor(sqrt(CAST(available AS DOUBLE))) AS BIGINT) AS w
        |  FROM a
        |),
        |q AS (
        |  SELECT grp, available, w,
        |         CAST(SUM(w) OVER () AS BIGINT) AS denom
        |  FROM w
        |),
        |r AS (
        |  SELECT grp, available, w,
        |         CASE WHEN denom > 0 THEN (60000 * w) // denom ELSE 0 END AS quota,
        |         CASE WHEN denom > 0 THEN (60000 * w) % denom ELSE 0 END AS rem,
        |         denom
        |  FROM q
        |),
        |s AS (
        |  SELECT *,
        |         ROW_NUMBER() OVER (ORDER BY rem DESC, grp) AS seat_rank,
        |         CAST(SUM(quota) OVER () AS BIGINT) AS q_total
        |  FROM r
        |)
        |SELECT grp, available, w,
        |       CAST(quota + CASE WHEN denom > 0 AND seat_rank <= 60000 - q_total THEN 1 ELSE 0 END AS BIGINT) AS quota,
        |       CAST(LEAST(quota + CASE WHEN denom > 0 AND seat_rank <= 60000 - q_total THEN 1 ELSE 0 END, available) AS BIGINT) AS allocated
        |FROM s
        |ORDER BY grp""".stripMargin,

    "q92_bloom_dedup_against" -> bloomDedupOracle,

    // Same oracle as q92 by construction: the probe shape (broadcast vs
    // shuffle join) must never change the answer or the flags.
    "q100_bloom_shuffle_dedup" -> bloomDedupOracle,

    "q101_rolling_passage_dedup" -> rollingPassageOracle,

    // Streaming dense-window state: merged per-epoch rolling counts must
    // clean the shifted corpus exactly like the batch operator — same
    // oracle as q101.
    "q123_streaming_rolling_state" -> rollingPassageOracle,

    "q102_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT) AS score,
        |         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS cost
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, score, cost,
        |         CAST(SUM(cost) OVER (ORDER BY score DESC, doc_id
        |                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cost
        |  FROM t
        |)
        |SELECT doc_id, score, cost, cum_cost
        |FROM c WHERE cum_cost <= 20000
        |ORDER BY score DESC, doc_id""".stripMargin,

    "q103_deterministic_shuffle" ->
      """SELECT doc_id, n_chars,
        |       CAST('0x' || substr(md5('graft:s:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS shard,
        |       ROW_NUMBER() OVER (
        |         PARTITION BY CAST('0x' || substr(md5('graft:s:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 8
        |         ORDER BY md5('graft:o:' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
        |FROM documents
        |ORDER BY shard, pos""".stripMargin,

    "q104_materialize_repeats" ->
      """WITH f AS (
        |  SELECT source AS grp,
        |         CASE CAST('0x' || substr(md5(source), 1, 15) AS BIGINT) % 3
        |           WHEN 0 THEN 2500000 WHEN 1 THEN 1250000 ELSE 700000
        |         END AS factor_ppm
        |  FROM (SELECT DISTINCT source FROM documents)
        |),
        |j AS (
        |  SELECT d.doc_id, d.source,
        |         CAST(f.factor_ppm // 1000000
        |           + CASE WHEN CAST('0x' || substr(md5('graft:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000
        |                       < f.factor_ppm % 1000000
        |                  THEN 1 ELSE 0 END AS BIGINT) AS n_copies
        |  FROM documents d JOIN f ON d.source = f.grp
        |)
        |SELECT doc_id, source, n_copies,
        |       unnest(range(1, n_copies + 1)) AS copy_id
        |FROM j WHERE n_copies > 0
        |ORDER BY doc_id, copy_id""".stripMargin,

    "q105_length_batches" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |         CAST((CASE WHEN n_tokens >= 48 THEN 1 ELSE 0 END)
        |            + (CASE WHEN n_tokens >= 64 THEN 1 ELSE 0 END)
        |            + (CASE WHEN n_tokens >= 80 THEN 1 ELSE 0 END) AS BIGINT) AS bucket,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 4 AS shard
        |  FROM t
        |),
        |r AS (
        |  SELECT doc_id, n_tokens, bucket, shard,
        |         ROW_NUMBER() OVER (PARTITION BY bucket, shard
        |                            ORDER BY n_tokens, doc_id) - 1 AS rnk
        |  FROM b
        |),
        |bt AS (
        |  SELECT doc_id, n_tokens, bucket, shard,
        |         CAST(rnk // 8 AS BIGINT) AS batch_id,
        |         CAST(rnk % 8 AS BIGINT) AS pos
        |  FROM r
        |)
        |SELECT doc_id, n_tokens, bucket, shard, batch_id, pos,
        |       CAST(MAX(n_tokens) OVER (PARTITION BY bucket, shard, batch_id) AS BIGINT) AS batch_max,
        |       CAST(MAX(n_tokens) OVER (PARTITION BY bucket, shard, batch_id) - n_tokens AS BIGINT) AS pad_waste
        |FROM bt
        |ORDER BY bucket, shard, batch_id, pos""".stripMargin,

    "q106_ewma_trend" ->
      """WITH c AS (
        |  SELECT event_type,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epoch_day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |s AS (SELECT MIN(epoch_day) AS lo, MAX(epoch_day) AS hi FROM c),
        |d AS (SELECT CAST(unnest(range(lo, hi + 1)) AS BIGINT) AS epoch_day FROM s),
        |t AS (SELECT DISTINCT event_type FROM c),
        |dense AS (
        |  SELECT t.event_type, d.epoch_day, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |  FROM t CROSS JOIN d
        |  LEFT JOIN c ON c.event_type = t.event_type AND c.epoch_day = d.epoch_day
        |)
        |SELECT cur.event_type, cur.epoch_day, cur.n AS n_events,
        |       SUM(power(0.5, cur.epoch_day - h.epoch_day) * h.n)
        |         / SUM(power(0.5, cur.epoch_day - h.epoch_day)) AS ewma
        |FROM dense cur
        |JOIN dense h ON h.event_type = cur.event_type
        |            AND h.epoch_day BETWEEN cur.epoch_day - 7 AND cur.epoch_day
        |GROUP BY cur.event_type, cur.epoch_day, cur.n
        |ORDER BY cur.event_type, cur.epoch_day""".stripMargin,

    "q107_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |),
        |f0 AS (
        |  SELECT user_id, MIN(us) AS t0 FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id
        |),
        |f1 AS (
        |  SELECT e.user_id, f0.t0, MIN(e.us) AS t1
        |  FROM ev e JOIN f0 ON e.user_id = f0.user_id
        |  WHERE e.event_type = 'view' AND e.us > f0.t0
        |  GROUP BY e.user_id, f0.t0
        |),
        |f2 AS (
        |  SELECT e.user_id, f1.t0, f1.t1, MIN(e.us) AS t2
        |  FROM ev e JOIN f1 ON e.user_id = f1.user_id
        |  WHERE e.event_type = 'click' AND e.us > f1.t1
        |  GROUP BY e.user_id, f1.t0, f1.t1
        |),
        |f3 AS (
        |  SELECT e.user_id, f2.t0, f2.t1, f2.t2, MIN(e.us) AS t3
        |  FROM ev e JOIN f2 ON e.user_id = f2.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > f2.t2
        |  GROUP BY e.user_id, f2.t0, f2.t1, f2.t2
        |),
        |st AS (
        |  SELECT CAST(0 AS INTEGER) AS stage, 'signup' AS step,
        |         CAST(COUNT(*) AS BIGINT) AS n_users,
        |         CAST(SUM(t0 - t0) AS BIGINT) AS lag_us FROM f0
        |  UNION ALL
        |  SELECT CAST(1 AS INTEGER), 'view', CAST(COUNT(*) AS BIGINT),
        |         CAST(SUM(t1 - t0) AS BIGINT) FROM f1
        |  UNION ALL
        |  SELECT CAST(2 AS INTEGER), 'click', CAST(COUNT(*) AS BIGINT),
        |         CAST(SUM(t2 - t0) AS BIGINT) FROM f2
        |  UNION ALL
        |  SELECT CAST(3 AS INTEGER), 'purchase', CAST(COUNT(*) AS BIGINT),
        |         CAST(SUM(t3 - t0) AS BIGINT) FROM f3
        |)
        |SELECT stage, step, n_users,
        |       CAST(lag_us AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean_lag_us
        |FROM st ORDER BY stage""".stripMargin,

    "q108_snapshot_diff" ->
      """WITH base AS (
        |  SELECT doc_id, text, source,
        |         CAST('0x' || substr(md5('snap:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 AS coin
        |  FROM documents
        |),
        |olds AS (
        |  SELECT doc_id, md5(text) AS od, source AS os
        |  FROM base WHERE coin <> 3
        |),
        |news AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN coin % 5 = 0 THEN upper(text) ELSE text END) AS nd,
        |         source AS ns
        |  FROM base WHERE coin <> 7
        |),
        |d AS (
        |  SELECT COALESCE(o.doc_id, n.doc_id) AS key,
        |         COALESCE(n.ns, o.os) AS source,
        |         CASE WHEN o.od IS NULL THEN 'added'
        |              WHEN n.nd IS NULL THEN 'removed'
        |              WHEN o.od <> n.nd THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id
        |)
        |SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       MIN(key) AS min_id, MAX(key) AS max_id
        |FROM d GROUP BY source, status
        |ORDER BY source, status""".stripMargin,

    "q109_systematic_sample" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |         md5('graft:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, w,
        |         CAST(SUM(w) OVER (ORDER BY h, doc_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_w,
        |         CAST(SUM(w) OVER () AS BIGINT) AS total
        |  FROM t
        |)
        |SELECT doc_id, w, cum_w,
        |       CAST((cum_w * 25) // total - ((cum_w - w) * 25) // total AS BIGINT) AS n_picks
        |FROM c
        |WHERE (cum_w * 25) // total - ((cum_w - w) * 25) // total > 0
        |ORDER BY cum_w""".stripMargin,

    "q91_region_brand_revenue" ->
      """SELECT r_name, p_brand,
        |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n_items,
        |       COUNT(DISTINCT s_suppkey) AS n_suppliers
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, p_brand
        |ORDER BY r_name, p_brand""".stripMargin,

    "q90_hybrid_near_dup" -> hybridNearDupOracle,

    "q89_curate_corpus" ->
      s"""WITH $curateVerdictCtes
         |SELECT doc_id, verdict, reject_reasons, n_dropped_passages, dup_of, split
         |FROM verdicts
         |ORDER BY doc_id""".stripMargin,

    "q99_curation_funnel" ->
      s"""WITH $curateVerdictCtes
         |SELECT d.source,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(COUNT(*) FILTER (WHERE v.verdict = 'rejected_quality') AS BIGINT) AS n_rejected_quality,
         |       CAST(COUNT(*) FILTER (WHERE v.verdict = 'dropped_duplicate') AS BIGINT) AS n_dropped_duplicate,
         |       CAST(COUNT(*) FILTER (WHERE v.verdict = 'kept') AS BIGINT) AS n_kept,
         |       CAST(SUM(v.n_dropped_passages) AS BIGINT) AS n_dropped_passages,
         |       CAST(COUNT(*) FILTER (WHERE v.split = 'train') AS BIGINT) AS n_train,
         |       CAST(COUNT(*) FILTER (WHERE v.split = 'val') AS BIGINT) AS n_val,
         |       CAST(COUNT(*) FILTER (WHERE v.split = 'test') AS BIGINT) AS n_test
         |FROM verdicts v JOIN documents d USING (doc_id)
         |GROUP BY d.source
         |ORDER BY d.source""".stripMargin,

    "q88_source_drift" ->

      """WITH w AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |),
        |st AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS obs FROM w GROUP BY 1, 2),
        |ct AS (SELECT token, CAST(SUM(obs) AS BIGINT) AS corpus_cnt FROM st GROUP BY token),
        |stot AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS src_total FROM st GROUP BY source),
        |tot AS (SELECT CAST(SUM(corpus_cnt) AS BIGINT) AS corpus_total FROM ct),
        |j AS (
        |  SELECT st.source, st.token, st.obs,
        |         CAST(ct.corpus_cnt AS DOUBLE) * CAST(stot.src_total AS DOUBLE) /
        |           CAST(tot.corpus_total AS DOUBLE) AS expected
        |  FROM st JOIN ct USING (token) JOIN stot USING (source) CROSS JOIN tot
        |),
        |c AS (
        |  SELECT source, token, obs, expected,
        |         (CAST(obs AS DOUBLE) - expected) * (CAST(obs AS DOUBLE) - expected) / expected AS chi2_term
        |  FROM j
        |),
        |r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY source ORDER BY chi2_term DESC, token) AS INT) AS rnk
        |  FROM c
        |)
        |SELECT source, token, obs, expected, chi2_term, rnk FROM r WHERE rnk <= 10
        |ORDER BY source, rnk""".stripMargin,

    "q84_passage_dedup" -> passageDedupOracle,

    // The streaming passage-state merge must clean the corpus exactly
    // like the one-shot batch operator (doc-disjoint epoch counts sum
    // to the corpus counts) — same oracle as q84.
    "q122_streaming_passage_state" -> passageDedupOracle,

    "q85_bigram_surprise" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |db AS (
        |  SELECT doc_id, unnest(ws[1:len(ws) - 1]) AS w1, unnest(ws[2:len(ws)]) AS w2 FROM t
        |),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM db GROUP BY 1, 2),
        |m AS (
        |  SELECT w1, w2, cnt,
        |         CAST(cnt AS DOUBLE) /
        |           CAST(CAST(SUM(cnt) OVER (PARTITION BY w1) AS BIGINT) AS DOUBLE) AS p
        |  FROM c
        |)
        |SELECT db.doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |       CAST(COUNT(*) FILTER (WHERE m.cnt <= 2) AS BIGINT) AS n_rare,
        |       CAST(CAST(COUNT(*) FILTER (WHERE m.cnt <= 2) AS BIGINT) AS DOUBLE) /
        |         CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE) AS rare_rate,
        |       MIN(m.p) AS min_p
        |FROM db JOIN m USING (w1, w2)
        |GROUP BY db.doc_id
        |ORDER BY doc_id""".stripMargin,

    "q86_count_min" ->
      """WITH w AS (
        |  SELECT source AS grp, unnest(regexp_split_to_array(trim(text), '\s+')) AS item
        |  FROM documents
        |),
        |rs AS (SELECT CAST(unnest(range(4)) AS INT) AS r),
        |h AS (
        |  SELECT grp, item, r,
        |         CAST('0x' || substr(md5(item), 1 + 8 * r, 8) AS BIGINT) % 64 AS bucket
        |  FROM w CROSS JOIN rs
        |),
        |sk AS (SELECT grp, r, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY grp, r, bucket),
        |e AS (SELECT grp, item, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM w GROUP BY grp, item),
        |pr AS (
        |  SELECT grp, item, exact_cnt, r,
        |         CAST('0x' || substr(md5(item), 1 + 8 * r, 8) AS BIGINT) % 64 AS bucket
        |  FROM e CROSS JOIN rs
        |)
        |SELECT pr.grp, pr.item, pr.exact_cnt,
        |       MIN(sk.c) AS cms_est,
        |       MIN(sk.c) - pr.exact_cnt AS overcount
        |FROM pr JOIN sk ON pr.grp = sk.grp AND pr.r = sk.r AND pr.bucket = sk.bucket
        |GROUP BY pr.grp, pr.item, pr.exact_cnt
        |ORDER BY pr.grp, pr.item""".stripMargin,

    // The streaming cell merge must equal the batch sketch of the same
    // corpus (cells are additive over doc-disjoint shards): q86's
    // construction over the doc_id < 500 streamed universe.
    "q120_streaming_count_min" -> cmsProbeOracleOver(""),

    // q268: q120's sketch construction + probe, corpus restricted to the
    // takedown survivors — what the merged cells must equal after the
    // subtraction epoch cancels the removed docs' token cells.
    "q268_cms_takedown" -> cmsProbeOracleOver(" AND doc_id % 7 <> 3"),

    "q87_semantic_dedup" -> semanticDedupOracle,

    "q83_cluster_split" ->
      s"""WITH RECURSIVE $docShingles,
         |$minhashBands,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
         |),
         |sets AS (SELECT doc_id, list(sh) AS shl, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |p AS (
         |  SELECT doc_a, doc_b
         |  FROM (
         |    SELECT doc_a, doc_b,
         |           CAST(len(list_intersect(sa.shl, sb.shl)) AS BIGINT) AS n_common,
         |           sa.n_sh AS n_a, sb.n_sh AS n_b
         |    FROM cand JOIN sets sa ON doc_a = sa.doc_id JOIN sets sb ON doc_b = sb.doc_id)
         |  WHERE CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) >= 0.5
         |),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach(v, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
         |),
         |lab AS (SELECT v AS doc_id, MIN(r) AS canonical_id FROM reach GROUP BY v),
         |canon AS (
         |  SELECT d.doc_id, COALESCE(l.canonical_id, d.doc_id) AS canonical_id
         |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
         |)
         |SELECT doc_id, canonical_id, b AS bucket,
         |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |FROM (
         |  SELECT doc_id, canonical_id,
         |         CAST('0x' || substr(md5(CAST(canonical_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS b
         |  FROM canon)
         |ORDER BY doc_id""".stripMargin,

    "q82_split_leakage" ->
      s"""WITH $docShingles,
         |$minhashBands,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
         |),
         |sets AS (
         |  SELECT doc_id,
         |         list(DISTINCT CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)) AS shl,
         |         CAST(COUNT(DISTINCT CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)) AS BIGINT) AS n_sh
         |  FROM sh GROUP BY doc_id
         |),
         |v AS (
         |  SELECT doc_a, doc_b,
         |         CAST(len(list_intersect(sa.shl, sb.shl)) AS BIGINT) AS n_common,
         |         sa.n_sh AS n_a, sb.n_sh AS n_b
         |  FROM cand JOIN sets sa ON doc_a = sa.doc_id JOIN sets sb ON doc_b = sb.doc_id
         |),
         |sp AS (
         |  SELECT doc_id,
         |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (
         |    SELECT doc_id,
         |           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS b
         |    FROM documents)
         |)
         |SELECT v.doc_a, v.doc_b, sa.split AS split_a, sb.split AS split_b,
         |       CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) AS jaccard
         |FROM v
         |JOIN sp sa ON v.doc_a = sa.doc_id
         |JOIN sp sb ON v.doc_b = sb.doc_id
         |WHERE CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) >= 0.2
         |  AND sa.split <> sb.split
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q81_bpe_pairs" ->
      """WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents),
        |wc AS (SELECT w, COUNT(*) AS wc FROM w WHERE length(w) >= 2 GROUP BY w),
        |p AS (
        |  SELECT substr(w, i, 1) AS c1, substr(w, i + 1, 1) AS c2, wc
        |  FROM (SELECT w, wc, CAST(unnest(range(1, length(w))) AS INT) AS i FROM wc)
        |)
        |SELECT c1, c2, CAST(SUM(wc) AS BIGINT) AS cnt
        |FROM p GROUP BY c1, c2
        |ORDER BY cnt DESC, c1, c2
        |LIMIT 20""".stripMargin,

    // The sketch side is engine-internal; the oracle checks the CONTRACT:
    // the exact-count-defined heavy set, with presence and error-bound
    // booleans asserted true.
    "q80_heavy_hitters" -> heavyHittersOracle,

    // Same theory-defined row set as q80: the exact-heavy items and the
    // asserted presence/bound booleans — the engine side answers from
    // the MERGED streaming MG state instead of the one-shot batch sketch.
    "q214_streaming_heavy_hitters" -> heavyHittersOracle,

    // The sketch side is engine-internal; the oracle checks the CONTRACT:
    // group sizes exact, and the rank-error bound asserted true.
    "q79_approx_quantiles" ->
      """SELECT o_orderpriority AS grp, p, CAST(COUNT(*) AS BIGINT) AS n, TRUE AS rank_ok
        |FROM orders CROSS JOIN (SELECT unnest([0.25, 0.5, 0.75]) AS p) ps
        |GROUP BY grp, p
        |ORDER BY grp, p""".stripMargin,

    "q78_bloom_membership" ->
      """WITH k AS (
        |  SELECT source AS grp, doc_id,
        |         CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h60,
        |         CAST('0x' || substr(md5(text), 17, 13) AS BIGINT) AS h52
        |  FROM documents
        |),
        |p AS (
        |  SELECT grp, doc_id, h60 % 124 AS p0, h52 % 124 AS p1,
        |         xor(h60, h52) % 124 AS p2
        |  FROM k
        |),
        |w AS (
        |  SELECT grp, doc_id,
        |         (CASE WHEN p0 // 62 = 0 THEN CAST(1 AS BIGINT) << CAST(p0 % 62 AS INT) ELSE 0 END |
        |          CASE WHEN p1 // 62 = 0 THEN CAST(1 AS BIGINT) << CAST(p1 % 62 AS INT) ELSE 0 END |
        |          CASE WHEN p2 // 62 = 0 THEN CAST(1 AS BIGINT) << CAST(p2 % 62 AS INT) ELSE 0 END) AS m0,
        |         (CASE WHEN p0 // 62 = 1 THEN CAST(1 AS BIGINT) << CAST(p0 % 62 AS INT) ELSE 0 END |
        |          CASE WHEN p1 // 62 = 1 THEN CAST(1 AS BIGINT) << CAST(p1 % 62 AS INT) ELSE 0 END |
        |          CASE WHEN p2 // 62 = 1 THEN CAST(1 AS BIGINT) << CAST(p2 % 62 AS INT) ELSE 0 END) AS m1
        |  FROM p
        |),
        |f AS (
        |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_keys,
        |         bit_or(m0) AS w0, bit_or(m1) AS w1
        |  FROM w GROUP BY grp
        |),
        |pr AS (
        |  SELECT p0, p1, p2 FROM p WHERE doc_id < 20
        |),
        |hits AS (
        |  SELECT f.grp, CAST(COUNT(*) AS BIGINT) AS n_probe_hits
        |  FROM pr CROSS JOIN f
        |  WHERE ((CASE WHEN pr.p0 // 62 = 0 THEN f.w0 ELSE f.w1 END >> CAST(pr.p0 % 62 AS INT)) & 1) = 1
        |    AND ((CASE WHEN pr.p1 // 62 = 0 THEN f.w0 ELSE f.w1 END >> CAST(pr.p1 % 62 AS INT)) & 1) = 1
        |    AND ((CASE WHEN pr.p2 // 62 = 0 THEN f.w0 ELSE f.w1 END >> CAST(pr.p2 % 62 AS INT)) & 1) = 1
        |  GROUP BY f.grp
        |)
        |SELECT f.grp, f.n_keys, f.w0, f.w1,
        |       CAST(bit_count(f.w0) + bit_count(f.w1) AS INT) AS bits_set,
        |       COALESCE(h.n_probe_hits, 0) AS n_probe_hits
        |FROM f LEFT JOIN hits h ON f.grp = h.grp
        |ORDER BY f.grp""".stripMargin,

    "q56_map_ops" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2
        |)
        |SELECT user_id,
        |       CAST(COUNT(*) AS INT) AS n_types,
        |       array_to_string(list(event_type ORDER BY event_type), ',') AS types,
        |       CAST(COALESCE(SUM(n) FILTER (WHERE event_type = 'click'), 0) AS BIGINT) AS click_n,
        |       CAST(COALESCE(SUM(n) FILTER (WHERE event_type = 'error'), 0) AS BIGINT) AS error_n,
        |       CAST(SUM(n) AS BIGINT) AS total
        |FROM c GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q54_full_outer" ->
      """WITH p AS (
        |  SELECT user_id AS p_user, COUNT(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' AND user_id < 75 GROUP BY 1
        |),
        |c AS (
        |  SELECT user_id AS c_user, COUNT(*) AS n_clicks
        |  FROM events WHERE event_type = 'click' AND user_id >= 50 GROUP BY 1
        |)
        |SELECT COALESCE(p_user, c_user) AS user_id,
        |       COALESCE(n_purchases, 0) AS n_purchases,
        |       COALESCE(n_clicks, 0) AS n_clicks,
        |       (p_user IS NULL OR c_user IS NULL) AS one_sided
        |FROM p FULL OUTER JOIN c ON p_user = c_user
        |ORDER BY user_id""".stripMargin,

    "q55_analytic_windows" ->
      """SELECT o_custkey, o_orderkey,
        |       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date,
        |       CAST(ntile(4) OVER w AS INT) AS quartile,
        |       percent_rank() OVER w AS pr,
        |       cume_dist() OVER w AS cd,
        |       lag(o_orderkey, 1, -1) OVER w AS prev_order,
        |       lead(o_orderkey, 1, -1) OVER w AS next_order
        |FROM orders
        |WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_date, o_orderkey""".stripMargin,

    "q53_sample_negatives" ->
      s"""WITH $evImpressions,
         |car AS (
         |  SELECT dt, ranking_id, customer_id,
         |         list(DISTINCT impression_item_id) AS shown
         |  FROM imp GROUP BY 1, 2, 3
         |),
         |draws AS (
         |  SELECT dt, ranking_id, customer_id, shown, j,
         |         CAST('0x' || substr(md5(ranking_id || '|' || CAST(j AS VARCHAR)), 1, 15) AS BIGINT) % 1000 AS cand
         |  FROM car CROSS JOIN (SELECT CAST(unnest(range(8)) AS INT) AS j)
         |),
         |d2 AS (
         |  SELECT dt, ranking_id, customer_id, cand, MIN(j) AS j
         |  FROM draws WHERE NOT list_contains(shown, cand)
         |  GROUP BY 1, 2, 3, 4
         |),
         |r AS (
         |  SELECT dt, ranking_id, customer_id, cand,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY dt, ranking_id, customer_id ORDER BY j) AS INT) AS rn
         |  FROM d2
         |)
         |SELECT dt, ranking_id, customer_id, cand AS item_id, CAST(0 AS INT) AS label, rn
         |FROM r WHERE rn <= 4
         |ORDER BY dt, ranking_id, customer_id, rn""".stripMargin,

    "q51_mean_pool" ->
      """WITH q AS (
        |  SELECT vec_id % 10 AS group_id,
        |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
        |  FROM embeddings
        |),
        |d AS (
        |  SELECT group_id, i, SUM(qe[i]) AS s, COUNT(*) AS n
        |  FROM q CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INT) AS i)
        |  GROUP BY group_id, i
        |),
        |m AS (
        |  SELECT group_id, i,
        |         CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS m
        |  FROM d
        |)
        |SELECT group_id,
        |       array_to_string(list(m ORDER BY i), ',') AS pooled
        |FROM m GROUP BY group_id
        |ORDER BY group_id""".stripMargin,

    "q52_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM events
        |),
        |r AS (
        |  SELECT event_type, h, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM h
        |),
        |a AS (
        |  SELECT event_type, MAX(h) AS kth, CAST(COUNT(*) AS BIGINT) AS k_actual
        |  FROM r WHERE rn <= 64 GROUP BY event_type
        |)
        |SELECT event_type, kth, k_actual,
        |       CASE WHEN k_actual < 64 THEN CAST(k_actual AS DOUBLE)
        |            ELSE CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |                   / CAST(kth AS DOUBLE) END AS est_distinct
        |FROM a ORDER BY event_type""".stripMargin,

    "q50_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS sm,
        |       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |       CAST(GROUPING(l_linestatus) AS INT) AS g_sm,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_rf, g_sm, rf, sm""".stripMargin,

    "q49_moving_window" ->
      """WITH d AS (
        |  SELECT user_id,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epoch_day,
        |         SUM(CAST(value AS DECIMAL(18,2))) AS dsum,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT user_id, epoch_day,
        |       CAST(dsum AS DOUBLE) AS daily_value,
        |       CAST(SUM(dsum) OVER w AS DOUBLE) AS mov_value,
        |       CAST(SUM(n) OVER w AS BIGINT) AS mov_n
        |FROM d
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_day
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, epoch_day""".stripMargin,

    "q48_distinctive_terms" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |         CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n
        |),
        |r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rnk
        |  FROM s
        |)
        |SELECT doc_id, term, tf, df, rnk, score FROM r WHERE rnk <= 5
        |ORDER BY doc_id, rnk""".stripMargin,

    "q47_dedup_clusters" ->
      s"""WITH RECURSIVE $docShingles,
         |$minhashBands,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
         |),
         |sets AS (SELECT doc_id, list(sh) AS shl, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |p AS (
         |  SELECT doc_a, doc_b
         |  FROM (
         |    SELECT doc_a, doc_b,
         |           CAST(len(list_intersect(sa.shl, sb.shl)) AS BIGINT) AS n_common,
         |           sa.n_sh AS n_a, sb.n_sh AS n_b
         |    FROM cand JOIN sets sa ON doc_a = sa.doc_id JOIN sets sb ON doc_b = sb.doc_id)
         |  WHERE CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) >= 0.5
         |),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach(v, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
         |),
         |lab AS (SELECT v AS doc_id, MIN(r) AS canonical_id FROM reach GROUP BY v),
         |sz AS (SELECT canonical_id, COUNT(*) AS cluster_size FROM lab GROUP BY canonical_id)
         |SELECT l.doc_id, l.canonical_id, s.cluster_size,
         |       l.doc_id = l.canonical_id AS is_canonical
         |FROM lab l JOIN sz s USING (canonical_id)
         |ORDER BY doc_id""".stripMargin,

    "q45_asof_join" ->
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events WHERE event_type = 'view'),
        |u AS (
        |  SELECT user_id, t, 1 AS side, event_id, NULL::BIGINT AS v_id, NULL::BIGINT AS v_t FROM p
        |  UNION ALL
        |  SELECT user_id, t, 0, NULL, event_id, t FROM v
        |),
        |w AS (
        |  SELECT user_id, t, side, event_id,
        |         max(CASE WHEN side = 0 THEN {'t': v_t, 'id': v_id} END)
        |           OVER (PARTITION BY user_id ORDER BY t, side
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        |  FROM u
        |)
        |SELECT user_id, event_id, t,
        |       CAST(COALESCE(m.t, -1) AS BIGINT) AS view_t,
        |       CAST(COALESCE(m.id, -1) AS BIGINT) AS view_event_id
        |FROM w WHERE side = 1
        |ORDER BY user_id, t, event_id""".stripMargin,

    "q46_range_join" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, event_type FROM events)
        |SELECT c.user_id, er.event_id AS error_id, c.event_id AS click_id,
        |       c.t AS click_t, er.t AS err_start
        |FROM e c JOIN e er
        |  ON c.user_id = er.user_id
        | AND c.event_type = 'click' AND er.event_type = 'error'
        | AND c.t >= er.t AND c.t <= er.t + 600000000
        |ORDER BY c.user_id, error_id, click_id""".stripMargin,

    "q44_near_dedup_against" -> nearDedupAgainstOracle,

    // q274: the SAME answer must come out of the STREAMED signature
    // index — the oracle is q44's verbatim (the merged per-epoch index
    // must be indistinguishable from the batch-derived one, through a
    // mid-lifecycle compaction).
    "q274_streaming_signature_index" -> nearDedupAgainstOracle,

    "q41_repetition" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS sh
        |  FROM (SELECT doc_id, w, CAST(unnest(range(1, len(w))) AS INT) AS i FROM w WHERE len(w) >= 2)
        |),
        |-- the engine shuffles xxhash64(gram) digests; counts are identical
        |-- under the digest, so the oracle stays string-keyed
        |c AS (SELECT doc_id, sh, COUNT(*) AS cnt FROM g GROUP BY doc_id, sh),
        |d AS (
        |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams, MAX(cnt) AS top_gram_cnt,
        |         COUNT(*) AS n_distinct_grams
        |  FROM c GROUP BY doc_id
        |)
        |SELECT doc_id, n_grams, n_distinct_grams, top_gram_cnt,
        |       CAST(top_gram_cnt AS DOUBLE) / CAST(n_grams AS DOUBLE) AS top_gram_share,
        |       CAST(top_gram_cnt AS DOUBLE) / CAST(n_grams AS DOUBLE) > 0.2 AS is_repetitive
        |FROM d
        |ORDER BY doc_id""".stripMargin,

    "q38_normalized_dedup" ->
      """WITH n AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h
        |  FROM documents
        |)
        |SELECT h AS content_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs,
        |       array_to_string(list(doc_id ORDER BY doc_id), ',') AS members
        |FROM n GROUP BY h
        |ORDER BY content_hash""".stripMargin,

    "q30_json_props" ->
      """SELECT event_type,
        |       CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY event_type, k_bucket
        |ORDER BY event_type, k_bucket""".stripMargin,

    "q31_scalar_limit" ->
      """SELECT o_orderkey,
        |       upper(o_orderpriority) AS pri,
        |       strftime(o_orderdate, '%Y-%m') AS ym,
        |       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
        |       lpad(CAST(o_orderkey % 100 AS VARCHAR), 3, '0') AS key_pad,
        |       CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
        |       abs(o_custkey - 750) AS cust_dist
        |FROM orders
        |ORDER BY o_orderkey
        |LIMIT 100""".stripMargin,

    "q23_cosine_pairs" ->
      s"""WITH $quantizedEmbeddings,
         |p AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * b.qe[i])) AS BIGINT) AS dp,
         |         a.n2 AS n2a, b.n2 AS n2b
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id
         |),
         |c AS (
         |  SELECT vec_a, vec_b, dp,
         |         CAST(dp AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) AS cosine
         |  FROM p
         |)
         |SELECT vec_a, vec_b, dp, cosine FROM c
         |WHERE cosine >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin)

  /** Shared q117/q118 window/index CTE stack: dense 8-token windows
    * over every document, the reference side (doc_id < 250) grouped
    * into an occurrence-capped index. The hot cap (256) and window
    * width live HERE so the two decontamination oracles cannot drift
    * apart.
    */
  private val substringWindowCtes =
    """t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |win AS MATERIALIZED (
      |  SELECT doc_id, CAST(i AS INT) AS start, array_to_string(ws[i + 1: i + 8], ' ') AS w8
      |  FROM (SELECT doc_id, ws, unnest(range(len(ws) - 7)) AS i FROM t WHERE len(ws) >= 8)
      |),
      |refwin AS MATERIALIZED (
      |  SELECT w8, doc_id AS ref_doc, start AS ref_start FROM win WHERE doc_id < 250
      |),
      |hot AS (SELECT w8 FROM refwin GROUP BY w8 HAVING COUNT(*) > 256),
      |idx AS MATERIALIZED (SELECT * FROM refwin WHERE w8 NOT IN (SELECT w8 FROM hot))""".stripMargin

  /** Shared q84/q122 oracle: aligned passage boilerplate removal —
    * the streaming per-epoch digest-count merge must clean the corpus
    * exactly like the one-shot batch operator.
    */
  private val passageDedupOracle = passageDedupOracleOver("")

  /** [[passageDedupOracle]] over a restricted corpus — the takedown
    * gate (q262) runs the batch pass verbatim on the SURVIVORS.
    */
  private def passageDedupOracleOver(where: String) =
      s"""WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w,
        |         unnest(range(len(regexp_split_to_array(trim(text), '\\s+')))) AS pos
        |  FROM documents$where
        |),
        |p AS (
        |  SELECT doc_id, CAST(pos // 8 AS INT) AS chunk,
        |         string_agg(w, ' ' ORDER BY pos) AS passage
        |  FROM w GROUP BY doc_id, pos // 8
        |),
        |d AS (
        |  SELECT doc_id, chunk, passage,
        |         CAST('0x' || substr(md5(passage), 1, 15) AS BIGINT) AS dig
        |  FROM p
        |),
        |b AS (SELECT dig, TRUE AS boiler FROM d GROUP BY dig HAVING COUNT(DISTINCT doc_id) > 1),
        |k AS (
        |  SELECT d.doc_id, d.chunk, d.passage, COALESCE(b.boiler, FALSE) AS dropped
        |  FROM d LEFT JOIN b USING (dig)
        |)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_passages,
        |       CAST(COUNT(*) FILTER (WHERE dropped) AS BIGINT) AS n_dropped,
        |       COALESCE(string_agg(passage, ' ' ORDER BY chunk) FILTER (WHERE NOT dropped), '') AS clean_text
        |FROM k GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin

  /** Shared q101/q123 oracle: dense-window (offset-robust) boilerplate
    * removal over the shifted synthetic corpus — the streaming rolling
    * state merge must equal the batch pass.
    */
  private val rollingPassageOracle = rollingPassageOracleOver("")

  /** [[rollingPassageOracle]] over a restricted shifted corpus — the
    * takedown gate (q261) runs the batch pass verbatim on the SURVIVORS
    * (the restriction applies to the SHIFTED ids, matching the engine's
    * delete-epoch selection).
    */
  private def rollingPassageOracleOver(where: String) =
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
        |corpus0 AS (
        |  SELECT doc_id * 2 AS doc_id, 'hdr one two ' || text AS text FROM base
        |  UNION ALL
        |  SELECT doc_id * 2 + 1 AS doc_id, 'pre ' || text AS text FROM base
        |),
        |corpus AS (SELECT * FROM corpus0$where),
        |w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w,
        |         unnest(range(len(regexp_split_to_array(trim(text), '\\s+')))) AS pos
        |  FROM corpus
        |),
        |win AS (
        |  SELECT doc_id, pos AS start,
        |         w || ' ' || LEAD(w, 1) OVER z || ' ' || LEAD(w, 2) OVER z || ' ' ||
        |         LEAD(w, 3) OVER z || ' ' || LEAD(w, 4) OVER z || ' ' ||
        |         LEAD(w, 5) OVER z || ' ' || LEAD(w, 6) OVER z || ' ' ||
        |         LEAD(w, 7) OVER z AS s
        |  FROM w WINDOW z AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY s IS NOT NULL
        |),
        |d AS (
        |  SELECT doc_id, start, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS dig
        |  FROM win
        |),
        |b AS (SELECT dig FROM d GROUP BY dig HAVING COUNT(DISTINCT doc_id) > 1),
        |drops AS (
        |  SELECT DISTINCT d.doc_id, d.start + o.o AS pos
        |  FROM d JOIN b USING (dig), (SELECT unnest(range(8)) AS o) o
        |),
        |k AS (
        |  SELECT w.doc_id, w.pos, w.w, (dp.pos IS NOT NULL) AS dropped
        |  FROM w LEFT JOIN drops dp ON w.doc_id = dp.doc_id AND w.pos = dp.pos
        |)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(*) FILTER (WHERE dropped) AS BIGINT) AS n_dropped,
        |       COALESCE(string_agg(w, ' ' ORDER BY pos) FILTER (WHERE NOT dropped), '') AS clean_text
        |FROM k GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin

  /** 30-minute-gap sessionization of the event stream (q11's computation,
    * shared with q148's interval join) — [[Timeseries.sessionize]] over
    * the events table at its default gap.
    */
  private def batchSessions(s: SparkSession, dir: String): DataFrame =
    Timeseries.sessionize(Tables.events(s, dir))

  /** q101/q123's synthetic corpus: each base document twice, its
    * boilerplate shifted by different prefix lengths — the fixture the
    * aligned pass provably misses and the dense-window pass catches.
    * doc_id < 150 keeps the DuckDB window replay tractable.
    */
  private def shiftedBoilerplateCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .filter(col("doc_id") < 150).select("doc_id", "text")
    base
      .select((col("doc_id") * 2).as("doc_id"),
        concat(lit("hdr one two "), col("text")).as("text"))
      .unionByName(base
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(lit("pre "), col("text")).as("text")))
  }

  /** Shared q76/q121 oracle: the deterministic HLL over events — the
    * streaming per-epoch register view must reproduce the batch sketch
    * exactly (register merge is an idempotent MAX).
    */
  private val hllEventsOracle = {
    val c = graft.functions.Sketches.hllConstant(6)
    s"""WITH h AS (
       |  SELECT event_type,
       |         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |  FROM events
       |),
       |r AS (
       |  SELECT event_type, CAST(h % 64 AS INT) AS reg,
       |         CASE WHEN h // 64 = 0 THEN 55
       |              ELSE 55 - CAST(length(bin(h // 64)) AS INT) END AS rho
       |  FROM h
       |),
       |m AS (
       |  SELECT event_type, reg, MAX(rho) AS r FROM r GROUP BY event_type, reg
       |),
       |a AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m_used,
       |         CAST(SUM(CAST(1 AS BIGINT) << (55 - r)) AS BIGINT) AS s_used
       |  FROM m GROUP BY event_type
       |)
       |SELECT event_type, m_used,
       |       s_used + (64 - m_used) * 36028797018963968 AS s,
       |       CAST('$c' AS DOUBLE) /
       |         CAST(s_used + (64 - m_used) * 36028797018963968 AS DOUBLE) AS est_distinct
       |FROM a ORDER BY event_type""".stripMargin
  }

  /** Shared q92/q100 oracle: the Bloom probe replayed in SQL (explode 3
    * positions per distinct hash, one join on the word index, min() of
    * the hits), flags and all — both probe shapes (broadcast and
    * shuffle join) must hash-match the same answer.
    */
  private val bloomDedupOracle =
      """WITH h AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS content_hash
        |  FROM documents
        |),
        |kept AS (SELECT DISTINCT content_hash FROM h WHERE doc_id < 250),
        |kh AS (
        |  SELECT CAST('0x' || substr(md5(content_hash), 1, 15) AS BIGINT) AS h60,
        |         CAST('0x' || substr(md5(content_hash), 17, 13) AS BIGINT) AS h52
        |  FROM kept
        |),
        |kp AS (
        |  SELECT unnest([h60 % 1984, h52 % 1984, xor(h60, h52) % 1984]) AS p FROM kh
        |),
        |w AS (
        |  SELECT CAST(p // 62 AS INT) AS word,
        |         bit_or(CAST(1 AS BIGINT) << CAST(p % 62 AS INT)) AS m
        |  FROM kp GROUP BY 1
        |),
        |snap AS (SELECT doc_id, content_hash FROM h WHERE doc_id >= 250),
        |sh AS (
        |  SELECT doc_id, content_hash,
        |         CAST('0x' || substr(md5(content_hash), 1, 15) AS BIGINT) AS h60,
        |         CAST('0x' || substr(md5(content_hash), 17, 13) AS BIGINT) AS h52
        |  FROM snap
        |),
        |sp AS (
        |  SELECT doc_id, content_hash,
        |         unnest([h60 % 1984, h52 % 1984, xor(h60, h52) % 1984]) AS p
        |  FROM sh
        |),
        |sb AS (
        |  SELECT sp.doc_id, sp.content_hash,
        |         MIN(COALESCE((w.m >> CAST(sp.p % 62 AS INT)) & 1, 0)) AS allhit
        |  FROM sp LEFT JOIN w ON CAST(sp.p // 62 AS INT) = w.word
        |  GROUP BY 1, 2
        |)
        |SELECT s.doc_id, s.content_hash, (sb.allhit = 1) AS needed_exact_check
        |FROM snap s JOIN sb ON s.doc_id = sb.doc_id AND s.content_hash = sb.content_hash
        |WHERE s.content_hash NOT IN (SELECT content_hash FROM kept)
        |ORDER BY s.doc_id""".stripMargin

  /** Shared oracle CTE: distinct word 3-shingles per document (lead-window
    * formulation — equivalent to the engine's array-native shingling).
    */
  private val docShingles =
    """words AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
      |         unnest(range(len(regexp_split_to_array(trim(text), '\s+')))) AS pos
      |  FROM documents
      |),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         w || ' ' || LEAD(w, 1) OVER win || ' ' || LEAD(w, 2) OVER win AS sh
      |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY sh IS NOT NULL
      |)""".stripMargin

  /** Shared oracle CTE chain: [[docShingles]] extended to the df-[2,3]
    * rare-shingle graph (`Dedup.rareShingleEdges` defaults) with the
    * symmetrized edge table `sym` — the graph every unrolled-round
    * graph oracle (q154/q161/q162) iterates over.
    */
  private val rareSymCtes =
    s"""$docShingles,
       |dig AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS shh FROM sh),
       |rare AS (SELECT shh FROM dig GROUP BY shh HAVING COUNT(*) BETWEEN 2 AND 3),
       |edges AS (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM dig a JOIN rare USING (shh) JOIN dig b USING (shh)
       |  WHERE a.doc_id < b.doc_id
       |),
       |sym AS MATERIALIZED (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)""".stripMargin

  /** Shared q132/q169 oracle CTE chain (composes after
    * `quantizedEmbeddings`): the cosine and exact-L2 rankings of the
    * corpus per query vector, each cut at depth 50 — `bycos` / `byl2`
    * mirror `Similarity.dualRankings`' two depth-bounded lists.
    */
  private val dualRankCtes =
    """q AS (SELECT vec_id AS query_id, qe AS q_qe, n2 AS q_n2 FROM n WHERE vec_id < 10),
      |sc AS (
      |  SELECT q.query_id, n.vec_id,
      |         CAST(list_sum(list_transform(range(1, 65), i -> n.qe[i] * q.q_qe[i])) AS BIGINT) AS dp,
      |         n.n2, q.q_n2
      |  FROM n CROSS JOIN q WHERE n.vec_id <> q.query_id
      |),
      |sc2 AS (
      |  SELECT *,
      |         CAST(dp AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(q_n2 AS DOUBLE))) AS cosine,
      |         CAST(n2 - 2 * dp + q_n2 AS BIGINT) AS d2
      |  FROM sc
      |),
      |bycos AS (
      |  SELECT query_id, vec_id, cos_rank FROM (
      |    SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER (
      |      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS cos_rank
      |    FROM sc2)
      |  WHERE cos_rank <= 50
      |),
      |byl2 AS (
      |  SELECT query_id, vec_id, l2_rank FROM (
      |    SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER (
      |      PARTITION BY query_id ORDER BY d2, vec_id) AS INT) AS l2_rank
      |    FROM sc2)
      |  WHERE l2_rank <= 50
      |)""".stripMargin

  /** Shared q152/q165 oracle CTE chain: the learned-linear-quality
    * pipeline — heuristic teacher labels `m`, 1/3-bit log-odds weight
    * table `wt`, per-doc scores `s` — so the scorer (q152) and its
    * distillation-fidelity confusion matrix (q165) replay the one
    * training pass.
    */
  /** Shared tokenization + quality-label CTEs (`t`: whitespace tokens;
    * `m`: qualityFilter's keep verdict as `y`) — the label surface
    * q152/q165's linear model and q190's χ² selection both train
    * against.
    */
  private val qualityLabelCtes =
    """t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
      |),
      |m AS (
      |  SELECT doc_id,
      |         ((CAST(len(ws) AS BIGINT) BETWEEN 40 AND 10000)
      |           AND CAST(CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS DOUBLE)
      |               / CAST(len(ws) AS DOUBLE) >= 3.0
      |           AND CAST(CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS DOUBLE)
      |               / CAST(len(ws) AS DOUBLE) <= 8.0
      |           AND CAST(len(list_filter(ws, w -> w = 'the' OR w = 'a')) AS BIGINT) > 0) AS y
      |  FROM t
      |)""".stripMargin

  private val linearQualityCtes =
    qualityLabelCtes + """,
      |lt AS (SELECT m.y AS y, unnest(t.ws) AS w FROM t JOIN m USING (doc_id)),
      |c AS (
      |  SELECT w,
      |         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
      |         CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
      |  FROM lt GROUP BY w
      |),
      |tot AS (
      |  SELECT CAST(SUM(c_pos) AS BIGINT) AS t_pos, CAST(SUM(c_neg) AS BIGINT) AS t_neg,
      |         CAST(COUNT(*) AS BIGINT) AS v
      |  FROM c
      |),
      |r AS (
      |  SELECT w,
      |         ((c_pos + 1) * 1048576) // (t_pos + v) AS rp,
      |         ((c_neg + 1) * 1048576) // (t_neg + v) AS rn
      |  FROM c, tot
      |),
      |wt AS (
      |  SELECT w,
      |         CAST(length(bin(rp * rp * rp)) AS BIGINT)
      |           - CAST(length(bin(rn * rn * rn)) AS BIGINT) AS weight_tribits
      |  FROM r
      |),
      |tok AS (SELECT doc_id, unnest(ws) AS w FROM t),
      |s AS MATERIALIZED (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |         CAST(SUM(COALESCE(weight_tribits, 0)) AS BIGINT) AS score_tribits
      |  FROM tok LEFT JOIN wt USING (w) GROUP BY doc_id
      |)""".stripMargin

  /** Shared q163/q164 oracle CTE chain: positional word 3-gram digests
    * (dense positions), frame minima over w = 4 windows, rightmost-
    * argmin selection, distinct fingerprints — the winnowing selection
    * `Dedup.winnowingSelected` computes with the frame-min window.
    */
  private val winnowCtes =
    """words AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
      |         unnest(range(len(regexp_split_to_array(trim(text), '\s+')))) AS pos
      |  FROM documents
      |),
      |g AS MATERIALIZED (
      |  SELECT doc_id, pos,
      |         CAST('0x' || substr(md5(w || ' ' || LEAD(w, 1) OVER win || ' ' || LEAD(w, 2) OVER win), 1, 15) AS BIGINT) AS h
      |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY LEAD(w, 2) OVER win IS NOT NULL
      |),
      |wm AS (
      |  SELECT doc_id, pos, h,
      |         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
      |         COUNT(*) OVER (PARTITION BY doc_id) AS nh
      |  FROM g
      |),
      |sel AS (
      |  SELECT wm.doc_id, wm.pos AS i, MAX(g2.pos) AS fpos, wm.mh AS fh
      |  FROM wm JOIN g g2 ON g2.doc_id = wm.doc_id
      |    AND g2.pos BETWEEN wm.pos AND wm.pos + 3 AND g2.h = wm.mh
      |  WHERE wm.pos <= wm.nh - 4
      |  GROUP BY wm.doc_id, wm.pos, wm.mh
      |),
      |fp AS MATERIALIZED (SELECT DISTINCT doc_id, fpos, fh FROM sel)""".stripMargin

  /** Shared oracle CTE: 8 MinHash signatures per doc via the
    * rotate_j(h1) XOR h2 family (matching Dedup.minhashSignatures — see
    * its scaladoc for why h1 + j*h2 and h2-only rotations are unusable),
    * banded 4×2. The power-of-two factors are exact in DOUBLE for these
    * exponents.
    */
  private val minhashBands =
    """hh AS (
      |  SELECT doc_id,
      |         CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h1,
      |         CAST('0x' || substr(md5(sh), 17, 13) AS BIGINT) AS h2
      |  FROM sh
      |),
      |hs AS (
      |  SELECT doc_id, j,
      |         MIN(xor((h1 % CAST(power(2, 60 - (1 + 7*j)) AS BIGINT))
      |                   * CAST(power(2, 1 + 7*j) AS BIGINT)
      |                 + h1 // CAST(power(2, 60 - (1 + 7*j)) AS BIGINT),
      |                 h2)) AS sig
      |  FROM hh CROSS JOIN (SELECT unnest(range(8)) AS j)
      |  GROUP BY doc_id, j
      |),
      |bands AS (
      |  SELECT doc_id, CAST(j // 2 AS INT) AS band,
      |         string_agg(CAST(sig AS VARCHAR), '_' ORDER BY j) AS band_sig
      |  FROM hs GROUP BY doc_id, CAST(j // 2 AS INT)
      |)""".stripMargin

  /** Shared q44/q274 oracle: brute minhash-band candidates + exact
    * digest-set jaccard; survivors of the snapshot (>= 250) against the
    * kept (< 250) corpus. q274 must reproduce it from the STREAMED,
    * mid-lifecycle-compacted signature index.
    */
  private def nearDedupAgainstOracle: String =
    s"""WITH $docShingles,
       |$minhashBands,
       |cands AS (
       |  SELECT DISTINCT s.doc_id AS new_doc, kb.doc_id AS kept_doc
       |  FROM bands s JOIN bands kb
       |    ON s.band = kb.band AND s.band_sig = kb.band_sig
       |  WHERE s.doc_id >= 250 AND kb.doc_id < 250
       |),
       |sets AS (
       |  SELECT doc_id,
       |         list(DISTINCT CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)) AS shl,
       |         CAST(COUNT(DISTINCT CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)) AS BIGINT) AS n_sh
       |  FROM sh GROUP BY doc_id
       |),
       |v AS (
       |  SELECT c.new_doc,
       |         CAST(len(list_intersect(sa.shl, sb.shl)) AS BIGINT) AS n_common,
       |         sa.n_sh AS n_a, sb.n_sh AS n_b
       |  FROM cands c
       |  JOIN sets sa ON c.new_doc = sa.doc_id
       |  JOIN sets sb ON c.kept_doc = sb.doc_id
       |)
       |SELECT doc_id FROM documents
       |WHERE doc_id >= 250
       |  AND doc_id NOT IN (
       |    SELECT new_doc FROM v
       |    WHERE CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) >= 0.75)
       |ORDER BY doc_id""".stripMargin

  /** Oracle for the sign-LSH ANN query: the deterministic hyperplanes are
    * generated by the same Scala code as the engine
    * (Similarity.hyperplanes), quantized identically, and embedded as SQL
    * list literals.
    */
  /** Shared q89/q99 oracle CTE chain: quality verdicts → boilerplate
    * removal → exact dedup on cleaned text → split, ending in a
    * `verdicts` CTE with one row per input document. q89 selects the
    * rows; q99 aggregates them per source (the funnel view).
    */
  private val curateVerdictCtes =
    """t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |m AS (
      |  SELECT doc_id,
      |         CAST(len(ws) AS BIGINT) AS n_words,
      |         CAST(CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS DOUBLE)
      |           / CAST(len(ws) AS DOUBLE) AS avg_word_len,
      |         CAST(len(list_filter(ws, w -> w = 'the' OR w = 'a')) AS BIGINT) AS stop_hits
      |  FROM t
      |),
      |qual AS (
      |  SELECT doc_id,
      |         ((n_words BETWEEN 40 AND 10000)
      |           AND avg_word_len >= 3.0 AND avg_word_len <= 8.0
      |           AND stop_hits > 0) AS keep,
      |         concat_ws(',',
      |           CASE WHEN NOT (n_words BETWEEN 40 AND 10000) THEN 'length' END,
      |           CASE WHEN NOT (avg_word_len >= 3.0 AND avg_word_len <= 8.0) THEN 'word_shape' END,
      |           CASE WHEN NOT (stop_hits > 0) THEN 'no_stopwords' END) AS reject_reasons
      |  FROM m
      |),
      |pw AS (
      |  SELECT d.doc_id, unnest(regexp_split_to_array(trim(d.text), '\s+')) AS w,
      |         unnest(range(len(regexp_split_to_array(trim(d.text), '\s+')))) AS pos
      |  FROM documents d JOIN qual ON d.doc_id = qual.doc_id AND qual.keep
      |),
      |p AS (
      |  SELECT doc_id, CAST(pos // 8 AS INT) AS chunk, string_agg(w, ' ' ORDER BY pos) AS passage
      |  FROM pw GROUP BY doc_id, pos // 8
      |),
      |pd AS (
      |  SELECT doc_id, chunk, passage,
      |         CAST('0x' || substr(md5(passage), 1, 15) AS BIGINT) AS dig
      |  FROM p
      |),
      |b AS (SELECT dig, TRUE AS boiler FROM pd GROUP BY dig HAVING COUNT(DISTINCT doc_id) > 1),
      |k AS (
      |  SELECT pd.doc_id, pd.chunk, pd.passage, COALESCE(b.boiler, FALSE) AS dropped
      |  FROM pd LEFT JOIN b USING (dig)
      |),
      |cleaned AS (
      |  SELECT doc_id,
      |         CAST(COUNT(*) FILTER (WHERE dropped) AS BIGINT) AS n_dropped,
      |         COALESCE(string_agg(passage, ' ' ORDER BY chunk) FILTER (WHERE NOT dropped), '') AS clean_text
      |  FROM k GROUP BY doc_id
      |),
      |canon AS (
      |  SELECT md5(clean_text) AS h, MIN(doc_id) AS canonical_id
      |  FROM cleaned GROUP BY md5(clean_text)
      |),
      |wc AS (
      |  SELECT cleaned.doc_id, cleaned.n_dropped, canon.canonical_id
      |  FROM cleaned JOIN canon ON md5(cleaned.clean_text) = canon.h
      |),
      |sp AS (
      |  SELECT doc_id,
      |         CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split
      |  FROM (
      |    SELECT doc_id,
      |           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bkt
      |    FROM wc WHERE doc_id = canonical_id)
      |),
      |verdicts AS (
      |  SELECT qual.doc_id,
      |         CASE WHEN NOT qual.keep THEN 'rejected_quality'
      |              WHEN wc.doc_id <> wc.canonical_id THEN 'dropped_duplicate'
      |              ELSE 'kept' END AS verdict,
      |         qual.reject_reasons,
      |         COALESCE(wc.n_dropped, CAST(0 AS BIGINT)) AS n_dropped_passages,
      |         CASE WHEN wc.doc_id <> wc.canonical_id THEN wc.canonical_id END AS dup_of,
      |         sp.split
      |  FROM qual
      |  LEFT JOIN wc ON qual.doc_id = wc.doc_id
      |  LEFT JOIN sp ON qual.doc_id = sp.doc_id
      |)""".stripMargin

  /** q116's shared per-doc admission signals: distinct shingle-digest
    * sets (the near-dup verify side), normalized content hashes (the
    * exact-dedup side), all verified near-dup pairs from LSH band
    * candidates (new side = streamed docs, kept side = anyone), and the
    * quality-passing streamed candidates with their batch assignment.
    * All MATERIALIZED: each is referenced by every admission round, and
    * DuckDB 1.0 inlines CTEs by default (exponential expansion).
    */
  private val admissionSignalCtes =
    """sets AS MATERIALIZED (
      |  SELECT doc_id,
      |         list(DISTINCT CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)) AS shl,
      |         CAST(COUNT(DISTINCT CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)) AS BIGINT) AS n_sh
      |  FROM sh GROUP BY doc_id
      |),
      |cand_pairs AS MATERIALIZED (
      |  SELECT DISTINCT s.doc_id AS new_doc, kb.doc_id AS kept_doc
      |  FROM bands s JOIN bands kb
      |    ON s.band = kb.band AND s.band_sig = kb.band_sig
      |  WHERE s.doc_id >= 50 AND s.doc_id < 500 AND kb.doc_id <> s.doc_id
      |),
      |vp AS MATERIALIZED (
      |  SELECT c.new_doc, c.kept_doc
      |  FROM cand_pairs c
      |  JOIN sets sa ON c.new_doc = sa.doc_id
      |  JOIN sets sb ON c.kept_doc = sb.doc_id
      |  WHERE CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
      |          / CAST(sa.n_sh + sb.n_sh - len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
      |        >= 0.75
      |),
      |ah AS MATERIALIZED (
      |  SELECT doc_id,
      |         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS content_hash
      |  FROM documents
      |),
      |aw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |aq AS (
      |  SELECT doc_id,
      |         CAST(len(ws) AS BIGINT) AS n_words,
      |         CAST(CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS DOUBLE)
      |           / CAST(len(ws) AS DOUBLE) AS avg_word_len,
      |         CAST(len(list_filter(ws, w -> w = 'the' OR w = 'a')) AS BIGINT) AS stop_hits
      |  FROM aw
      |),
      |cand AS MATERIALIZED (
      |  SELECT d.doc_id, CAST(d.doc_id % 3 AS INT) AS batch, ah.content_hash
      |  FROM documents d
      |  JOIN aq ON d.doc_id = aq.doc_id
      |  JOIN ah ON d.doc_id = ah.doc_id
      |  WHERE d.doc_id >= 50 AND d.doc_id < 500
      |    AND (aq.n_words BETWEEN 40 AND 10000)
      |    AND aq.avg_word_len >= 3.0 AND aq.avg_word_len <= 8.0
      |    AND aq.stop_hits > 0
      |),
      |kept0 AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id < 50)""".stripMargin

  /** One sequential admission round for q116: batch `b`'s
    * quality-passing candidates survive iff their content hash is not in
    * the kept set's hashes AND no verified near-dup pair lands in the
    * kept set; the next kept set is kept ∪ admitted.
    */
  private def admissionRound(b: Int): String =
    s"""adm$b AS MATERIALIZED (
       |  SELECT c.doc_id FROM cand c
       |  WHERE c.batch = $b
       |    AND c.content_hash NOT IN (
       |      SELECT ah.content_hash FROM ah JOIN kept$b k ON ah.doc_id = k.doc_id)
       |    AND NOT EXISTS (
       |      SELECT 1 FROM vp JOIN kept$b k ON vp.kept_doc = k.doc_id
       |      WHERE vp.new_doc = c.doc_id)
       |),
       |kept${b + 1} AS MATERIALIZED (
       |  SELECT doc_id FROM kept$b UNION ALL SELECT doc_id FROM adm$b)""".stripMargin

  /** Rounds for the q95/q96 BPE oracle. The training replay is UNROLLED
    * in SQL — one materialized CTE triple per round — so this stays
    * small; the Spark side trains with the same number.
    */
  /** Shared q222/q223 oracle: q210's boundary prefix-sum chain extended
    * with chunk text (ordered string_agg per chunk), cross-document
    * frequencies, and the per-document rebuild of kept chunks — the
    * batch pass q223's merged streaming state must equal exactly.
    */
  private val cdcDedupOracle = cdcDedupOracleOver("")

  /** [[cdcDedupOracle]] over a restricted corpus — the takedown gate
    * (q263) runs the batch pass verbatim on the SURVIVORS.
    */
  private def cdcDedupOracleOver(where: String) =
    s"""WITH w AS (
      |  SELECT doc_id,
      |         unnest(regexp_split_to_array(trim(text), '\\s+')) AS w,
      |         CAST(unnest(range(1, len(regexp_split_to_array(trim(text), '\\s+')) + 1))
      |              AS BIGINT) AS pos,
      |         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n
      |  FROM documents$where
      |),
      |b AS (
      |  SELECT doc_id, pos, w,
      |         CASE WHEN pos < n
      |                   AND CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 8 = 0
      |              THEN 1 ELSE 0 END AS brk
      |  FROM w
      |),
      |c AS (
      |  SELECT doc_id, pos, w,
      |         COALESCE(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
      |  FROM b
      |),
      |ch AS (
      |  SELECT doc_id, chunk_idx, string_agg(w, ' ' ORDER BY pos) AS chunk_text,
      |         CAST('0x' || substr(md5(string_agg(w, ' ' ORDER BY pos)), 1, 15)
      |              AS BIGINT) AS dig
      |  FROM c GROUP BY doc_id, chunk_idx
      |),
      |cnt AS (SELECT dig, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY dig),
      |k AS (
      |  SELECT ch.doc_id, ch.chunk_idx, ch.chunk_text, (cnt.df > 1) AS dropped
      |  FROM ch JOIN cnt USING (dig)
      |)
      |SELECT doc_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |       CAST(COUNT(*) FILTER (WHERE dropped) AS BIGINT) AS n_dropped,
      |       COALESCE(string_agg(chunk_text, ' ' ORDER BY chunk_idx)
      |                  FILTER (WHERE NOT dropped), '') AS clean_text
      |FROM k GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Shared q80/q214 oracle: the exact-count-defined heavy set (k = 24 ⇒
    * threshold ×25) with presence and error-bound booleans asserted true
    * — the MG guarantee both the batch sketch and the merged streaming
    * state must satisfy.
    */
  private val heavyHittersOracle =
    """WITH w AS (
      |  SELECT source AS grp, unnest(regexp_split_to_array(trim(text), '\s+')) AS item
      |  FROM documents
      |),
      |c AS (SELECT grp, item, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY grp, item),
      |t AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY grp)
      |SELECT c.grp, c.item, c.cnt, t.n, TRUE AS present, TRUE AS bound_ok
      |FROM c JOIN t USING (grp)
      |WHERE c.cnt * 25 > t.n
      |ORDER BY grp, item""".stripMargin

  private val bpeOracleMerges = 8

  /** Shared q95/q96 oracle prefix: tokenization, the char-split vocab,
    * and `bpeOracleMerges` unrolled training rounds (pair counts →
    * argmax under (cnt DESC, c1, c2) → greedy merge application).
    *
    * Greedy left-to-right merge application in pure SQL: each word's
    * symbol sequence is ONE string with DOUBLED U+001F separators
    * between symbols (and at both ends), and applying merge (c1, c2) is
    * a single `replace` of `<s>c1<s><s>c2<s>` with `<s>c1c2<s>` —
    * SQL replace scans left-to-right non-overlapping exactly like the
    * engine's `mergeOnce`, the flanking separators pin c1/c2 to WHOLE
    * symbols (no mid-symbol matches once symbols grow multi-char), and
    * each replacement consumes one separator from each doubled boundary
    * leaving the doubling invariant intact. (A single-separator encoding
    * fails: the match would consume the shared boundary and miss
    * immediately-adjacent repeats like `a a a a`.)
    *
    * MATERIALIZED is load-bearing: `p{r}` and `v{r}` both reference
    * `v{r-1}`, and DuckDB's default CTE inlining would expand the chain
    * exponentially in the round count.
    */
  private def bpeTrainSql: String = bpeChainSql(
    s"""tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w,
       |         CAST(unnest(range(len(regexp_split_to_array(trim(text), '\\s+')))) AS BIGINT) AS pos
       |  FROM documents
       |)""".stripMargin, "")

  /** The train chain for any tokenizer: `tok(doc_id, pos, w)` (prefixed)
    * in, `bpeOracleMerges` unrolled rounds of pair-count -> argmax ->
    * greedy replace out (CTEs `v{r}` / `p{r}` / `m{r}`, all prefixed) -
    * shared by the whitespace (q95/q96, prefix "") and byte-level
    * (q225/q226, prefix "bb") tokenizer oracles.
    */
  private def bpeChainSql(tokCte: String, pfx: String): String = {
    val sep = "\u001f"
    val s1 = s"'$sep'"
    val s2 = s"'$sep$sep'"
    val head =
      s"""$tokCte,
         |${pfx}v0 AS MATERIALIZED (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc,
         |         $s2 || array_to_string(list_transform(range(1, length(w)+1), i -> w[i:i]), $s2) || $s2 AS seq
         |  FROM ${pfx}tok WHERE length(w) >= 2 GROUP BY w
         |)""".stripMargin
    // When training exhausts before round r (no adjacent pairs left),
    // m$r is empty and its scalar subqueries are NULL - replace(seq,
    // NULL, NULL) would NULL-poison every sequence. coalesce to a
    // pattern that can NEVER occur (three consecutive separators:
    // symbols are non-empty, so runs are exactly 2 long) makes the
    // exhausted rounds no-ops, matching the engine's early return.
    val s3 = s"'$sep$sep$sep'"
    val rounds = (1 to bpeOracleMerges).map { r =>
      s"""${pfx}p$r AS MATERIALIZED (
         |  SELECT l[i] AS c1, l[i+1] AS c2, CAST(SUM(wc) AS BIGINT) AS cnt
         |  FROM (SELECT wc, list_filter(string_split(seq, $s2), x -> x <> '') AS l FROM ${pfx}v${r - 1}),
         |       unnest(range(1, len(l))) AS u(i)
         |  GROUP BY 1, 2
         |),
         |${pfx}m$r AS MATERIALIZED (SELECT c1, c2, cnt FROM ${pfx}p$r ORDER BY cnt DESC, c1, c2 LIMIT 1),
         |${pfx}v$r AS MATERIALIZED (
         |  SELECT w, wc,
         |         replace(seq,
         |           coalesce($s1 || (SELECT c1 FROM ${pfx}m$r) || $s2 || (SELECT c2 FROM ${pfx}m$r) || $s1, $s3),
         |           coalesce($s1 || (SELECT c1 FROM ${pfx}m$r) || (SELECT c2 FROM ${pfx}m$r) || $s1, $s3)) AS seq
         |  FROM ${pfx}v${r - 1}
         |)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** The full 256-entry GPT-2 `bytes_to_unicode` table as a DuckDB list
    * literal, generated from the ENGINE's own table
    * ([[graft.expressions.ByteRemap.table]]) so oracle and engine can
    * never drift — the q174 μ-law table-literal precedent.
    */
  private def byteRemapListSql: String =
    graft.expressions.ByteRemap.table
      .map(c => "'" + (if (c == '\'') "''" else c.toString) + "'")
      .mkString("[", ",", "]")

  /** The byte-level tok CTE over table `src`: GPT-2 regex
    * pre-tokenization (RE2-safe, no lookahead —
    * [[graft.functions.TextAnalysis.BytePretokenPattern]]) then the
    * bytes_to_unicode remap replayed per UTF-8 BYTE — each pre-token is
    * hex-encoded and every byte indexes the full 256-entry table
    * ([[byteRemapListSql]]), so multibyte input (the byte-fallback
    * alphabet's whole reason to exist) replays exactly, not just ASCII.
    */
  private def byteBpeTokSql(src: String = "documents"): String = {
    val pat = "''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"
    s"""bbraw AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '$pat')) AS pt,
       |         CAST(unnest(range(len(regexp_extract_all(text, '$pat')))) AS BIGINT) AS pos
       |  FROM $src
       |),
       |bbhex AS (
       |  SELECT doc_id, pos, hex(encode(pt)) AS h, octet_length(encode(pt)) AS nb
       |  FROM bbraw
       |),
       |bbtok AS MATERIALIZED (
       |  SELECT doc_id, pos,
       |         array_to_string(list_transform(range(1, nb + 1), i ->
       |           ($byteRemapListSql)[
       |             (strpos('0123456789ABCDEF', h[2*i-1:2*i-1]) - 1) * 16
       |             + (strpos('0123456789ABCDEF', h[2*i:2*i]) - 1) + 1 ]), '') AS w
       |  FROM bbhex
       |)""".stripMargin
  }

  private def byteBpeMergesOracle(src: String = "documents"): String = {
    val union = (1 to bpeOracleMerges)
      .map(r => s"SELECT ${r - 1} AS rank, c1, c2, cnt FROM bbm$r")
      .mkString(" UNION ALL ")
    s"WITH ${bpeChainSql(byteBpeTokSql(src), "bb")}\n" +
      s"SELECT CAST(rank AS INT) AS rank, c1, c2, cnt FROM ($union) ORDER BY rank"
  }

  /** Shared q226/q196 CTE chain: byte-level BPE train + per-type greedy
    * encode, ending in `bbpieces(w, pl)` next to `bbtok`.
    */
  private def byteBpePiecesSql(src: String = "documents"): String = {
    val sep = "\u001f"
    val s1 = s"'$sep'"
    val s2 = s"'$sep$sep'"
    val s3 = s"'$sep$sep$sep'"
    val encodeRounds = (1 to bpeOracleMerges).map { r =>
      s"""bbe$r AS MATERIALIZED (
         |  SELECT w, replace(seq,
         |           coalesce($s1 || (SELECT c1 FROM bbm$r) || $s2 || (SELECT c2 FROM bbm$r) || $s1, $s3),
         |           coalesce($s1 || (SELECT c1 FROM bbm$r) || (SELECT c2 FROM bbm$r) || $s1, $s3)) AS seq
         |  FROM bbe${r - 1}
         |)""".stripMargin
    }.mkString(",\n")
    s"""${bpeChainSql(byteBpeTokSql(src), "bb")},
       |bbe0 AS MATERIALIZED (
       |  SELECT w,
       |         $s2 || array_to_string(list_transform(range(1, length(w)+1), i -> w[i:i]), $s2) || $s2 AS seq
       |  FROM (SELECT DISTINCT w FROM bbtok)
       |),
       |$encodeRounds,
       |bbpieces AS MATERIALIZED (
       |  SELECT w, list_filter(string_split(seq, $s2), x -> x <> '') AS pl FROM bbe$bpeOracleMerges
       |)""".stripMargin
  }

  /** The deterministic multilingual rewrite of the corpus, as SQL — the
    * q237/q238 gate corpus (`multilingualDocs` is its engine twin):
    * `translate` swaps four ASCII letters for 2-byte Latin-1 letters and
    * a `doc_id`-keyed suffix appends CJK (3-byte), Devanagari (3-byte,
    * with combining matras), Greek (2-byte) and emoji (4-byte)
    * codepoints, so every UTF-8 length class reaches the byte-fallback
    * alphabet.
    */
  private val documentsMlSql: String =
    """documents_ml AS (
      |  SELECT doc_id, source,
      |         translate(text, 'aeos', 'äéø§') ||
      |         ([' Grüße naïve', ' 你好世界', ' नमस्ते 🌍', ' Ωμέγα καλά'])[CAST(doc_id % 4 + 1 AS INT)] AS text
      |  FROM documents
      |)""".stripMargin

  private def byteBpeEncodeOracle(src: String = "documents", prelude: String = ""): String = {
    val sep = "\u001f"
    val s1 = s"'$sep'"
    s"""WITH $prelude${byteBpePiecesSql(src)}
       |SELECT t.doc_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_pretoks,
       |       CAST(SUM(length(t.w)) AS BIGINT) AS n_bytes_sum,
       |       CAST(SUM(len(p.pl)) AS BIGINT) AS n_pieces,
       |       md5(string_agg(array_to_string(p.pl, $s1), ' ' ORDER BY t.pos)) AS pieces_digest
       |FROM bbtok t JOIN bbpieces p USING (w)
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** Unigram-LM oracle parameters — mirrored by
    * [[graft.functions.TextAnalysis.unigramTrainVocab]]'s defaults. The
    * DP unroll bound is the max corpus word length the oracle supports
    * (testdata words top out at 8; the engine itself is unbounded).
    */
  private val uniPieceLen = 4
  private val uniSeedSize = 40
  private val uniRounds = 2
  private val uniVocabKeep = 24
  private val uniMaxWordLen = 12

  /** One full Viterbi DP in SQL, unrolled by prefix length: `b{tag}_i`
    * is the best (cost, piece count, path) segmentation of each word's
    * first `i` characters under the `costCte` piece costs, chosen by
    * `ROW_NUMBER` over the same lexicographic key the engine minimizes;
    * `seg{tag}` stitches the per-length winners. MATERIALIZED is
    * load-bearing (each level references up to `uniPieceLen` previous
    * levels — default CTE inlining would blow up exponentially).
    */
  private def uniDpSql(tag: String, costCte: String): String = {
    val sep = "\u001f"
    val levels = (1 to uniMaxWordLen).map { i =>
      val branches = (math.max(0, i - uniPieceLen) until i).map { j =>
        s"""      SELECT b.w AS w, b.cost + c.cost AS cost, b.np + 1 AS np,
           |             CASE WHEN b.path = '' THEN c.p ELSE b.path || '$sep' || c.p END AS path
           |      FROM b${tag}_$j b JOIN $costCte c ON c.p = substr(b.w, ${j + 1}, ${i - j})
           |      WHERE length(b.w) >= $i""".stripMargin
      }.mkString("\n      UNION ALL\n")
      s"""b${tag}_$i AS MATERIALIZED (
         |  SELECT w, cost, np, path FROM (
         |    SELECT w, cost, np, path,
         |           ROW_NUMBER() OVER (PARTITION BY w ORDER BY cost, np, path) AS rn
         |    FROM (
         |$branches
         |    )
         |  ) WHERE rn = 1
         |)""".stripMargin
    }
    val seg = (1 to uniMaxWordLen)
      .map(i => s"  SELECT w, path FROM b${tag}_$i WHERE length(w) = $i")
      .mkString("\n  UNION ALL\n") +
      // Loud bound check: the DP is unrolled only to uniMaxWordLen, so a
      // longer corpus word would silently vanish from seg (and the join
      // would DROP it while the engine segments it). error() fires iff
      // such a word exists.
      s"""
         |  UNION ALL
         |  SELECT error('corpus word longer than the oracle DP bound $uniMaxWordLen: ' || w) AS w,
         |         '' AS path
         |  FROM ty WHERE length(w) > $uniMaxWordLen""".stripMargin
    (s"b${tag}_0 AS (SELECT w, CAST(0 AS BIGINT) AS cost, 0 AS np, '' AS path FROM ty)" +:
      levels :+ s"seg$tag AS MATERIALIZED (\n$seg\n)").mkString(",\n")
  }

  /** Shared q150/q151 oracle prefix: word types, weighted char/substring
    * seeds, and `uniRounds` unrolled Viterbi-EM rounds (costs → DP →
    * usage → prune). Numerics are the house integral conventions —
    * whole-bit costs via `length(bin(x))`, BIGINT counts, `(cnt DESC,
    * piece)` rank ties — so every round is engine-bit-identical.
    */
  private def uniTrainSql: String = {
    val sep = "\u001f"
    val head = Seq(
      s"""tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w,
         |         CAST(unnest(range(len(regexp_split_to_array(trim(text), '\\s+')))) AS BIGINT) AS pos
         |  FROM documents
         |)""".stripMargin,
      "ty AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM tok GROUP BY w)",
      s"""cw AS MATERIALIZED (
         |  SELECT substr(w, CAST(i AS INT), 1) AS p, CAST(SUM(wc) AS BIGINT) AS cnt
         |  FROM ty, unnest(range(1, length(w)+1)) AS u(i) GROUP BY 1
         |)""".stripMargin,
      s"""mw AS (
         |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS p, CAST(SUM(wc) AS BIGINT) AS cnt
         |  FROM ty, unnest(range(2, ${uniPieceLen + 1})) AS ul(l), unnest(range(1, length(w)-l+2)) AS ui(i)
         |  GROUP BY 1
         |)""".stripMargin,
      s"""v0 AS MATERIALIZED (
         |  SELECT p, cnt FROM cw
         |  UNION ALL
         |  SELECT p, cnt FROM (SELECT p, cnt FROM mw ORDER BY cnt DESC, p LIMIT $uniSeedSize)
         |)""".stripMargin)
    val rounds = (1 to uniRounds).flatMap { r =>
      Seq(
        s"""c$r AS MATERIALIZED (
           |  SELECT p, length(bin((SELECT SUM(cnt) FROM v${r - 1}))) - length(bin(cnt)) AS cost
           |  FROM v${r - 1}
           |)""".stripMargin,
        uniDpSql(r.toString, s"c$r"),
        s"""u$r AS MATERIALIZED (
           |  SELECT p, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
           |    SELECT unnest(string_split(s.path, '$sep')) AS p, t.wc
           |    FROM seg$r s JOIN ty t USING (w)
           |  ) GROUP BY p
           |)""".stripMargin,
        s"""v$r AS MATERIALIZED (
           |  SELECT c.p, CAST(COALESCE(u.cnt, 0) AS BIGINT) AS cnt FROM cw c LEFT JOIN u$r u USING (p)
           |  UNION ALL
           |  SELECT p, cnt FROM (SELECT p, cnt FROM u$r WHERE length(p) >= 2 ORDER BY cnt DESC, p LIMIT $uniVocabKeep)
           |)""".stripMargin)
    }
    (head ++ rounds).mkString(",\n")
  }

  private def uniTrainOracle: String =
    s"WITH $uniTrainSql\nSELECT p, cnt FROM v$uniRounds ORDER BY p"

  private def uniEncodeOracle: String = {
    val sep = "\u001f"
    val enc = uniRounds + 1
    s"""WITH $uniTrainSql,
       |c$enc AS MATERIALIZED (
       |  SELECT p, length(bin((SELECT SUM(cnt) FROM v$uniRounds))) - length(bin(cnt)) AS cost
       |  FROM v$uniRounds
       |),
       |${uniDpSql(enc.toString, s"c$enc")}
       |SELECT t.doc_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(length(t.w)) AS BIGINT) AS n_chars_sum,
       |       CAST(SUM(len(string_split(s.path, '$sep'))) AS BIGINT) AS n_pieces,
       |       md5(string_agg(s.path, ' ' ORDER BY t.pos)) AS pieces_digest
       |FROM tok t JOIN seg$enc s USING (w)
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** Shared q212/q213 oracle prefix: tokenization, ##-prefixed char-split
    * word types, and `bpeOracleMerges` unrolled WordPiece rounds — symbol
    * counts + adjacent-pair counts → picounit likelihood argmax
    * `(cnt·10¹²) // (ca·cb)` in HUGEINT (exact, mirroring the engine's
    * BigInt) with `(score DESC, c1, c2)` ties → greedy merge application
    * via q95's doubled-separator `replace` trick, the merged symbol being
    * `c1 || strip-##(c2)`. Empty word types carry a bare separator pair
    * (zero symbols), matching the engine's empty symbol list.
    */
  private def wpTrainSql: String = {
    val sep = "\u001f"
    val s1 = s"'$sep'"
    val s2 = s"'$sep$sep'"
    val s3 = s"'$sep$sep$sep'"
    val head =
      s"""tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w,
         |         CAST(unnest(range(len(regexp_split_to_array(trim(text), '\\s+')))) AS BIGINT) AS pos
         |  FROM documents
         |),
         |wv0 AS MATERIALIZED (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc,
         |         CASE WHEN length(w) = 0 THEN $s2
         |              ELSE $s2 || array_to_string(list_prepend(w[1:1],
         |                list_transform(range(2, length(w)+1), i -> '##' || w[i:i])), $s2) || $s2
         |         END AS seq
         |  FROM tok GROUP BY w
         |)""".stripMargin
    val rounds = (1 to bpeOracleMerges).map { r =>
      s"""wsym$r AS MATERIALIZED (
         |  SELECT x AS sym, CAST(SUM(wc) AS BIGINT) AS cnt
         |  FROM (SELECT wc, unnest(list_filter(string_split(seq, $s2), x -> x <> '')) AS x FROM wv${r - 1})
         |  GROUP BY x
         |),
         |wp$r AS MATERIALIZED (
         |  SELECT l[i] AS c1, l[i+1] AS c2, CAST(SUM(wc) AS BIGINT) AS cnt
         |  FROM (SELECT wc, list_filter(string_split(seq, $s2), x -> x <> '') AS l FROM wv${r - 1}),
         |       unnest(range(1, len(l))) AS u(i)
         |  GROUP BY 1, 2
         |),
         |wm$r AS MATERIALIZED (
         |  SELECT c1, c2, cnt, ca, cb,
         |         CAST((CAST(cnt AS HUGEINT) * 1000000000000) // (CAST(ca AS HUGEINT) * cb) AS BIGINT) AS score,
         |         c1 || CASE WHEN c2 LIKE '##%' THEN substr(c2, 3) ELSE c2 END AS merged
         |  FROM (SELECT p.c1, p.c2, p.cnt, a.cnt AS ca, b.cnt AS cb
         |        FROM wp$r p JOIN wsym$r a ON a.sym = p.c1 JOIN wsym$r b ON b.sym = p.c2)
         |  ORDER BY score DESC, c1, c2 LIMIT 1
         |),
         |wv$r AS MATERIALIZED (
         |  SELECT w, wc,
         |         replace(seq,
         |           coalesce($s1 || (SELECT c1 FROM wm$r) || $s2 || (SELECT c2 FROM wm$r) || $s1, $s3),
         |           coalesce($s1 || (SELECT merged FROM wm$r) || $s1, $s3)) AS seq
         |  FROM wv${r - 1}
         |)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  private def wpTrainOracle: String = {
    val unions = (1 to bpeOracleMerges).map { r =>
      s"  SELECT ${r - 1} AS rank, c1, c2, merged, cnt, ca, cb, score FROM wm$r"
    }.mkString("\n  UNION ALL\n")
    s"WITH $wpTrainSql\nSELECT * FROM (\n$unions\n) ORDER BY rank"
  }

  /** q213's encode replay prefix, shared with the q196 scorecard: the
    * training-induced vocabulary (corpus alphabet + one token per
    * merge), then the greedy longest-match unrolled by consumed-prefix
    * length — `wg{k}` holds each word type whose unique greedy path
    * reaches offset k, `wc{k}` its longest vocabulary match there
    * (`ROW_NUMBER` over candidate lengths DESC); a word that stalls at
    * any reached offset is `[UNK]`, matching
    * [[graft.expressions.WordpieceEncode]]. Ends in `wseg(w, path)`.
    */
  private def wpPiecesSql: String = {
    val sep = "\u001f"
    val maxLen = uniMaxWordLen
    val mergeUnions = (1 to bpeOracleMerges)
      .map(r => s"    SELECT merged AS p FROM wm$r")
      .mkString("\n    UNION ALL\n")
    val vocabCte =
      s"""alpha AS MATERIALIZED (
         |  SELECT DISTINCT CASE WHEN i = 1 THEN w[1:1] ELSE '##' || w[CAST(i AS INT):CAST(i AS INT)] END AS p
         |  FROM (SELECT w FROM wv0 WHERE length(w) >= 1), unnest(range(1, length(w)+1)) AS u(i)
         |),
         |wvocab AS MATERIALIZED (
         |  SELECT DISTINCT p FROM (
         |    SELECT p FROM alpha
         |    UNION ALL
         |$mergeUnions
         |  )
         |)""".stripMargin
    // Interleaved: wc{k} (the choice at offset k) references wg{k}, and
    // wg{m} (reachers of offset m) references every wc{k<m} — CTEs may
    // only look backward, so the emission order is wg0, wc0, wg1, wc1, …
    val walk = (0 until maxLen).flatMap { k =>
      val pfx = if (k == 0) "''" else "'##'"
      val choice =
        s"""wc$k AS MATERIALIZED (
           |  SELECT w, path, piece, i FROM (
           |    SELECT g.w, g.path, v.p AS piece, u.i,
           |           ROW_NUMBER() OVER (PARTITION BY g.w ORDER BY u.i DESC) AS rn
           |    FROM wg$k g
           |    CROSS JOIN unnest(range(1, ${maxLen - k + 1})) AS u(i)
           |    JOIN wvocab v ON v.p = $pfx || substr(g.w, ${k + 1}, CAST(u.i AS INT))
           |    WHERE length(g.w) >= ${k} + u.i
           |  ) WHERE rn = 1
           |)""".stripMargin
      val m = k + 1
      val feeders = (0 until m).map { j =>
        s"    SELECT w, path, piece FROM wc$j WHERE i = ${m - j}"
      }.mkString("\n    UNION ALL\n")
      val state =
        s"""wg$m AS MATERIALIZED (
           |  SELECT w, CASE WHEN path = '' THEN piece ELSE path || '$sep' || piece END AS path
           |  FROM (
           |$feeders
           |  )
           |)""".stripMargin
      Seq(choice, state)
    }
    val unkUnions = (0 until maxLen).map { k =>
      s"""    SELECT g.w FROM wg$k g WHERE length(g.w) > $k
         |      AND NOT EXISTS (SELECT 1 FROM wc$k c WHERE c.w = g.w)""".stripMargin
    }.mkString("\n    UNION ALL\n")
    val segUnions = (1 to maxLen)
      .map(m => s"    SELECT w, path FROM wg$m WHERE length(w) = $m")
      .mkString("\n    UNION ALL\n")
    s"""$wpTrainSql,
       |$vocabCte,
       |wg0 AS MATERIALIZED (SELECT w, '' AS path FROM wv0 WHERE length(w) >= 1),
       |${walk.mkString(",\n")},
       |wunk AS MATERIALIZED (
       |  SELECT DISTINCT w FROM (
       |$unkUnions
       |  )
       |),
       |wseg AS MATERIALIZED (
       |  SELECT w, path FROM (
       |$segUnions
       |  ) WHERE w NOT IN (SELECT w FROM wunk)
       |  UNION ALL
       |  SELECT w, '' AS path FROM wv0 WHERE length(w) = 0
       |  UNION ALL
       |  SELECT w, '[UNK]' AS path FROM wunk
       |  UNION ALL
       |  -- Loud bound check: the greedy walk above is unrolled only to
       |  -- offset $maxLen, so a longer corpus word would silently vanish
       |  -- from wseg (and the join would DROP it while the engine encodes
       |  -- it). error() fires iff such a word exists.
       |  SELECT error('corpus word longer than the oracle unroll bound $maxLen: ' || w) AS w,
       |         '' AS path
       |  FROM wv0 WHERE length(w) > $maxLen
       |)""".stripMargin
  }

  private def wpEncodeOracle: String = {
    val sep = "\u001f"
    s"""WITH $wpPiecesSql
       |SELECT t.doc_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(length(t.w)) AS BIGINT) AS n_chars_sum,
       |       CAST(SUM(CASE WHEN s.path = '' THEN 0
       |                     ELSE len(string_split(s.path, '$sep')) END) AS BIGINT) AS n_pieces,
       |       md5(string_agg(s.path, ' ' ORDER BY t.pos)) AS pieces_digest
       |FROM tok t JOIN wseg s USING (w)
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** Mirrors q196: all THREE tokenizer families' full train+encode
    * chains, each scoped inside its OWN subquery-level WITH (the chains
    * share CTE names like `tok`/`ty` — subquery scoping keeps them
    * apart), aggregated to the per-family compression scorecard.
    */
  private def tokenizerScorecardOracle: String = {
    val sep = "\u001f"
    val enc = uniRounds + 1
    s"""SELECT * FROM (
       |SELECT 'bpe' AS family, b.* FROM (
       |  WITH $bpePiecesSql,
       |  j AS MATERIALIZED (
       |    SELECT t.w, p.pl FROM tok t JOIN pieces p USING (w)
       |  ),
       |  t1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
       |                CAST(SUM(length(w)) AS BIGINT) AS n_chars,
       |                CAST(SUM(len(pl)) AS BIGINT) AS n_pieces FROM j),
       |  t2 AS (SELECT CAST(COUNT(DISTINCT piece) AS BIGINT) AS distinct_pieces
       |         FROM (SELECT unnest(pl) AS piece FROM j))
       |  SELECT t1.n_words, t1.n_chars, t1.n_pieces, t2.distinct_pieces,
       |         CASE WHEN t1.n_pieces > 0
       |              THEN CAST((1000000 * t1.n_chars) // t1.n_pieces AS BIGINT)
       |         END AS cpp_ppm
       |  FROM t1 CROSS JOIN t2
       |) b
       |UNION ALL
       |SELECT 'unigram' AS family, u.* FROM (
       |  WITH $uniTrainSql,
       |  c$enc AS MATERIALIZED (
       |    SELECT p, length(bin((SELECT SUM(cnt) FROM v$uniRounds))) - length(bin(cnt)) AS cost
       |    FROM v$uniRounds
       |  ),
       |  ${uniDpSql(enc.toString, s"c$enc")},
       |  j AS MATERIALIZED (
       |    SELECT t.w, string_split(s.path, '$sep') AS pl
       |    FROM tok t JOIN seg$enc s USING (w)
       |  ),
       |  t1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
       |                CAST(SUM(length(w)) AS BIGINT) AS n_chars,
       |                CAST(SUM(len(pl)) AS BIGINT) AS n_pieces FROM j),
       |  t2 AS (SELECT CAST(COUNT(DISTINCT piece) AS BIGINT) AS distinct_pieces
       |         FROM (SELECT unnest(pl) AS piece FROM j))
       |  SELECT t1.n_words, t1.n_chars, t1.n_pieces, t2.distinct_pieces,
       |         CASE WHEN t1.n_pieces > 0
       |              THEN CAST((1000000 * t1.n_chars) // t1.n_pieces AS BIGINT)
       |         END AS cpp_ppm
       |  FROM t1 CROSS JOIN t2
       |) u
       |UNION ALL
       |SELECT 'byte_bpe' AS family, bb.* FROM (
       |  WITH ${byteBpePiecesSql()},
       |  j AS MATERIALIZED (
       |    SELECT t.w, p.pl FROM bbtok t JOIN bbpieces p USING (w)
       |  ),
       |  t1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
       |                CAST(SUM(length(w)) AS BIGINT) AS n_chars,
       |                CAST(SUM(len(pl)) AS BIGINT) AS n_pieces FROM j),
       |  t2 AS (SELECT CAST(COUNT(DISTINCT piece) AS BIGINT) AS distinct_pieces
       |         FROM (SELECT unnest(pl) AS piece FROM j))
       |  SELECT t1.n_words, t1.n_chars, t1.n_pieces, t2.distinct_pieces,
       |         CASE WHEN t1.n_pieces > 0
       |              THEN CAST((1000000 * t1.n_chars) // t1.n_pieces AS BIGINT)
       |         END AS cpp_ppm
       |  FROM t1 CROSS JOIN t2
       |) bb
       |UNION ALL
       |SELECT 'wordpiece' AS family, wpf.* FROM (
       |  WITH $wpPiecesSql,
       |  j AS MATERIALIZED (
       |    SELECT t.w, CASE WHEN s.path = '' THEN CAST([] AS VARCHAR[])
       |                     ELSE string_split(s.path, '$sep') END AS pl
       |    FROM tok t JOIN wseg s USING (w)
       |  ),
       |  t1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
       |                CAST(SUM(length(w)) AS BIGINT) AS n_chars,
       |                CAST(SUM(len(pl)) AS BIGINT) AS n_pieces FROM j),
       |  t2 AS (SELECT CAST(COUNT(DISTINCT piece) AS BIGINT) AS distinct_pieces
       |         FROM (SELECT unnest(pl) AS piece FROM j))
       |  SELECT t1.n_words, t1.n_chars, t1.n_pieces, t2.distinct_pieces,
       |         CASE WHEN t1.n_pieces > 0
       |              THEN CAST((1000000 * t1.n_chars) // t1.n_pieces AS BIGINT)
       |         END AS cpp_ppm
       |  FROM t1 CROSS JOIN t2
       |) wpf
       |) ORDER BY family""".stripMargin
  }

  /** Mirrors q198: per-side 60-bit-md5 k-minima, the merged union
    * sketch, and the fixed-association double estimators — the
    * `(k−1)·2⁶⁰` constant is interpolated as the exact double literal
    * both engines parse identically.
    */
  private def kmvOverlapOracle(k: Int): String = {
    val c = (k - 1).toDouble * math.pow(2, 60)
    s"""WITH ma AS (
       |  SELECT DISTINCT CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |  FROM lineitem ORDER BY h LIMIT $k
       |),
       |mb AS (
       |  SELECT DISTINCT CAST('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |  FROM part ORDER BY h LIMIT $k
       |),
       |u AS (
       |  SELECT DISTINCT h FROM (SELECT h FROM ma UNION ALL SELECT h FROM mb)
       |  ORDER BY h LIMIT $k
       |),
       |c AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS k_common FROM u
       |  WHERE h IN (SELECT h FROM ma) AND h IN (SELECT h FROM mb)
       |),
       |t AS (SELECT CAST(MAX(h) AS BIGINT) AS kth, CAST(COUNT(*) AS BIGINT) AS k_union FROM u),
       |d AS (
       |  SELECT k_union, k_common, kth,
       |         CASE WHEN k_union < $k THEN CAST(k_union AS DOUBLE)
       |              ELSE $c / CAST(kth AS DOUBLE) END AS est_union
       |  FROM t CROSS JOIN c
       |)
       |SELECT k_union, k_common, kth,
       |       CASE WHEN k_union > 0 THEN CAST((1000000 * k_common) // k_union AS BIGINT) END AS jaccard_ppm,
       |       est_union,
       |       CASE WHEN k_union > 0
       |            THEN (CAST(k_common AS DOUBLE) * est_union) / CAST(k_union AS DOUBLE)
       |       END AS est_common
       |FROM d ORDER BY k_union""".stripMargin
  }

  /** Shared q200/q201 fragment: the dHash replay from text codepoints
    * (ASCII contract — bytes ≡ chars), ending in `dh(doc_id, n_px,
    * dhash)` with empty rasters at hash 0.
    */
  private val dHashSql: String =
    """u AS (
      |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n,
      |         unnest(list_transform(range(1, length(text)+1), i -> unicode(text[i:i]))) AS px,
      |         CAST(unnest(range(0, length(text))) AS BIGINT) AS pos
      |  FROM documents
      |),
      |seg AS (
      |  SELECT doc_id, n, (pos * 33) // n AS s,
      |         CAST(SUM(px) AS BIGINT) AS sm, CAST(COUNT(*) AS BIGINT) AS ct
      |  FROM u GROUP BY doc_id, n, s
      |),
      |bits AS (
      |  SELECT a.doc_id,
      |         CAST(SUM(CASE WHEN a.sm * b.ct > b.sm * a.ct
      |                       THEN (CAST(1 AS BIGINT) << CAST(a.s AS INT))
      |                       ELSE 0 END) AS BIGINT) AS h
      |  FROM seg a JOIN seg b ON b.doc_id = a.doc_id AND b.s = a.s + 1
      |  GROUP BY a.doc_id
      |),
      |dh AS (
      |  SELECT d.doc_id,
      |         CAST(octet_length(encode(d.text)) AS BIGINT) AS n_px,
      |         CAST(COALESCE(b.h, 0) AS BIGINT) AS dhash
      |  FROM documents d LEFT JOIN bits b ON b.doc_id = d.doc_id
      |)""".stripMargin

  private def bpeMergesOracle: String = {
    val union = (1 to bpeOracleMerges)
      .map(r => s"SELECT ${r - 1} AS rank, c1, c2, cnt FROM m$r")
      .mkString(" UNION ALL ")
    s"WITH $bpeTrainSql\n" +
      s"SELECT CAST(rank AS INT) AS rank, c1, c2, cnt FROM ($union) ORDER BY rank"
  }

  /** Shared q96/q196 CTE chain: BPE train + per-word-type greedy
    * encode, ending in `pieces(w, pl)` next to `tok`. */
  private def bpePiecesSql: String = {
    val sep = "\u001f"
    val s1 = s"'$sep'"
    val s2 = s"'$sep$sep'"
    // Same exhausted-round no-op guard as the training chain: an empty
    // m$r must not NULL-poison the encode sequences.
    val s3 = s"'$sep$sep$sep'"
    val encodeRounds = (1 to bpeOracleMerges).map { r =>
      s"""e$r AS MATERIALIZED (
         |  SELECT w, replace(seq,
         |           coalesce($s1 || (SELECT c1 FROM m$r) || $s2 || (SELECT c2 FROM m$r) || $s1, $s3),
         |           coalesce($s1 || (SELECT c1 FROM m$r) || (SELECT c2 FROM m$r) || $s1, $s3)) AS seq
         |  FROM e${r - 1}
         |)""".stripMargin
    }.mkString(",\n")
    s"""$bpeTrainSql,
       |e0 AS MATERIALIZED (
       |  SELECT w,
       |         $s2 || array_to_string(list_transform(range(1, length(w)+1), i -> w[i:i]), $s2) || $s2 AS seq
       |  FROM (SELECT DISTINCT w FROM tok)
       |),
       |$encodeRounds,
       |pieces AS MATERIALIZED (
       |  SELECT w, list_filter(string_split(seq, $s2), x -> x <> '') AS pl FROM e$bpeOracleMerges
       |)""".stripMargin
  }

  private def bpeEncodeOracle: String = {
    val sep = "\u001f"
    val s1 = s"'$sep'"
    s"""WITH $bpePiecesSql
       |SELECT t.doc_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(length(t.w)) AS BIGINT) AS n_chars_sum,
       |       CAST(SUM(len(p.pl)) AS BIGINT) AS n_pieces,
       |       md5(string_agg(array_to_string(p.pl, $s1), ' ' ORDER BY t.pos)) AS pieces_digest
       |FROM tok t JOIN pieces p USING (w)
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** Mirrors q217: the deterministic sign-LSH bucket replay (q29's plane
    * literals) joined to labels, majority cell per bucket by
    * `(cnt DESC, label)`, exact-ppm purity.
    */
  private def clusterPurityOracle: String = {
    val planes = graft.operators.Similarity
      .hyperplanes(graft.operators.Similarity.DefaultNumPlanes, 64)
      .map(_.map(c => math.floor(c * 1000000).toLong))
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = p.mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, 65), ii -> qe[ii] * ($planeLit)[ii])) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n         + ")
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
       |  FROM embeddings
       |),
       |b AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |             CAST($bucketExpr AS BIGINT) AS cluster FROM e),
       |cell AS (
       |  SELECT cluster, label, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM b GROUP BY 1, 2
       |),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY cnt DESC, label) AS rn,
       |         CAST(SUM(cnt) OVER (PARTITION BY cluster) AS BIGINT) AS n
       |  FROM cell
       |)
       |SELECT cluster, n, label AS top_label, cnt AS n_top,
       |       (1000000 * cnt) // n AS purity_ppm
       |FROM r WHERE rn = 1
       |ORDER BY cluster""".stripMargin
  }

  /** The 1-bit multi-probe mask list literal (q29's convention). */
  private def lshProbeMaskListSql: String =
    graft.operators.Similarity
      .probeMasks(graft.operators.Similarity.DefaultNumPlanes, probeBits = 1)
      .mkString("[", ",", "]")

  private def annLshOracle: String = {
    val planes = graft.operators.Similarity
      .hyperplanes(graft.operators.Similarity.DefaultNumPlanes, 64)
      .map(_.map(c => math.floor(c * 1000000).toLong))
    val probeMaskList = graft.operators.Similarity
      .probeMasks(graft.operators.Similarity.DefaultNumPlanes, probeBits = 1)
      .mkString("[", ",", "]")
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = p.mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, 65), ii -> qe[ii] * ($planeLit)[ii])) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n         + ")
    s"""WITH e AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
       |  FROM embeddings
       |),
       |b AS (SELECT vec_id, qe, $bucketExpr AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, qe AS q_qe, bucket FROM b WHERE vec_id < 10),
       |probes AS (
       |  SELECT query_id, q_qe, xor(bucket, m) AS bucket
       |  FROM q CROSS JOIN (SELECT unnest($probeMaskList) AS m)
       |),
       |scored AS (
       |  SELECT probes.query_id, b.vec_id,
       |         CAST(list_sum(list_transform(range(1, 65), ii -> b.qe[ii] * probes.q_qe[ii])) AS BIGINT) AS dp
       |  FROM b JOIN probes USING (bucket)
       |  WHERE b.vec_id <> probes.query_id
       |),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dp DESC, vec_id) AS INT) AS rnk
       |  FROM scored
       |)
       |SELECT query_id, vec_id AS neighbor_id, rnk, dp FROM r WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Mirrors [[graft.operators.Similarity.embedNearDupAgainst]]: kept =
    * vec_id < 250, snapshot = the rest; snapshot side multi-probes the
    * kept sign-LSH buckets, exact quantized cosine (snapshot-norm first,
    * matching the Spark operand order bit-for-bit), best kept match per
    * flagged snapshot vector with the lowest-kept-id tie-break.
    */
  private def embedNearDupOracle: String = {
    val planes = graft.operators.Similarity
      .hyperplanes(graft.operators.Similarity.DefaultNumPlanes, 64)
      .map(_.map(c => math.floor(c * 1000000).toLong))
    val probeMaskList = graft.operators.Similarity
      .probeMasks(graft.operators.Similarity.DefaultNumPlanes, probeBits = 1)
      .mkString("[", ",", "]")
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = p.mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, 65), ii -> qe[ii] * ($planeLit)[ii])) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n         + ")
    s"""WITH e AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
       |  FROM embeddings
       |),
       |b AS (
       |  SELECT vec_id, qe,
       |         CAST(list_sum(list_transform(range(1, 65), ii -> qe[ii] * qe[ii])) AS BIGINT) AS n2,
       |         $bucketExpr AS bucket
       |  FROM e
       |),
       |kept AS (SELECT vec_id AS kept_id, qe AS k_qe, n2 AS k_n2, bucket FROM b WHERE vec_id < 250),
       |snap AS (
       |  SELECT vec_id, qe AS s_qe, n2 AS s_n2, xor(bucket, m) AS bucket
       |  FROM b CROSS JOIN (SELECT unnest($probeMaskList) AS m)
       |  WHERE vec_id >= 250
       |),
       |scored AS (
       |  SELECT snap.vec_id, kept.kept_id,
       |         CAST(list_sum(list_transform(range(1, 65), ii -> snap.s_qe[ii] * kept.k_qe[ii])) AS BIGINT) AS dp,
       |         snap.s_n2, kept.k_n2
       |  FROM kept JOIN snap USING (bucket)
       |),
       |cos AS (
       |  SELECT vec_id, kept_id, dp,
       |         CAST(dp AS DOUBLE) / (sqrt(CAST(s_n2 AS DOUBLE)) * sqrt(CAST(k_n2 AS DOUBLE))) AS cosine
       |  FROM scored
       |),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, kept_id) AS rnk
       |  FROM cos
       |  WHERE cosine >= 0.2
       |)
       |SELECT vec_id, kept_id AS match_id, dp, cosine FROM r WHERE rnk = 1
       |ORDER BY vec_id""".stripMargin
  }

  /** Mirrors [[graft.operators.Similarity.semanticDedup]]: sign-LSH
    * buckets from the same deterministic quantized hyperplanes, pairs
    * within a bucket at exact quantized cosine ≥ 0.2, each vector's
    * verdict from its lowest-id qualifying bucket-mate.
    */
  private def semanticDedupOracle: String = {
    val planes = graft.operators.Similarity
      .hyperplanes(graft.operators.Similarity.DefaultNumPlanes, 64)
      .map(_.map(c => math.floor(c * 1000000).toLong))
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = p.mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, 65), ii -> qe[ii] * ($planeLit)[ii])) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n         + ")
    s"""WITH e AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
       |  FROM embeddings
       |),
       |b AS (
       |  SELECT vec_id, qe,
       |         CAST(list_sum(list_transform(range(1, 65), ii -> qe[ii] * qe[ii])) AS BIGINT) AS n2,
       |         $bucketExpr AS bucket
       |  FROM e
       |),
       |p AS (
       |  SELECT a.vec_id, lo.vec_id AS dup_id,
       |         CAST(list_sum(list_transform(range(1, 65), ii -> a.qe[ii] * lo.qe[ii])) AS BIGINT) AS dp,
       |         a.n2 AS n2a, lo.n2 AS n2d
       |  FROM b a JOIN b lo ON a.bucket = lo.bucket AND lo.vec_id < a.vec_id
       |),
       |c AS (
       |  SELECT vec_id, dup_id, dp,
       |         CAST(dp AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2d AS DOUBLE))) AS cosine
       |  FROM p
       |),
       |best AS (
       |  SELECT vec_id, dup_id AS dup_of, dp, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dup_id) AS rn
       |  FROM c WHERE cosine >= 0.2
       |)
       |SELECT e.vec_id, f.dup_of IS NULL AS kept, f.dup_of, f.dp, f.cosine
       |FROM e LEFT JOIN (SELECT * FROM best WHERE rn = 1) f ON e.vec_id = f.vec_id
       |ORDER BY e.vec_id""".stripMargin
  }

  /** Mirrors q136: sign-LSH co-bucket edges over the embedding corpus,
    * then [[graft.operators.Graphs.pageRank]]'s scaled-integer recurrence
    * unrolled one MATERIALIZED CTE per iteration (contribution sum +
    * rank refresh) — exact BIGINT arithmetic, `//` floor division
    * matching Spark's `div` on the nonnegative ranks.
    */
  /** The sign-LSH bucket id over a quantized `qe` column, as SQL — the
    * same planes/quantization as [[graft.operators.Similarity
    * .signBuckets]] (shared by the annLsh / pageRank / bitext oracles).
    */
  private def lshBucketExprSql: String = {
    val planes = graft.operators.Similarity
      .hyperplanes(graft.operators.Similarity.DefaultNumPlanes, 64)
      .map(_.map(c => math.floor(c * 1000000).toLong))
    planes.zipWithIndex.map { case (p, i) =>
      val planeLit = p.mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, 65), ii -> qe[ii] * ($planeLit)[ii])) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n         + ")
  }

  /** Mirrors q155: [[graft.operators.Similarity.marginBitextPairs]] —
    * co-bucket candidates, exact integer dots, lo-shifted top-k
    * neighborhood averages, absolute margin, mutual argmax.
    */
  private def bitextOracle: String = {
    val k = 4
    val P = 1000000000000000L
    s"""WITH eq AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
       |  FROM embeddings
       |),
       |b AS (
       |  SELECT vec_id, label, qe,
       |         $lshBucketExprSql AS bucket
       |  FROM eq
       |),
       |cand AS MATERIALIZED (
       |  SELECT a.vec_id AS a_id, c.vec_id AS b_id,
       |         CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * c.qe[i])) AS BIGINT) AS dp
       |  FROM b a JOIN b c ON a.bucket = c.bucket
       |  WHERE a.label % 2 = 0 AND c.label % 2 <> 0
       |),
       |rn AS (
       |  SELECT a_id, b_id, dp,
       |         ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY dp DESC, b_id) AS rna,
       |         ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY dp DESC, a_id) AS rnb
       |  FROM cand
       |),
       |aa AS (SELECT a_id, CAST(-$P + (SUM(dp) + COUNT(*) * $P) // COUNT(*) AS BIGINT) AS avg_a
       |       FROM rn WHERE rna <= $k GROUP BY a_id),
       |ab AS (SELECT b_id, CAST(-$P + (SUM(dp) + COUNT(*) * $P) // COUNT(*) AS BIGINT) AS avg_b
       |       FROM rn WHERE rnb <= $k GROUP BY b_id),
       |m AS (
       |  SELECT c.a_id, c.b_id, c.dp, CAST(2 * c.dp - aa.avg_a - ab.avg_b AS BIGINT) AS margin2
       |  FROM cand c JOIN aa USING (a_id) JOIN ab USING (b_id)
       |),
       |f AS (
       |  SELECT a_id, b_id, dp, margin2,
       |         ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY margin2 DESC, b_id) AS ma,
       |         ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY margin2 DESC, a_id) AS mb
       |  FROM m
       |)
       |SELECT a_id, b_id, dp, margin2 FROM f
       |WHERE ma = 1 AND mb = 1 AND margin2 > 0
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Mirrors q194: [[graft.operators.Similarity.topPcVector]]'s integer
    * power iteration replayed as one MATERIALIZED CTE round per
    * iteration over the (k, l, c) covariance matrix (each round
    * references the previous vector twice — unmaterialized, the chain
    * would inline exponentially), then the per-vector projection via
    * the parallel-unnest ordinality idiom.
    */
  private def topPcOracle(iters: Int, compScale: Long): String = {
    val rounds = (1 to iters).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT m.k, SUM(m.c * v.val) AS wv
         |  FROM m JOIN v${t - 1} v ON v.k = m.l GROUP BY m.k
         |),
         |mx$t AS (SELECT MAX(ABS(wv)) AS mx FROM w$t),
         |v$t AS MATERIALIZED (
         |  SELECT w.k,
         |         CASE WHEN x.mx = 0 THEN p.val
         |              WHEN w.wv < 0 THEN -(((-w.wv) * $compScale) // x.mx)
         |              ELSE (w.wv * $compScale) // x.mx END AS val
         |  FROM w$t w CROSS JOIN mx$t x JOIN v${t - 1} p ON p.k = w.k
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $quantizedEmbeddings,
       |g AS MATERIALIZED (
       |  SELECT i.i AS di, j.j AS dj,
       |         CAST(COUNT(*) AS BIGINT) AS nv,
       |         CAST(SUM(qe[CAST(i.i AS INT) + 1]) AS BIGINT) AS si,
       |         CAST(SUM(qe[CAST(j.j AS INT) + 1]) AS BIGINT) AS sj,
       |         CAST(SUM(qe[CAST(i.i AS INT) + 1] * qe[CAST(j.j AS INT) + 1]) AS BIGINT) AS sp
       |  FROM n
       |  CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
       |  CROSS JOIN (SELECT unnest(range(0, 64)) AS j) j
       |  WHERE i.i <= j.j
       |  GROUP BY di, dj
       |),
       |m AS MATERIALIZED (
       |  SELECT di AS k, dj AS l,
       |         CAST(nv AS HUGEINT)*sp - CAST(si AS HUGEINT)*sj AS c
       |  FROM g
       |  UNION ALL
       |  SELECT dj, di, CAST(nv AS HUGEINT)*sp - CAST(si AS HUGEINT)*sj
       |  FROM g WHERE di <> dj
       |),
       |d0 AS (SELECT k FROM m WHERE k = l ORDER BY c DESC, k LIMIT 1),
       |v0 AS MATERIALIZED (
       |  SELECT k, CASE WHEN k = (SELECT k FROM d0)
       |                 THEN CAST($compScale AS HUGEINT)
       |                 ELSE CAST(0 AS HUGEINT) END AS val
       |  FROM (SELECT DISTINCT k FROM m) kk
       |),
       |$rounds,
       |km AS (SELECT k FROM v$iters ORDER BY ABS(val) DESC, k LIMIT 1),
       |sg AS (SELECT CASE WHEN (SELECT val FROM v$iters
       |                         WHERE k = (SELECT k FROM km)) < 0
       |              THEN -1 ELSE 1 END AS s),
       |vf AS MATERIALIZED (
       |  SELECT v.k, v.val * (SELECT s FROM sg) AS val FROM v$iters v
       |),
       |u AS (
       |  SELECT vec_id, unnest(qe) AS q, unnest(range(len(qe))) AS kk FROM n
       |),
       |p AS (
       |  SELECT u.vec_id, CAST(SUM(CAST(u.q AS HUGEINT) * vf.val) AS BIGINT) AS proj
       |  FROM u JOIN vf ON vf.k = u.kk GROUP BY u.vec_id
       |),
       |tot AS (
       |  SELECT (SELECT CAST(MAX(nv) AS HUGEINT) FROM g) AS nn,
       |         (SELECT SUM(CAST(gg.si AS HUGEINT) * vf.val)
       |          FROM g gg JOIN vf ON vf.k = gg.di WHERE gg.di = gg.dj) AS vs
       |)
       |SELECT p.vec_id, p.proj,
       |       CAST(tot.nn * p.proj - tot.vs AS BIGINT) AS proj_centered_xn
       |FROM p CROSS JOIN tot ORDER BY p.vec_id""".stripMargin
  }

  /** Mirrors q191: [[graft.sources.Sinks.withHilbertValue]]'s 21-level
    * quadrant walk unrolled as one MATERIALIZED CTE per level (each
    * level references the previous level's rotated coordinates twice —
    * unmaterialized, DuckDB's CTE inlining would expand the chain
    * exponentially), then q187's rank/bucket/bounding-box tail verbatim.
    */
  private def hilbertOracle: String = {
    val bits = 21
    val n = 1L << bits
    val steps = ((bits - 1) to 0 by -1).zipWithIndex.map { case (lvl, i) =>
      val s = 1L << lvl
      s"""h${i + 1} AS MATERIALIZED (
         |  SELECT zx, zy,
         |         hd + ${s * s} * xor(3 * (CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END),
         |                             (CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)) AS hd,
         |         CASE WHEN (hy & $s) = 0
         |              THEN (CASE WHEN (hx & $s) > 0 THEN ${n - 1} - hy ELSE hy END)
         |              ELSE hx END AS hx,
         |         CASE WHEN (hy & $s) = 0
         |              THEN (CASE WHEN (hx & $s) > 0 THEN ${n - 1} - hx ELSE hx END)
         |              ELSE hy END AS hy
         |  FROM h$i
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH h0 AS (
       |  SELECT CAST(l_partkey AS BIGINT) AS zx, CAST(l_suppkey AS BIGINT) AS zy,
       |         CAST(0 AS BIGINT) AS hd,
       |         CAST(l_partkey AS BIGINT) AS hx, CAST(l_suppkey AS BIGINT) AS hy
       |  FROM lineitem
       |),
       |$steps,
       |r AS (
       |  SELECT zx, zy,
       |         CAST(ROW_NUMBER() OVER (ORDER BY hd, zx, zy) AS BIGINT) AS rnk,
       |         CAST(COUNT(*) OVER () AS BIGINT) AS total
       |  FROM h$bits
       |)
       |SELECT CAST(((rnk - 1) * 32) // total AS INT) AS bucket,
       |       CAST(COUNT(*) AS BIGINT) AS n,
       |       MIN(zx) AS min_x, MAX(zx) AS max_x,
       |       MIN(zy) AS min_y, MAX(zy) AS max_y
       |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  /** Mirrors q188: [[graft.operators.Graphs.hits]]'s fixpoint replayed as
    * unrolled MATERIALIZED CTEs — per round one authority sum + integer
    * renormalization (divide by `max_raw // scale`), then the hub twin.
    * All BIGINT; `//` floors and Spark `div` truncates, agreeing on the
    * nonnegative operands.
    */
  private def hitsOracle: String = {
    val iters = 4
    val scale = 1000000000L
    val rounds = (1 to iters).map { t =>
      s"""ar$t AS (
         |  SELECT e.dst AS id, CAST(SUM(h.h) AS BIGINT) AS v
         |  FROM e JOIN h${t - 1} h ON h.id = e.src GROUP BY e.dst
         |),
         |an$t AS MATERIALIZED (
         |  SELECT id, CAST(v // GREATEST(1, (SELECT MAX(v) FROM ar$t) // $scale) AS BIGINT) AS a
         |  FROM ar$t
         |),
         |hr$t AS (
         |  SELECT e.src AS id, CAST(SUM(a.a) AS BIGINT) AS v
         |  FROM e JOIN an$t a ON a.id = e.dst GROUP BY e.src
         |),
         |h$t AS MATERIALIZED (
         |  SELECT id, CAST(v // GREATEST(1, (SELECT MAX(v) FROM hr$t) // $scale) AS BIGINT) AS h
         |  FROM hr$t
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src, CAST(l_partkey AS BIGINT) AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |),
       |hubs AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg FROM e GROUP BY src),
       |auths AS MATERIALIZED (SELECT dst, CAST(COUNT(*) AS BIGINT) AS ideg FROM e GROUP BY dst),
       |h0 AS (SELECT src AS id, CAST($scale AS BIGINT) AS h FROM hubs),
       |$rounds
       |SELECT h.id, 'hub' AS kind, hubs.odeg AS deg, h.h AS score_scaled
       |FROM h$iters h JOIN hubs ON hubs.src = h.id
       |UNION ALL
       |SELECT a.id, 'auth' AS kind, auths.ideg AS deg, a.a AS score_scaled
       |FROM an$iters a JOIN auths ON auths.dst = a.id
       |ORDER BY kind, id""".stripMargin
  }

  private def pageRankOracle: String = {
    val planes = graft.operators.Similarity
      .hyperplanes(graft.operators.Similarity.DefaultNumPlanes, 64)
      .map(_.map(c => math.floor(c * 1000000).toLong))
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = p.mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, 65), ii -> qe[ii] * ($planeLit)[ii])) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n         + ")
    val iters = 4
    val scale = 1000000000000L
    val base = scale * 15L / 100L
    val rounds = (1 to iters).map { t =>
      s"""c$t AS (
         |  SELECT e.dst AS id, CAST(SUM(r.r * 85 // (100 * d.deg)) AS BIGINT) AS s
         |  FROM e JOIN r${t - 1} r ON r.id = e.src JOIN d ON d.src = e.src
         |  GROUP BY e.dst
         |),
         |r$t AS MATERIALIZED (
         |  SELECT n.src AS id, CAST($base + COALESCE(c.s, 0) AS BIGINT) AS r
         |  FROM d n LEFT JOIN c$t c ON c.id = n.src
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH eq AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
       |  FROM embeddings
       |),
       |b AS (
       |  SELECT vec_id,
       |         $bucketExpr AS bucket
       |  FROM eq
       |),
       |pairs AS (
       |  SELECT a.vec_id AS src, c.vec_id AS dst
       |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |),
       |e AS MATERIALIZED (
       |  SELECT src, dst FROM pairs
       |  UNION
       |  SELECT dst AS src, src AS dst FROM pairs
       |),
       |d AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
       |r0 AS (SELECT src AS id, CAST($scale AS BIGINT) AS r FROM d),
       |$rounds
       |SELECT d.src AS id, d.deg, r$iters.r AS rank_scaled
       |FROM d JOIN r$iters ON r$iters.id = d.src
       |ORDER BY id""".stripMargin
  }

  /** Mirrors q141: [[graft.operators.Similarity.mmrDiversify]]'s greedy
    * trace replayed as unrolled MATERIALIZED CTEs — candidate top-20 by
    * exact dot, pairwise candidate dots, then one (max-sim → score →
    * argmax → union) block per selection step. All integer arithmetic,
    * ties on vec_id, like the engine.
    */
  private def mmrOracle: String = {
    val k = 5
    val lam = 50L
    val steps = (2 to k).map { t =>
      s"""pick$t AS MATERIALIZED (
         |  SELECT query_id, vec_id, rel_dp, max_sel_dp, score FROM (
         |    SELECT c.query_id, c.vec_id, c.rel_dp, m.max_sel_dp,
         |           CAST($lam * c.rel_dp - ${100 - lam} * m.max_sel_dp AS BIGINT) AS score,
         |           ROW_NUMBER() OVER (PARTITION BY c.query_id
         |             ORDER BY ($lam * c.rel_dp - ${100 - lam} * m.max_sel_dp) DESC, c.vec_id) AS rn
         |    FROM cand c
         |    JOIN (SELECT p.query_id, p.va, CAST(MAX(p.dp) AS BIGINT) AS max_sel_dp
         |          FROM prs p JOIN sel${t - 1} s
         |            ON s.query_id = p.query_id AND s.neighbor_id = p.vb
         |          GROUP BY p.query_id, p.va) m
         |      ON m.query_id = c.query_id AND m.va = c.vec_id
         |    LEFT JOIN sel${t - 1} x
         |      ON x.query_id = c.query_id AND x.neighbor_id = c.vec_id
         |    WHERE x.neighbor_id IS NULL)
         |  WHERE rn = 1
         |),
         |sel$t AS MATERIALIZED (
         |  SELECT query_id, rnk, neighbor_id, rel_dp, max_sel_dp, mmr_score FROM sel${t - 1}
         |  UNION ALL
         |  SELECT query_id, CAST($t AS INT) AS rnk, vec_id AS neighbor_id,
         |         rel_dp, max_sel_dp, score AS mmr_score
         |  FROM pick$t
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $quantizedEmbeddings,
       |cand AS MATERIALIZED (
       |  SELECT query_id, vec_id, qe, rel_dp, crnk FROM (
       |    SELECT q.query_id, n.vec_id, n.qe,
       |           CAST(list_sum(list_transform(range(1, 65), i -> n.qe[i] * q.q_qe[i])) AS BIGINT) AS rel_dp,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |             ORDER BY CAST(list_sum(list_transform(range(1, 65), i -> n.qe[i] * q.q_qe[i])) AS BIGINT) DESC,
       |                      n.vec_id) AS crnk
       |    FROM n CROSS JOIN (SELECT vec_id AS query_id, qe AS q_qe FROM n WHERE vec_id < 10) q
       |    WHERE n.vec_id <> q.query_id)
       |  WHERE crnk <= 20
       |),
       |prs AS MATERIALIZED (
       |  SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
       |         CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * b.qe[i])) AS BIGINT) AS dp
       |  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
       |),
       |sel1 AS MATERIALIZED (
       |  SELECT query_id, CAST(1 AS INT) AS rnk, vec_id AS neighbor_id, rel_dp,
       |         CAST(NULL AS BIGINT) AS max_sel_dp, CAST(NULL AS BIGINT) AS mmr_score
       |  FROM cand WHERE crnk = 1
       |),
       |$steps
       |SELECT query_id, rnk, neighbor_id, rel_dp, max_sel_dp, mmr_score
       |FROM sel$k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Mirrors [[graft.operators.Dedup.hybridNearDupPairs]]: sign-LSH
    * bucket-mate pairs at quantized cosine ≥ 0.2, each verified with
    * exact distinct-shingle-digest jaccard over the documents' text.
    */
  private def hybridNearDupOracle: String = {
    val planes = graft.operators.Similarity
      .hyperplanes(graft.operators.Similarity.DefaultNumPlanes, 64)
      .map(_.map(c => math.floor(c * 1000000).toLong))
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = p.mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, 65), ii -> qe[ii] * ($planeLit)[ii])) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n         + ")
    s"""WITH $docShingles,
       |e AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
       |  FROM embeddings
       |),
       |b AS (
       |  SELECT vec_id, qe,
       |         CAST(list_sum(list_transform(range(1, 65), ii -> qe[ii] * qe[ii])) AS BIGINT) AS n2,
       |         $bucketExpr AS bucket
       |  FROM e
       |),
       |cand AS (
       |  SELECT a.vec_id AS doc_a, hi.vec_id AS doc_b,
       |         CAST(list_sum(list_transform(range(1, 65), ii -> a.qe[ii] * hi.qe[ii])) AS BIGINT) AS dp,
       |         a.n2 AS n2a, hi.n2 AS n2b
       |  FROM b a JOIN b hi ON a.bucket = hi.bucket AND a.vec_id < hi.vec_id
       |),
       |f AS (
       |  SELECT * FROM (
       |    SELECT doc_a, doc_b,
       |           CAST(dp AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) AS cosine
       |    FROM cand)
       |  WHERE cosine >= 0.2
       |),
       |sets AS (
       |  SELECT doc_id,
       |         list(DISTINCT CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)) AS shl,
       |         CAST(COUNT(DISTINCT CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)) AS BIGINT) AS n_sh
       |  FROM sh GROUP BY doc_id
       |),
       |v AS (
       |  SELECT f.doc_a, f.doc_b, f.cosine,
       |         CAST(len(list_intersect(sa.shl, sb.shl)) AS BIGINT) AS n_common,
       |         sa.n_sh AS n_a, sb.n_sh AS n_b
       |  FROM f JOIN sets sa ON f.doc_a = sa.doc_id JOIN sets sb ON f.doc_b = sb.doc_id
       |)
       |SELECT doc_a, doc_b, cosine, n_common, n_a, n_b,
       |       CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) AS jaccard,
       |       (CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE)) >= 0.5 AS is_dup
       |FROM v
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Shared oracle CTE: embeddings quantized to exact longs + self dot. */
  /** Shared q39/q126 IVF CTEs: placeholder centroids (vec_id < 16),
    * per-vector nearest-cell assignment, and each query's 4 probed
    * cells (cosine ranking, centroid id on ties).
    */
  /** Shared q227/q231 oracle: ExactSubstr at word granularity — the
    * merged streaming occurrence state is the same count table, so the
    * strip is identical.
    */
  /** Shared q120/q268 oracle: the Count-Min construction + exact-set
    * probe, over the full (doc_id < 500) corpus or the takedown
    * survivors.
    */
  private def cmsProbeOracleOver(andWhere: String) =
    s"""WITH w AS (
      |  SELECT source AS grp, unnest(regexp_split_to_array(trim(text), '\\s+')) AS item
      |  FROM documents WHERE doc_id < 500$andWhere
      |),
      |rs AS (SELECT CAST(unnest(range(4)) AS INT) AS r),
      |h AS (
      |  SELECT grp, item, r,
      |         CAST('0x' || substr(md5(item), 1 + 8 * r, 8) AS BIGINT) % 64 AS bucket
      |  FROM w CROSS JOIN rs
      |),
      |sk AS (SELECT grp, r, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY grp, r, bucket),
      |e AS (SELECT grp, item, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM w GROUP BY grp, item),
      |pr AS (
      |  SELECT grp, item, exact_cnt, r,
      |         CAST('0x' || substr(md5(item), 1 + 8 * r, 8) AS BIGINT) % 64 AS bucket
      |  FROM e CROSS JOIN rs
      |)
      |SELECT pr.grp, pr.item, pr.exact_cnt,
      |       MIN(sk.c) AS cms_est,
      |       MIN(sk.c) - pr.exact_cnt AS overcount
      |FROM pr JOIN sk ON pr.grp = sk.grp AND pr.r = sk.r AND pr.bucket = sk.bucket
      |GROUP BY pr.grp, pr.item, pr.exact_cnt
      |ORDER BY pr.grp, pr.item""".stripMargin

  /** Shared q250/q267 oracle: sampled-frame digests → per-doc
    * fingerprint → collision clusters, over the full corpus (q250) or
    * the takedown survivors (q267).
    */
  private def videoDupOracleOver(where: String) =
    s"""WITH n AS (
      |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS d,
      |         CAST((length(text) + 15) // 16 AS BIGINT) AS nf
      |  FROM documents$where
      |),
      |sf AS (
      |  SELECT doc_id, CAST(j AS BIGINT) AS frame_idx,
      |         md5(text[CAST(j * 16 + 1 AS INT):CAST(LEAST(d, (j + 1) * 16) AS INT)]) AS frame_digest
      |  FROM n, unnest(range(0, nf)) AS u(j)
      |  WHERE d > 0 AND j % 4 = 0
      |),
      |fp AS (
      |  SELECT doc_id, md5(string_agg(frame_digest, ',' ORDER BY frame_idx)) AS video_fp
      |  FROM sf GROUP BY doc_id
      |),
      |g AS (
      |  SELECT doc_id,
      |         MIN(doc_id) OVER (PARTITION BY video_fp) AS canonical_id,
      |         COUNT(*) OVER (PARTITION BY video_fp) AS cluster_size
      |  FROM fp
      |)
      |SELECT doc_id, canonical_id, CAST(cluster_size AS BIGINT) AS cluster_size,
      |       doc_id = canonical_id AS is_canonical
      |FROM g WHERE cluster_size >= 2 ORDER BY doc_id""".stripMargin

  private val exactSubstrOracle = exactSubstrOracleOver("")

  /** [[exactSubstrOracle]] over a restricted corpus — the takedown gate
    * (q260) runs the batch strip verbatim on the SURVIVORS, which the
    * merged state after subtraction epochs must equal.
    */
  private def exactSubstrOracleOver(where: String) =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents$where),
      |w AS (SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS pos FROM t),
      |win AS MATERIALIZED (
      |  SELECT doc_id, CAST(i AS INT) AS start,
      |         CAST('0x' || substr(md5(array_to_string(ws[i + 1: i + 8], ' ')), 1, 15) AS BIGINT) AS dig
      |  FROM (SELECT doc_id, ws, unnest(range(len(ws) - 7)) AS i FROM t WHERE len(ws) >= 8)
      |),
      |b AS (SELECT dig FROM win GROUP BY dig HAVING COUNT(*) > 1),
      |m AS MATERIALIZED (SELECT win.doc_id, win.start FROM win JOIN b USING (dig)),
      |spans AS (
      |  SELECT doc_id, CAST(COUNT(*) + 7 AS BIGINT) AS span_len
      |  FROM (SELECT doc_id, start,
      |               start - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start) AS grp
      |        FROM m)
      |  GROUP BY doc_id, grp
      |),
      |sp AS (
      |  SELECT doc_id, MAX(span_len) AS longest_dup_span,
      |         CAST(COUNT(*) AS BIGINT) AS n_dup_spans
      |  FROM spans GROUP BY doc_id
      |),
      |drops AS (
      |  SELECT DISTINCT m.doc_id, m.start + o.o AS pos
      |  FROM m, (SELECT unnest(range(8)) AS o) o
      |),
      |k AS (
      |  SELECT w.doc_id, w.pos, w.w, (dp.pos IS NOT NULL) AS dropped
      |  FROM w LEFT JOIN drops dp ON w.doc_id = dp.doc_id AND w.pos = dp.pos
      |)
      |SELECT k.doc_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |       CAST(COUNT(*) FILTER (WHERE dropped) AS BIGINT) AS n_dropped,
      |       CAST(COALESCE(MAX(sp.longest_dup_span), 0) AS BIGINT) AS longest_dup_span,
      |       CAST(COALESCE(MAX(sp.n_dup_spans), 0) AS BIGINT) AS n_dup_spans,
      |       COALESCE(string_agg(k.w, ' ' ORDER BY k.pos) FILTER (WHERE NOT dropped), '') AS clean_text
      |FROM k LEFT JOIN sp USING (doc_id)
      |GROUP BY k.doc_id
      |ORDER BY k.doc_id""".stripMargin

  /** Shared q229/q234 oracle CTEs: the DC-path replay from document
    * text (blocks, quantized DCs, diff categories).
    */
  private val jpegDcCtes =
    """d AS (
      |  SELECT doc_id, text, CAST(length(text) // 64 AS BIGINT) AS nb
      |  FROM documents WHERE length(text) >= 64
      |),
      |blk AS (
      |  SELECT doc_id, nb, CAST(b AS BIGINT) AS b,
      |         CAST(list_sum(list_transform(range(1, 65), i ->
      |           unicode(text[CAST(64 * b + i AS INT):CAST(64 * b + i AS INT)]))) AS BIGINT) AS s
      |  FROM d, unnest(range(nb)) AS u(b)
      |),
      |dc AS (
      |  SELECT doc_id, nb, b, CAST((s - 8192 + 64) // 128 AS BIGINT) AS dcq
      |  FROM blk
      |),
      |df AS (
      |  SELECT doc_id, nb, b, dcq,
      |         dcq - COALESCE(LAG(dcq) OVER (PARTITION BY doc_id ORDER BY b), 0) AS diff
      |  FROM dc
      |),
      |per AS (
      |  SELECT doc_id, nb, dcq,
      |         CASE WHEN diff = 0 THEN 0 ELSE length(bin(abs(diff))) END AS cat
      |  FROM df
      |)""".stripMargin

  /** q232: Skilling's d-dim Hilbert walk replayed in SQL, unrolled one
    * CTE per bit plane (inverse-undo: reflect axis 0 or swap-mask, per
    * axis sequentially via DuckDB lateral column aliases), then the
    * Gray encode, the parity fix-up (bit_xor list fold), the bit-plane
    * transpose, and q224's bucket/box tail.
    */
  private def hilbert3Oracle: String = {
    val bits = 21
    val levels = ((bits - 1) to 1 by -1).map { l =>
      val q = 1L << l
      val p = q - 1
      val in = if (l == bits - 1) "h3base" else s"u${l + 1}"
      // Lateral alias names carry the level suffix: the previous CTE's
      // OUTPUT also contains its own a/b/nx columns, and DuckDB resolves
      // a name to an input column before a lateral alias — unsuffixed
      // names silently read the previous level's scratch values.
      s"""u$l AS MATERIALIZED (
         |  SELECT zx, zy, zz,
         |         CASE WHEN (x0 & $q) > 0 THEN xor(x0, $p) ELSE x0 END AS a$l,
         |         CASE WHEN (x1 & $q) > 0 THEN xor(a$l, $p)
         |              ELSE xor(a$l, xor(a$l, x1) & $p) END AS b$l,
         |         CASE WHEN (x1 & $q) > 0 THEN x1
         |              ELSE xor(x1, xor(a$l, x1) & $p) END AS nx1_$l,
         |         CASE WHEN (x2 & $q) > 0 THEN xor(b$l, $p)
         |              ELSE xor(b$l, xor(b$l, x2) & $p) END AS nx0_$l,
         |         CASE WHEN (x2 & $q) > 0 THEN x2
         |              ELSE xor(x2, xor(b$l, x2) & $p) END AS nx2_$l,
         |         nx0_$l AS x0, nx1_$l AS x1, nx2_$l AS x2
         |  FROM $in
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH h3base AS (
       |  SELECT CAST(l_partkey AS BIGINT) AS zx, CAST(l_suppkey AS BIGINT) AS zy,
       |         CAST(l_orderkey AS BIGINT) AS zz,
       |         CAST(l_partkey AS BIGINT) AS x0, CAST(l_suppkey AS BIGINT) AS x1,
       |         CAST(l_orderkey AS BIGINT) AS x2
       |  FROM lineitem
       |),
       |$levels,
       |hv3 AS MATERIALIZED (
       |  SELECT zx, zy, zz,
       |         x0 AS g0, xor(x1, x0) AS g1, xor(x2, xor(x1, x0)) AS g2,
       |         COALESCE(list_aggregate(list_transform(range(1, $bits), i ->
       |           CASE WHEN (g2 >> i) & 1 = 1
       |                THEN (CAST(1 AS BIGINT) << i) - 1 ELSE CAST(0 AS BIGINT) END),
       |           'bit_xor'), 0) AS t,
       |         CAST(list_sum(list_transform(range(0, $bits), i ->
       |           (((xor(g2, t) >> i) & 1) << (3 * i))
       |           + (((xor(g1, t) >> i) & 1) << (3 * i + 1))
       |           + (((xor(g0, t) >> i) & 1) << (3 * i + 2)))) AS BIGINT) AS hv
       |  FROM u1
       |),
       |r AS (
       |  SELECT zx, zy, zz,
       |         CAST(ROW_NUMBER() OVER (ORDER BY hv, zx, zy, zz) AS BIGINT) AS rnk,
       |         CAST(COUNT(*) OVER () AS BIGINT) AS total
       |  FROM hv3
       |)
       |SELECT CAST(((rnk - 1) * 32) // total AS INT) AS bucket,
       |       CAST(COUNT(*) AS BIGINT) AS n,
       |       MIN(zx) AS min_x, MAX(zx) AS max_x,
       |       MIN(zy) AS min_y, MAX(zy) AS max_y,
       |       MIN(zz) AS min_z, MAX(zz) AS max_z
       |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  /** q235: the graph-ANN beam search replayed hop by hop — LSH-shortlist
    * top-`degree` neighbor lists (the deterministic multi-probe co-bucket
    * build the engine benches; q29's plane literals), the lowest-vec_id
    * entry point, then `hops` unrolled rounds of (beam = top-4 of
    * visited) → out-edge expansion → exact re-scoring → dedup, and the
    * final self-excluded top-10. MATERIALIZED per round: each visited
    * set feeds both the next beam and the next union.
    */
  private def graphAnnOracle: String = graphAnnOracleDeleting(Nil)

  /** [[graphAnnOracle]] over the corpus MINUS `deleted` — q243's oracle:
    * the batch build/search replay runs on the survivor set everywhere
    * the corpus appears (bucketing, long links and their bit width,
    * entry point, query panel, scoring), which is exactly what the
    * tombstoned merged state must equal under the prune-slack bound.
    */
  private def graphAnnOracleDeleting(deleted: Seq[Long]): String = {
    val (degree, beamW, hops, numQueries, k) = (6, 4, 3, 10, 10)
    val corpus = if (deleted.isEmpty) "n" else "ns"
    val survivorCte =
      if (deleted.isEmpty) ""
      else s"ns AS (SELECT * FROM n WHERE vec_id NOT IN (${deleted.mkString(", ")})),\n"
    val rounds = (1 to hops).map { r =>
      s"""gf$r AS MATERIALIZED (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dp DESC, vec_id) AS rn
         |    FROM gv${r - 1})
         |  WHERE rn <= $beamW
         |),
         |gv$r AS MATERIALIZED (
         |  SELECT u.query_id, u.vec_id, sc.dp FROM (
         |    SELECT query_id, vec_id FROM gv${r - 1}
         |    UNION
         |    SELECT gf$r.query_id, ged.nb AS vec_id
         |    FROM gf$r JOIN ged ON ged.src = gf$r.vec_id
         |  ) u JOIN sc ON sc.query_id = u.query_id AND sc.vec_id = u.vec_id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $quantizedEmbeddings,
       |${survivorCte}gb AS MATERIALIZED (SELECT vec_id, qe, $lshBucketExprSql AS bucket FROM $corpus),
       |gpr AS (
       |  SELECT vec_id AS src, qe AS qe_a, xor(bucket, m) AS bucket
       |  FROM gb CROSS JOIN (SELECT unnest($lshProbeMaskListSql) AS m)
       |),
       |gap AS MATERIALIZED (
       |  SELECT gpr.src, b.vec_id AS nb,
       |         CAST(list_sum(list_transform(range(1, 65), i -> gpr.qe_a[i] * b.qe[i])) AS BIGINT) AS dp
       |  FROM gb b JOIN gpr USING (bucket)
       |  WHERE gpr.src <> b.vec_id
       |),
       |gfar AS MATERIALIZED (
       |  SELECT a.vec_id AS src, b.vec_id AS nb
       |  FROM $corpus a,
       |       (SELECT unnest(range(0, (SELECT length(bin(MAX(vec_id))) FROM $corpus))) AS j) js
       |  JOIN $corpus b ON b.vec_id = xor(a.vec_id, CAST(1 AS BIGINT) << j)
       |),
       |ged AS MATERIALIZED (
       |  SELECT src, nb FROM (
       |    SELECT src, nb FROM (
       |      SELECT src, nb, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dp DESC, nb) AS rn
       |      FROM gap)
       |    WHERE rn <= $degree
       |    UNION
       |    SELECT src, nb FROM gfar)
       |),
       |q AS (SELECT vec_id AS query_id, qe AS q_qe FROM $corpus WHERE vec_id < $numQueries),
       |sc AS MATERIALIZED (
       |  SELECT q.query_id, c.vec_id,
       |         CAST(list_sum(list_transform(range(1, 65), i -> q.q_qe[i] * c.qe[i])) AS BIGINT) AS dp
       |  FROM q CROSS JOIN $corpus c
       |),
       |ep AS (SELECT MIN(vec_id) AS entry FROM $corpus),
       |gv0 AS MATERIALIZED (
       |  SELECT q.query_id, ep.entry AS vec_id, sc.dp
       |  FROM q CROSS JOIN ep
       |  JOIN sc ON sc.query_id = q.query_id AND sc.vec_id = ep.entry
       |),
       |$rounds
       |SELECT query_id, vec_id AS neighbor_id, CAST(rnk AS INT) AS rnk, dp FROM (
       |  SELECT query_id, vec_id, dp,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dp DESC, vec_id) AS rnk
       |  FROM gv$hops WHERE vec_id <> query_id)
       |WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Shared q39/q228 oracle: placeholder-quantizer IVF search (the
    * streamed postings are the same assignment, epoch-unioned).
    */
  private def ivfSearchOracle: String = ivfSearchOracleDeleting(Nil)

  /** [[ivfSearchOracle]] over the corpus MINUS `deleted` — q242's
    * oracle: only the ASSIGNED corpus shrinks (postings are per-vector);
    * the frozen quantizer (`vec_id < 16` of the full table) and the
    * query panel (`vec_id < 10`) are untouched because the gate deletes
    * ids outside both, matching the engine's frozen-index semantics.
    */
  private def ivfSearchOracleDeleting(deleted: Seq[Long]): String =
    s"""WITH $quantizedEmbeddings,
       |${ivfAssignCtesDeleting(deleted)},
       |scored AS (
       |  SELECT p.query_id, a.vec_id,
       |         CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * p.q_qe[i])) AS BIGINT) AS dp
       |  FROM assign a JOIN probes p USING (cell)
       |  WHERE a.vec_id <> p.query_id
       |),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dp DESC, vec_id) AS INT) AS rnk
       |  FROM scored
       |)
       |SELECT query_id, vec_id AS neighbor_id, rnk, dp FROM r WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin

  private val ivfAssignCtes = ivfAssignCtesDeleting(Nil)

  /** q258: [[ivfSearchOracle]]'s probe/rank tail under a LEARNED coarse
    * quantizer, with the deterministic Lloyd trainer
    * (`Similarity.trainIvfCentroids` — md5-ordered sample capped at
    * 4096, the first 16 sampled vectors as seeds, 8 iterations of
    * cosine-argmax assignment + truncating per-dimension integer means,
    * emptied cells carrying their previous centroid) unrolled one
    * assign/mean/centroid CTE triple per iteration — the q232 Hilbert
    * convention for iterative engine loops. Integer means use `//`,
    * which truncates toward zero exactly like Spark's `DIV` (both
    * verified on negative operands; the drift spec pins Spark's side).
    */
  private def ivfLearnedSearchOracle: String = ivfLearnedSearchOracleDeleting(Nil)

  /** [[ivfLearnedSearchOracle]] with the corpus restricted to survivors
    * — q264's oracle: the trainer's sample/seeds AND the assigned corpus
    * come from the surviving vectors (a rebuild-under-deletion re-trains
    * on what remains), while the query panel stays the full table's
    * `vec_id < 10` (the gate deletes ids outside it, the q242
    * convention).
    */
  private def ivfLearnedSearchOracleDeleting(deleted: Seq[Long]): String = {
    val keep =
      if (deleted.isEmpty) ""
      else s" WHERE vec_id NOT IN (${deleted.mkString(", ")})"
    val keepN =
      if (deleted.isEmpty) ""
      else s" WHERE n.vec_id NOT IN (${deleted.mkString(", ")})"
    val iters = 8
    val steps = (1 to iters).map { t =>
      val prev = if (t == 1) "c0" else s"c${t - 1}"
      s"""a$t AS MATERIALIZED (
         |  SELECT vec_id, qe, cell FROM (
         |    SELECT s.vec_id, s.qe, c.cent_id AS cell,
         |           ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
         |             CAST(list_sum(list_transform(range(1, 65), i -> s.qe[i] * c.c_qe[i])) AS DOUBLE)
         |               / (sqrt(CAST(s.n2 AS DOUBLE)) * sqrt(CAST(c.c_n2 AS DOUBLE))) DESC,
         |             c.cent_id) AS rn
         |    FROM samp s CROSS JOIN $prev c)
         |  WHERE rn = 1
         |),
         |m$t AS (
         |  SELECT cell, pos, CAST(SUM(v) AS BIGINT) // COUNT(*) AS m
         |  FROM (SELECT cell, unnest(qe) AS v, unnest(range(64)) AS pos FROM a$t)
         |  GROUP BY cell, pos
         |),
         |g$t AS (SELECT cell AS cent_id, list(m ORDER BY pos) AS c_qe FROM m$t GROUP BY cell),
         |c$t AS MATERIALIZED (
         |  SELECT p.cent_id,
         |         COALESCE(g.c_qe, p.c_qe) AS c_qe,
         |         CAST(list_sum(list_transform(COALESCE(g.c_qe, p.c_qe), x -> x * x)) AS BIGINT) AS c_n2
         |  FROM $prev p LEFT JOIN g$t g USING (cent_id)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $quantizedEmbeddings,
       |samp AS MATERIALIZED (
       |  SELECT vec_id, qe, n2, sr FROM (
       |    SELECT vec_id, qe, n2,
       |           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS sr
       |    FROM n$keep)
       |  WHERE sr <= 4096
       |),
       |c0 AS MATERIALIZED (
       |  SELECT CAST(sr - 1 AS BIGINT) AS cent_id, qe AS c_qe, n2 AS c_n2
       |  FROM samp WHERE sr <= 16
       |),
       |$steps,
       |assign AS (
       |  SELECT vec_id, qe, cell FROM (
       |    SELECT n.vec_id, n.qe, c.cent_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |             CAST(list_sum(list_transform(range(1, 65), i -> n.qe[i] * c.c_qe[i])) AS DOUBLE)
       |               / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(c.c_n2 AS DOUBLE))) DESC,
       |             c.cent_id) AS rn
       |    FROM n CROSS JOIN c$iters c$keepN)
       |  WHERE rn = 1
       |),
       |probes AS (
       |  SELECT query_id, q_qe, cell FROM (
       |    SELECT n.vec_id AS query_id, n.qe AS q_qe, c.cent_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |             CAST(list_sum(list_transform(range(1, 65), i -> n.qe[i] * c.c_qe[i])) AS DOUBLE)
       |               / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(c.c_n2 AS DOUBLE))) DESC,
       |             c.cent_id) AS pn
       |    FROM n CROSS JOIN c$iters c WHERE n.vec_id < 10)
       |  WHERE pn <= 4
       |),
       |scored AS (
       |  SELECT p.query_id, a.vec_id,
       |         CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * p.q_qe[i])) AS BIGINT) AS dp
       |  FROM assign a JOIN probes p USING (cell)
       |  WHERE a.vec_id <> p.query_id
       |),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dp DESC, vec_id) AS INT) AS rnk
       |  FROM scored
       |)
       |SELECT query_id, vec_id AS neighbor_id, rnk, dp FROM r WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin
  }

  private def ivfAssignCtesDeleting(deleted: Seq[Long]): String = {
    val keep =
      if (deleted.isEmpty) ""
      else s"\n    WHERE n.vec_id NOT IN (${deleted.mkString(", ")})"
    s"""cents AS (SELECT vec_id AS cent_id, qe AS c_qe, n2 AS c_n2 FROM n WHERE vec_id < 16),
      |assign AS (
      |  SELECT vec_id, qe, cell FROM (
      |    SELECT n.vec_id, n.qe, c.cent_id AS cell,
      |           ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
      |             CAST(list_sum(list_transform(range(1, 65), i -> n.qe[i] * c.c_qe[i])) AS DOUBLE)
      |               / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(c.c_n2 AS DOUBLE))) DESC,
      |             c.cent_id) AS rn
      |    FROM n CROSS JOIN cents c$keep)
      |  WHERE rn = 1
      |),
      |probes AS (
      |  SELECT query_id, q_qe, cell FROM (
      |    SELECT n.vec_id AS query_id, n.qe AS q_qe, c.cent_id AS cell,
      |           ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
      |             CAST(list_sum(list_transform(range(1, 65), i -> n.qe[i] * c.c_qe[i])) AS DOUBLE)
      |               / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(c.c_n2 AS DOUBLE))) DESC,
      |             c.cent_id) AS pn
      |    FROM n CROSS JOIN cents c WHERE n.vec_id < 10)
      |  WHERE pn <= 4
      |)""".stripMargin
  }

  /** Shared q124/q125/q126 PQ CTEs: the vec_id < 16 placeholder
    * codebooks (8 subspaces x 16 codes), all sub-distances, the chosen
    * codes, and each query's ADC distance tables. Subspace width and
    * code count live HERE so the three PQ oracles cannot drift.
    */
  private val pqCodesCtes =
    """cb AS MATERIALIZED (
      |  SELECT CAST(s.s AS INT) AS sub, CAST(n.vec_id AS INT) AS code, n.qe
      |  FROM n CROSS JOIN (SELECT unnest(range(8)) AS s) s
      |  WHERE n.vec_id < 16
      |),
      |d AS (
      |  SELECT v.vec_id, cb.sub, cb.code,
      |         CAST(list_sum(list_transform(range(1, 9), i ->
      |           (v.qe[cb.sub * 8 + i] - cb.qe[cb.sub * 8 + i])
      |             * (v.qe[cb.sub * 8 + i] - cb.qe[cb.sub * 8 + i]))) AS BIGINT) AS d2
      |  FROM n v CROSS JOIN cb
      |),
      |pcodes AS MATERIALIZED (
      |  SELECT vec_id, sub, code, d2 FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
      |    FROM d)
      |  WHERE rn = 1
      |),
      |tabs AS MATERIALIZED (
      |  SELECT q.vec_id AS query_id, cb.sub, cb.code,
      |         CAST(list_sum(list_transform(range(1, 9), i ->
      |           (q.qe[cb.sub * 8 + i] - cb.qe[cb.sub * 8 + i])
      |             * (q.qe[cb.sub * 8 + i] - cb.qe[cb.sub * 8 + i]))) AS BIGINT) AS t
      |  FROM n q CROSS JOIN cb
      |  WHERE q.vec_id < 10
      |)""".stripMargin

  /** Shared q138/q140 CTEs: sign packing into two 32-bit words, the
    * query set, Hamming distances, the shortlist at 50, and the exact
    * re-rank `hr` (rnk by dp desc). Lives here so the search query and
    * its recall evaluator replay identical semantics.
    */
  private val hammingCtes =
    """b AS (
      |  SELECT vec_id, qe, n2,
      |         CAST(list_sum(list_transform(range(0, 32), d ->
      |           CASE WHEN qe[d + 1] >= 0 THEN 1::BIGINT << d ELSE 0 END)) AS BIGINT) AS w_lo,
      |         CAST(list_sum(list_transform(range(32, 64), d ->
      |           CASE WHEN qe[d + 1] >= 0 THEN 1::BIGINT << (d - 32) ELSE 0 END)) AS BIGINT) AS w_hi
      |  FROM n
      |),
      |q AS (
      |  SELECT vec_id AS query_id, qe AS q_qe, n2 AS q_n2, w_lo AS q_lo, w_hi AS q_hi
      |  FROM b WHERE vec_id < 10
      |),
      |h AS (
      |  SELECT q.query_id, b.vec_id, b.qe, b.n2, q.q_qe, q.q_n2,
      |         CAST(bit_count(xor(b.w_lo, q.q_lo)) + bit_count(xor(b.w_hi, q.q_hi)) AS INT) AS hamming
      |  FROM b CROSS JOIN q WHERE b.vec_id <> q.query_id
      |),
      |sl AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS sr
      |    FROM h)
      |  WHERE sr <= 50
      |),
      |hd AS (
      |  SELECT query_id, vec_id, hamming, n2, q_n2,
      |         CAST(list_sum(list_transform(range(1, 65), i -> qe[i] * q_qe[i])) AS BIGINT) AS dp
      |  FROM sl
      |),
      |hr AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dp DESC, vec_id) AS INT) AS rnk
      |  FROM hd
      |)""".stripMargin

  private val quantizedEmbeddings =
    """e AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
      |  FROM embeddings
      |),
      |n AS (
      |  SELECT vec_id, qe,
      |         CAST(list_sum(list_transform(range(1, 65), i -> qe[i] * qe[i])) AS BIGINT) AS n2
      |  FROM e
      |)""".stripMargin

  private def trainingExamplesOracle: String = trainingExamplesOracleAt(MaxHist)

  /** The full-pipeline replay at any history depth — `MaxHist` (8) for
    * q03/q05, the reference's own default 1000 for q244. The zero pads
    * are generated (`list_transform(range(K), …)`), not literals, so the
    * two gates cannot drift in anything but K.
    */
  private def trainingExamplesOracleAt(maxHist: Int): String =
    s"""WITH $evActions,
       |$evImpressions,
       |joined AS (
       |  SELECT i.dt, i.ranking_id, i.customer_id, i.impression_pos,
       |         i.impression_item_id, i.label,
       |         a.item_id, a.action_type, a.action_time
       |  FROM imp i LEFT JOIN actions a
       |    ON i.customer_id = a.customer_id AND a.action_time < i.cutoff_ts
       |),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY dt, ranking_id, customer_id, impression_pos, impression_item_id
       |      ORDER BY action_time DESC, item_id, action_type) AS rn
       |  FROM joined
       |),
       |agg AS (
       |  SELECT dt, ranking_id, customer_id, impression_pos, impression_item_id, label,
       |         list(item_id ORDER BY rn) FILTER (WHERE action_time IS NOT NULL AND rn <= $maxHist) AS acts,
       |         list(action_type ORDER BY rn) FILTER (WHERE action_time IS NOT NULL AND rn <= $maxHist) AS atys
       |  FROM ranked
       |  GROUP BY dt, ranking_id, customer_id, impression_pos, impression_item_id, label
       |)
       |SELECT dt, ranking_id, customer_id, impression_pos, impression_item_id, label,
       |       array_to_string((COALESCE(acts, CAST([] AS BIGINT[])) || list_transform(range($maxHist), x -> CAST(0 AS BIGINT)))[1:$maxHist], ',') AS actions,
       |       array_to_string((COALESCE(atys, CAST([] AS INT[])) || list_transform(range($maxHist), x -> CAST(0 AS INT)))[1:$maxHist], ',') AS action_types
       |FROM agg
       |ORDER BY dt, ranking_id, customer_id, impression_pos, impression_item_id""".stripMargin
}
