package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md) plus the
  * derivations that map them onto the reference pipeline's input schemas
  * (FIXTURES.md §3).
  *
  * The `events` table's `ts` column has shipped in several encodings as the
  * upstream generator evolved: parquet TIMESTAMP(NANOS) (which Spark's
  * vectorized reader surfaces as a nanosecond long under
  * `spark.sql.legacy.parquet.nanosAsLong`), plain `timestamp[us]` without
  * UTC adjustment (surfaced as TIMESTAMP_NTZ), and UTC-adjusted
  * `timestamp[us]` (surfaced as TIMESTAMP). A loader that binds to one
  * vintage breaks on the next regeneration, so we dispatch on the type the
  * scan actually produced and normalize every path to a session-zone
  * TIMESTAMP at microsecond precision — the same value DuckDB (the
  * correctness oracle) sees when it reads the identical file. The session
  * zone is pinned to UTC by every entry point, so the NTZ→TZ cast is a
  * pure re-tag, not a wall-clock shift.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    // Only ts is normalized: the loader TRANSFORMS that column, so its
    // handling must be vintage-adaptive. The other five columns are
    // deliberately passed through untouched — the DuckDB oracle reads
    // the identical file, so a generator drift there (say int64 → int32
    // ids) degrades BOTH engines symmetrically and every hash still
    // matches, whereas loader-side "contract casts" would break the
    // symmetry and turn the same drift into a guaranteed schema
    // mismatch.
    raw.schema("ts").dataType match {
      case LongType =>
        // The long-surfaced path assumes TIMESTAMP(NANOS). A future vintage
        // shipping plain int64 micros (no nanos annotation) would land 1000x
        // below any plausible ns epoch and silently collapse toward 1970 —
        // an asymmetric silent-vs-loud failure vs the DuckDB oracle. Guard
        // with a codegen'd per-row range check that raises instead of
        // mis-scaling; nulls and the epoch-0 sentinel pass through. The
        // bounds are chosen for UNAMBIGUITY, not plausibility: micros for
        // any date ≤ year 2200 stay below 7.3e15, while ns for any date ≥
        // 1971 are above 3.1e16 — so [1971, 2200) in ns cannot be confused
        // with a micros encoding, and legitimate historical NANOS rows
        // (anything ≥ 1971, plus exact 0) still load.
        val nsLo = 31536000000000000L   // 1971-01-01T00:00Z in ns
        val nsHi = 7258118400000000000L // 2200-01-01T00:00Z in ns
        raw.withColumn("ts",
          when(col("ts").isNull || col("ts") === 0L ||
              (col("ts") >= nsLo && col("ts") < nsHi),
            expr("timestamp_micros(ts DIV 1000)"))
            .otherwise(raise_error(concat(
              lit("events.ts: long value outside plausible ns-epoch range (is this vintage int64 micros?): "),
              col("ts").cast("string"))).cast(TimestampType)))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported parquet-surfaced type $other (expected ns-long, timestamp_ntz, or timestamp)")
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}

/** Output sinks. The reference only *recommends* its storage layout
  * (README.md:38,65,71: parquet + snappy, partitioned by dt) and never
  * codes it; here it is the engine's real sink.
  */
object Sinks {

  /** Write training examples partitioned by day — partition pruning then
    * serves day-ranged training reads without touching other days.
    */
  def writeTrainingExamples(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write
      .mode(mode)
      .option("compression", "snappy")
      .partitionBy("dt")
      .parquet(path)

  /** CSV sink/source pair (header + explicit schema on read — never infer
    * in production: inference costs an extra full scan and drifts).
    */
  def writeCsv(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSON-lines sink/source pair (same explicit-schema posture). */
  def writeJson(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  def readJson(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC sink/source pair — the other columnar format with pushdown and
    * column pruning; same zlib-default posture as the parquet sink's
    * snappy.
    */
  def writeOrc(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Small-files compaction: rewrite a parquet directory into files of
    * roughly `targetBytes` each, sized from the directory's ACTUAL byte
    * footprint (a fixed repartition count is wrong twice a year as data
    * grows). The streaming/incremental pipelines here append per
    * micro-batch or per day; without periodic compaction a 100 TB table
    * degrades into millions of KB-files whose open/footer costs dominate
    * scans. Writes to `destPath` (no in-place swap: renames are not atomic
    * on object stores — cut over readers after validation).
    */
  def compactParquet(
      spark: SparkSession,
      srcPath: String,
      destPath: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(srcPath), spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(srcPath)).getLength
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(srcPath)
      .repartition(n)
      .write.mode("overwrite").option("compression", "snappy").parquet(destPath)
  }

  /** Malformed-input posture for the text formats: PERMISSIVE read with
    * the offending raw line captured in `_corrupt_record`, so a 100 TB
    * ingest quarantines bad lines into a side table instead of failing
    * the job (FAILFAST) or silently nulling fields. Callers split with
    * [[quarantine]] / [[clean]]; the frame is cached first because Spark
    * refuses queries that project only the internal corrupt column.
    *
    * Cache lifecycle: the returned frame's cache is CALLER-OWNED —
    * `unpersist()` it once the quarantine/clean split has been consumed,
    * or use [[withJsonPermissive]]/[[withCsvPermissive]], which release
    * it after the action. Nothing else here holds a session-lifetime
    * cache.
    */
  def readJsonPermissive(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache()

  def readCsvPermissive(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
      .cache()

  /** [[readJsonPermissive]] as a lifecycle bracket: the cached frame is
    * unpersisted after `f` — no session-lifetime cache escapes.
    */
  def withJsonPermissive[T](
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType)(f: DataFrame => T): T = {
    val df = readJsonPermissive(spark, path, schema)
    try f(df) finally df.unpersist()
  }

  /** [[readCsvPermissive]] as a lifecycle bracket. */
  def withCsvPermissive[T](
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType)(f: DataFrame => T): T = {
    val df = readCsvPermissive(spark, path, schema)
    try f(df) finally df.unpersist()
  }

  /** Rows that failed to parse (raw line preserved for replay/debugging). */
  def quarantine(df: DataFrame): DataFrame =
    df.filter(col("_corrupt_record").isNotNull).select(col("_corrupt_record"))

  /** Successfully parsed rows, corrupt column dropped. */
  def clean(df: DataFrame): DataFrame =
    df.filter(col("_corrupt_record").isNull).drop("_corrupt_record")

  /** Bucketed managed table — the shuffle-elision lever for the 100 TB
    * join: both sides of the daily impressions×actions join bucketed by
    * `customer_id` make the join exchange-free (Catalyst recognizes the
    * matching bucketing and drops both Exchanges; BucketedJoinSpec pins
    * this). Bucketed tables require the table catalog, not a bare path.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int,
      mode: String = "overwrite"): Unit =
    df.write
      .mode(mode)
      .option("compression", "snappy")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Morton / Z-order interleave of two nonnegative 21-bit dimensions —
    * the multi-dimensional clustering key behind Delta/Iceberg
    * `OPTIMIZE ZORDER`: sorting by the interleaved bits keeps rows close
    * in BOTH dimensions close on disk, so per-file min/max statistics
    * prune on x AND y where a lexicographic sort prunes on x only.
    * One codegen'd integer expression ([[graft.expressions.MortonIndex]],
    * 21 bit pairs → a 42-bit key); takes column NAMES (long-typed).
    * Formerly an `expr("aggregate(sequence(0,20), ...)")` SQL fold —
    * that `HigherOrderFunction` evaluates interpreted and gets
    * duplicated into every consumer by `CollapseProject` (measured 70+ s
    * vs 3.7 s for the byte-identical Hilbert machinery); the expression
    * keeps the interleave one `bits`-step primitive loop per row.
    */
  def zValue(x: String, y: String): Column = zValueN(Seq(x, y))

  /** d-dimensional Morton interleave (bit `i` of dim `j` → position
    * `i·d + j`) — `OPTIMIZE ZORDER BY (a, b, c)` is routinely 3-4
    * columns; `bits` defaults to the most each dimension can carry in a
    * nonnegative 63-bit long key.
    */
  def zValueN(cols: Seq[String], bits: Int = 0): Column = {
    val b = if (bits > 0) bits else (63 / cols.size).min(21)
    val bridge = org.apache.spark.sql.graft.bridge
    bridge.column(graft.expressions.MortonIndex(
      cols.map(c => bridge.expression(col(c))), b))
  }

  /** The data-skipping audit for a Z-order layout: assign each row to
    * one of `numBuckets` equal-count files in Z-value order and report
    * every file's row count and min/max bounding box on BOTH
    * dimensions — exactly the per-file statistics a scan would prune
    * against. Tight boxes on both axes are the Z-order win the spec
    * pins (an x-sorted layout has tight x spans and full-range y spans).
    *
    * Scale: bucket ranks come from a distributed prefix count over
    * EXPLICIT Z-value buckets — one bounded approx_percentile pass
    * collects ≤ `numPartitions − 1` boundaries as a driver literal
    * (boundary quality only balances partitions, never correctness),
    * `_pid` is a pure row function, the per-bucket COUNT table turns
    * into offsets with a window that never touches the data, and the
    * final aggregate is numBuckets-sized. Deliberately not the
    * `spark_partition_id()` idiom — rank consistency must not depend
    * on two subtrees sharing one sampled exchange.
    */
  def zOrderLayoutStats(
      df: DataFrame,
      x: Column,
      y: Column,
      numBuckets: Int = 32,
      numPartitions: Int = 32): DataFrame = {
    val base = df.select(x.cast("long").as("zx"), y.cast("long").as("zy"))
      .withColumn("zv", zValue("zx", "zy"))
    valueLayoutStats(base, numBuckets, numPartitions)
  }

  /** [[zOrderLayoutStats]] for d clustering dimensions — real
    * `OPTIMIZE ZORDER BY (a, b, c)` is routinely 3-4 columns. Same
    * bucket machinery; output bounding boxes are `min_x/max_x,
    * min_y/max_y, min_z/max_z, min_w/max_w, …` in column order, so the
    * 2-D audits stay file-for-file schema compatible.
    */
  def zOrderLayoutStatsN(
      df: DataFrame,
      dims: Seq[Column],
      numBuckets: Int = 32,
      numPartitions: Int = 32): DataFrame = {
    require(dims.size >= 1 && dims.size <= dimLabels.size,
      s"zOrderLayoutStatsN supports 1..${dimLabels.size} dimensions, got ${dims.size}")
    val names = dims.indices.map(i => s"z${dimLabels(i)}")
    val base = df.select(dims.zip(names).map { case (c, n) => c.cast("long").as(n) }: _*)
      .withColumn("zv", zValueN(names))
    valueLayoutStatsD(base, names, dimLabels.take(dims.size), numBuckets, numPartitions)
  }

  private val dimLabels = Seq("x", "y", "z", "w")

  /** [[zOrderLayoutStatsN]]'s Hilbert twin for d ≥ 2 clustering columns
    * ([[graft.expressions.HilbertIndexN]], Skilling's transpose walk) —
    * same bucket machinery and box schema, so Z-order and Hilbert
    * layouts compare file-for-file at any dimensionality (q224 vs q232
    * is the 3-D pair the way q187 vs q191 is the 2-D one).
    */
  def hilbertLayoutStatsN(
      df: DataFrame,
      dims: Seq[Column],
      numBuckets: Int = 32,
      numPartitions: Int = 32): DataFrame = {
    require(dims.size >= 2 && dims.size <= dimLabels.size,
      s"hilbertLayoutStatsN supports 2..${dimLabels.size} dimensions, got ${dims.size}")
    val bits = (63 / dims.size).min(21)
    val names = dims.indices.map(i => s"z${dimLabels(i)}")
    val bridge = org.apache.spark.sql.graft.bridge
    val base = df.select(dims.zip(names).map { case (c, n) => c.cast("long").as(n) }: _*)
      .withColumn("zv", bridge.column(graft.expressions.HilbertIndexN(
        names.map(n => bridge.expression(col(n))), bits)))
    valueLayoutStatsD(base, names, dimLabels.take(dims.size), numBuckets, numPartitions)
  }

  /** Hilbert index of `(x, y)` appended as `hv` (plus the cast inputs as
    * `zx`/`zy`): the standard per-level quadrant walk (Wikipedia xy2d /
    * Butz's algorithm) over `bits`-bit coordinates, as ONE codegen'd
    * expression ([[graft.expressions.HilbertIndex]] — a tight `bits`-
    * iteration primitive loop). The earlier declarative formulation
    * (`bits` chained CASE projections, one per rotation level) OOM'd a
    * 1 GiB driver JVM at the default bits = 21 during Catalyst/codegen
    * work on the 21-deep non-cheap-expression chain — observed as
    * q191's "Java heap space" in the Verify gate; the expression keeps
    * the plan constant-size. All integer arithmetic on nonnegative
    * values — engine-bit-identical (the oracle replays the same walk).
    *
    * Versus Z-order: both linearize 2-D, but Hilbert is CONTINUOUS —
    * consecutive indices are always Manhattan-adjacent cells, so
    * equal-count file buckets cover contiguous blobs without Z's
    * quadrant-seam jumps; the practical win is tighter worst-case
    * bounding boxes at the same file count.
    */
  def withHilbertValue(
      df: DataFrame,
      x: Column,
      y: Column,
      bits: Int = 21): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits=$bits out of range [1, 31]")
    val bridge = org.apache.spark.sql.graft.bridge
    df.select(x.cast("long").as("zx"), y.cast("long").as("zy"))
      .withColumn(
        "hv",
        bridge.column(graft.expressions.HilbertIndex(
          bridge.expression(col("zx")), bridge.expression(col("zy")), bits)))
  }

  /** [[zOrderLayoutStats]]' audit over the HILBERT linearization —
    * identical bucket machinery and output schema, so the two layouts
    * compare file-for-file on bounding-box tightness.
    */
  def hilbertLayoutStats(
      df: DataFrame,
      x: Column,
      y: Column,
      numBuckets: Int = 32,
      numPartitions: Int = 32): DataFrame =
    valueLayoutStats(
      withHilbertValue(df, x, y).withColumnRenamed("hv", "zv"),
      numBuckets, numPartitions)

  /** Shared bucket/bounding-box machinery for the layout audits: ranks
    * from a distributed prefix count over explicit literal boundaries
    * (see [[zOrderLayoutStats]]' scaladoc for why not
    * spark_partition_id-after-repartitionByRange), equal-count buckets,
    * per-bucket min/max on both dimensions.
    */
  private def valueLayoutStats(
      base0: DataFrame,
      numBuckets: Int,
      numPartitions: Int): DataFrame =
    valueLayoutStatsD(base0, Seq("zx", "zy"), Seq("x", "y"), numBuckets, numPartitions)

  private def valueLayoutStatsD(
      base0: DataFrame,
      dims: Seq[String],
      labels: Seq[String],
      numBuckets: Int,
      numPartitions: Int): DataFrame = {
    require(numBuckets >= 1, s"numBuckets=$numBuckets must be >= 1")
    // Two passes read `base` — the boundary percentile action and the
    // main rank/aggregate pass. Persist across them: the frame is the
    // (d+1)-long-column projection only (never the source's full width),
    // so the cache is bounded and the scan + key computation run once.
    val base = base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qs = (1 until numPartitions).map(i => i.toDouble / numPartitions)
    val bounds: Seq[Long] =
      if (qs.isEmpty) Seq.empty
      else base.agg(expr(s"approx_percentile(zv, array(${qs.mkString(", ")}), 10000)"))
        .collect()(0).getSeq[Long](0)
    val pid =
      if (bounds.isEmpty) lit(0)
      else size(filter(typedLit(bounds), b => col("zv") >= b))
    val t = base.withColumn("_pid", pid)
    // Bounded-input invariant (r21 window audit): one row per _pid
    // bucket (≤ numPartitions rows), never the base rows.
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy().orderBy(col("_pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = t.groupBy(col("_pid")).agg(count(lit(1)).as("_c"))
      .withColumn("_off", coalesce(sum(col("_c")).over(wOff), lit(0L)))
      .select(col("_pid"), col("_off"), sum(col("_c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()).as("_total"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid")).orderBy(col("zv") +: dims.map(col): _*)
    val boxes = dims.zip(labels).flatMap { case (d, l) =>
      Seq(min(col(d)).as(s"min_$l"), max(col(d)).as(s"max_$l"))
    }
    val out = t.join(broadcast(offsets), Seq("_pid"))
      .withColumn("rnk", col("_off") + row_number().over(wRank))
      .withColumn("bucket", expr(s"((rnk - 1) * ${numBuckets}L) div _total").cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), boxes: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // numBuckets rows — materialize, then release the wide cache
    base.unpersist()
    out
  }
}

/** Deterministic mapping of the `events` stream onto the reference
  * pipeline's four input tables (impressions + 3 action streams).
  *
  * event_type → stream: click→clicks, view→add_to_carts, purchase→orders;
  * purchases additionally form the impression carousels (one carousel per
  * (user, day), items ordered by event_id, `is_order` = value > 100).
  * item ids are `event_id % 1000`. Every derivation is plain arithmetic so
  * the DuckDB oracle can reproduce it exactly.
  */
object EventFixtures {

  private def typed(spark: SparkSession, dir: String, eventType: String): DataFrame =
    Tables.events(spark, dir).filter(col("event_type") === eventType)

  def clicks(spark: SparkSession, dir: String): DataFrame =
    typed(spark, dir, "click").select(
      date_format(col("ts"), "yyyy-MM-dd").as("dt"),
      col("user_id").as("customer_id"),
      (col("event_id") % 1000).as("item_id"),
      col("ts").as("click_time"))

  def addToCarts(spark: SparkSession, dir: String): DataFrame =
    typed(spark, dir, "view").select(
      date_format(col("ts"), "yyyy-MM-dd").as("dt"),
      col("user_id").as("customer_id"),
      (col("event_id") % 1000).as("config_id"),
      (col("event_id") % 10).cast("int").as("simple_id"),
      col("ts").as("occurred_at"))

  def orders(spark: SparkSession, dir: String): DataFrame =
    typed(spark, dir, "purchase").select(
      date_format(col("ts"), "yyyy-MM-dd").as("order_date"),
      col("user_id").as("customer_id"),
      (col("event_id") % 1000).as("config_id"),
      (col("event_id") % 10).cast("int").as("simple_id"),
      col("ts").as("occurred_at"))

  def impressions(spark: SparkSession, dir: String): DataFrame =
    typed(spark, dir, "purchase")
      .select(
        col("user_id").as("customer_id"),
        col("ts").cast("date").as("d"),
        col("event_id"),
        (col("event_id") % 1000).as("item_id"),
        (col("value") > 100).as("is_order"))
      .groupBy(col("customer_id"), col("d"))
      .agg(
        min(col("event_id")).as("rid"),
        sort_array(collect_list(struct(col("event_id"), col("item_id"), col("is_order"))))
          .as("items"))
      .select(
        date_format(col("d"), "yyyy-MM-dd").as("dt"),
        col("rid").cast("string").as("ranking_id"),
        col("customer_id"),
        transform(
          col("items"),
          x => struct(
            x.getField("item_id").as("item_id"),
            x.getField("is_order").as("is_order"))).as("impressions"))
}
