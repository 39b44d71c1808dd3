package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference engine's core: impression logs + three action streams →
  * fixed-length per-impression training histories.
  *
  * Re-expressed Spark-first for 100 TB scale, with three deliberate fixes to
  * the reference implementation (SURVEY.md §2.9):
  *
  *  1. The anti-leakage predicate lives in the join's ON clause
  *     (reference: post-join WHERE at pipeline.py:160, which silently drops
  *     history-less customers despite the documented all-zero-padding
  *     semantics at README.md:21-22 / tests:110-113). Here the documented
  *     semantics hold: no-history impressions survive with all-zero arrays.
  *  2. Histories carry a total ordering (`action_time DESC, item_id,
  *     action_type` — reference orders by `action_time` alone,
  *     pipeline.py:169, which is non-deterministic on timestamp ties).
  *  3. Each exploded impression row is its own history key (a row id), so
  *     duplicate carousel rows each get one row with their own history (the
  *     reference's string surrogate key at pipeline.py:164-167 omits
  *     `impression_item_id` and can interleave duplicates' rank sequences).
  *
  * Scale design: the only data exchange is the exploded impressions —
  * compact rows, hash-partitioned on `customer_id` to an explicit width AQE
  * does not coalesce: the session's `spark.sql.shuffle.partitions`, capped
  * at `defaultParallelism` (one task per core; wider sessions would get
  * that many uncoalesced tasks and output files).
  * The actions join each row there (broadcast when small), and each row's
  * history is folded where the join emits it ([[HistoryFold]]): no second
  * exchange, window or aggregate. For repeated daily runs prefer
  * [[customerHistoryBeforeDt]] (the reference's recommended-but-
  * unimplemented precompute, pipeline.py:99-115, README.md:69-72).
  */
object TrainingPipeline {

  val DefaultMaxHistory = 1000

  /** O1 (pipeline.py:33-64): harmonize the three heterogeneous action
    * sources into one `(customer_id, item_id, action_time, action_type)`
    * table. Narrow-only: three projections, a by-name union, a null filter —
    * no shuffle at any scale.
    */
  def normalizeActions(
      clicks: DataFrame,
      addToCarts: DataFrame,
      orders: DataFrame): DataFrame = {
    val c = clicks.select(
      col("customer_id").cast(LongType).as("customer_id"),
      col("item_id").cast(LongType).as("item_id"),
      col("click_time").cast(TimestampType).as("action_time"),
      lit(1).as("action_type"))
    val a = addToCarts.select(
      col("customer_id").cast(LongType).as("customer_id"),
      col("config_id").cast(LongType).as("item_id"),
      col("occurred_at").cast(TimestampType).as("action_time"),
      lit(2).as("action_type"))
    val o = orders.select(
      col("customer_id").cast(LongType).as("customer_id"),
      col("config_id").cast(LongType).as("item_id"),
      col("occurred_at").cast(TimestampType).as("action_time"),
      lit(3).as("action_type"))
    c.unionByName(a).unionByName(o)
      .filter(
        col("customer_id").isNotNull &&
          col("item_id").isNotNull &&
          col("action_time").isNotNull)
  }

  /** O2 (pipeline.py:67-96): unnest the impression carousel to one row per
    * impressed item, preserving 0-based position; boolean `is_order` becomes
    * the 0/1 `label`. Narrow-only. `posexplode_outer` keeps a defensive row
    * (null pos/item, label 0) for null/empty carousels — reference behavior,
    * kept and pinned by tests.
    */
  def explodeImpressions(impressions: DataFrame): DataFrame =
    impressions
      .select(
        col("dt"),
        col("ranking_id"),
        col("customer_id").cast(LongType).as("customer_id"),
        posexplode_outer(col("impressions")).as(Seq("impression_pos", "imp")))
      .select(
        col("dt"),
        col("ranking_id"),
        col("customer_id"),
        col("impression_pos").cast(IntegerType).as("impression_pos"),
        col("imp.item_id").cast(LongType).as("impression_item_id"),
        when(col("imp.is_order") === true, 1).otherwise(0).cast(IntegerType).as("label"))

  /** Fixed-length most-recent-first array assembly shared by O3 and its
    * streaming twin: `hist` is a sorted array of struct(neg_us, item_id,
    * action_type); emit the two parallel arrays truncated/zero-padded to
    * exactly `maxHistory`.
    * Pure array expressions — stays inside whole-stage codegen.
    */
  private[graft] def paddedArrays(maxHistory: Int): Seq[org.apache.spark.sql.Column] = Seq(
    slice(
      concat(
        transform(col("hist"), h => h.getField("item_id")),
        array_repeat(lit(0L), maxHistory)),
      1, maxHistory).as("actions"),
    slice(
      concat(
        transform(col("hist"), h => h.getField("action_type")),
        array_repeat(lit(0), maxHistory)),
      1, maxHistory).as("action_types"))

  /** O3 (pipeline.py:99-115 — a `NotImplementedError` stub in the
    * reference; implemented for real here per README.md:69-72): materialized
    * per-(customer, dt) history table, the production precompute.
    *
    * `dts` is a single-column DataFrame of `dt: string` cutoff days (e.g.
    * `impressions.select("dt").distinct()`). Output: one row per
    * (customer_id, dt) with the customer's `maxHistory` most recent actions
    * strictly before dt 00:00:00, as fixed-length arrays.
    *
    * Scale design (two compact stages, no raw-action blowup):
    *
    *  1. Per-(customer, action-day) top-K: each action belongs to exactly
    *     ONE group — the ranking window runs once over the raw actions, and
    *     Spark 3.5+'s WindowGroupLimit bounds each group to `maxHistory`
    *     rows before the full sort. The K most recent actions before any
    *     cutoff are necessarily within the top-K of their own day (an
    *     action outranked by ≥K same-day actions is outranked by them
    *     before every later cutoff), so day-level top-K loses nothing.
    *  2. The compact daily chunks (≤ maxHistory structs per (customer, day))
    *     broadcast-join to the cutoff days and merge. Only pre-bounded
    *     aggregates — never raw actions — are replicated per cutoff.
    *
    * An earlier formulation joined RAW actions to cutoffs
    * (`action_time < cutoff_ts`), replicating every action once per future
    * cutoff day before a window ranked the blown-up table — O(actions × dts)
    * at 100 TB. Stage 2 here replicates only day-aggregates, and
    * `horizonDays` (production knob: "history within H days") bounds even
    * that to O(H) copies per daily chunk. `horizonDays = None` keeps the
    * reference's unbounded-lookback semantics exactly.
    */
  /** O3 stage 1, reusable: compress raw actions to one row per
    * (customer, action-day) holding that day's top-`maxHistory` actions as
    * a sorted struct array (`chunk`), plus the chunk's relevance-expiry
    * day. Struct field order makes ascending lexicographic sort =
    * (action_time DESC, item_id, action_type) — the pipeline's total
    * order. Each action belongs to exactly one group and WindowGroupLimit
    * bounds groups map-side, so the output is ≤ maxHistory structs per
    * (customer, day) regardless of how hot the customer is.
    *
    * `expiry_day`: a chunk is dead for cutoff D once the customer has K
    * whole LATER chunks before D — each later chunk carries ≥1 strictly
    * newer action, so K of them saturate the top-K. The K-th next chunk's
    * day is therefore the last cutoff day this chunk can matter for. Any
    * consumer joining chunks to cutoffs with
    * [[chunkQualifies]] gets ≤ K+1 chunks per (customer, cutoff) — the
    * bound both the batch precompute and the streaming twin rely on.
    */
  def dailyTopKChunks(actions: DataFrame, maxHistory: Int = DefaultMaxHistory): DataFrame = {
    val wDay = Window
      .partitionBy(col("customer_id"), col("action_day"))
      .orderBy(col("action_time").desc, col("item_id"), col("action_type"))
    val daily = actions
      .withColumn("action_day", to_date(col("action_time")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") <= maxHistory)
      .groupBy(col("customer_id"), col("action_day"))
      .agg(collect_list(struct(
        (-unix_micros(col("action_time"))).as("neg_us"),
        col("item_id"),
        col("action_type"))).as("chunk"))
    val wCust = Window.partitionBy(col("customer_id")).orderBy(col("action_day"))
    daily.withColumn("expiry_day", lead(col("action_day"), maxHistory).over(wCust))
  }

  /** The chunk-vs-cutoff relevance predicate paired with
    * [[dailyTopKChunks]]: strictly-before-cutoff, and not expired (≤ K
    * later chunks exist before the cutoff).
    */
  def chunkQualifies(actionDay: org.apache.spark.sql.Column, cutoffDay: org.apache.spark.sql.Column,
      expiryDay: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    actionDay < cutoffDay && (expiryDay.isNull || cutoffDay <= expiryDay)

  def customerHistoryBeforeDt(
      actions: DataFrame,
      dts: DataFrame,
      maxHistory: Int = DefaultMaxHistory,
      horizonDays: Option[Int] = None): DataFrame = {
    val cutoffs = dts.select(col("dt"), to_date(col("dt")).as("cutoff_day"))

    val dailyWithExpiry = dailyTopKChunks(actions, maxHistory)

    // Stage 2: fan compact chunks out to qualifying cutoffs, merge, re-rank.
    val inRange = chunkQualifies(col("action_day"), col("cutoff_day"), col("expiry_day"))
    val joinCond = horizonDays match {
      case Some(h) => inRange && col("action_day") >= date_sub(col("cutoff_day"), h)
      case None    => inRange
    }
    val agg = dailyWithExpiry
      .join(broadcast(cutoffs), joinCond)
      .groupBy(col("customer_id"), col("dt"))
      .agg(slice(array_sort(flatten(collect_list(col("chunk")))), 1, maxHistory).as("hist"))
    agg.select(Seq(col("customer_id"), col("dt")) ++ paddedArrays(maxHistory): _*)
  }

  /** O4 (pipeline.py:118-220): the full pipeline. See object scaladoc for
    * the three semantic fixes. One row out per impressed item, with label
    * and fixed-length history arrays.
    */
  def produceTrainingExamples(
      impressions: DataFrame,
      clicks: DataFrame,
      addToCarts: DataFrame,
      orders: DataFrame,
      maxHistory: Int = DefaultMaxHistory,
      saltBuckets: Option[Int] = None): DataFrame =
    produceTrainingExamplesFromActions(
      impressions, normalizeActions(clicks, addToCarts, orders), maxHistory, saltBuckets)

  /** O4 from a pre-normalized (and possibly caller-persisted) actions table
    * (non-null `item_id`/`action_type`, as [[normalizeActions]] emits) — the
    * entry point for repeated daily runs where `all_actions` lives across
    * invocations (README.md:64).
    *
    * [[HistoryFold]] needs all matches of one exploded row to arrive
    * consecutively: the left-outer join streams the impression side and
    * builds the actions side (broadcast or sort-merge).
    * [[requireStreamsImpressions]] fails fast on any plan that could build
    * the impression side instead.
    */
  def produceTrainingExamplesFromActions(
      impressions: DataFrame,
      actions: DataFrame,
      maxHistory: Int = DefaultMaxHistory,
      saltBuckets: Option[Int] = None,
      saltOnlyCustomers: Option[Seq[Long]] = None): DataFrame = {
    val spark = impressions.sparkSession
    val width = math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt,
      spark.sparkContext.defaultParallelism)
    val ex = explodeImpressions(impressions)
      .withColumn("_row", monotonically_increasing_id())
      .withColumn("cutoff_ts", to_timestamp(concat(col("dt"), lit(" 00:00:00"))))

    // Hot-customer skew salting (README.md:70's "split hot customers" as a
    // real mechanism): actions spread deterministically over N sub-keys,
    // impression rows replicated over all N, join key becomes (customer,
    // salt); each (row, salt) folds to a partial top-K and a second fold
    // merges a row's ≤ N partials. `saltOnlyCustomers` narrows this to a
    // known hot-key set (from [[detectHotCustomers]]): everyone else keeps
    // salt 0 and is NOT replicated, so the ×N cost is paid only where the
    // skew is.
    val (exS, actS, keys) = saltBuckets match {
      case Some(n) =>
        val allSalts = sequence(lit(0), lit(n - 1))
        val actSalt = pmod(hash(col("item_id"), col("action_time")), lit(n))
        val (exSalts, actSaltCol) = saltOnlyCustomers match {
          case Some(hot) =>
            val isHot = col("customer_id").isInCollection(hot)
            (when(isHot, allSalts).otherwise(array(lit(0))),
              when(isHot, actSalt).otherwise(lit(0)))
          case None => (allSalts, actSalt)
        }
        (ex.withColumn("_salt", explode(exSalts)), actions.withColumn("_salt", actSaltCol),
          Seq("customer_id", "_salt"))
      case None => (ex, actions, Seq("customer_id"))
    }

    // Anti-leakage predicate in the ON clause (fix #1): null-extended rows
    // for history-less customers survive the left join.
    val cond = keys.map(k => col(s"ex.$k") === col(s"act.$k")).reduce(_ && _) &&
      col("act.action_time") < col("ex.cutoff_ts")
    val joined = exS.repartition(width, keys.map(col): _*).alias("ex")
      .join(actS.alias("act"), cond, "left_outer")
      .select((HistoryFold.Keys :+ "_row").map(k => col(s"ex.$k")) ++ Seq(
        unix_micros(col("act.action_time")).as("_us"),
        col("act.item_id").cast(LongType).as("_item"),
        col("act.action_type").cast(IntegerType).as("_type")): _*)
    requireStreamsImpressions(joined)
    if (saltBuckets.isEmpty) HistoryFold(joined, maxHistory, partial = false)
    else HistoryFold(
      HistoryFold(joined, maxHistory, partial = true)
        .repartition(width, col("_row")).sortWithinPartitions(col("_row")),
      maxHistory, partial = false)
  }

  /** Fails unless the impression-actions join streams the impression side,
    * the contiguity [[HistoryFold]] relies on: a sort-merge join, or a hash
    * join building the actions side. Checked on the planned join (so a
    * shuffled-hash join from `spark.sql.join.preferSortMergeJoin=false` or a
    * hint is caught), and AQE's runtime switch to shuffled-hash joins
    * (`spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold` > 0), which
    * may build either side, is refused up front.
    */
  private def requireStreamsImpressions(joined: DataFrame): Unit = {
    val plan = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val join = plan.collectFirst { case j: BaseJoinExec => j }
    require(join.exists {
      case _: SortMergeJoinExec => true
      case h: HashJoin => h.buildSide == BuildRight
      case _ => false
    }, "produceTrainingExamples needs a join that streams the impression side " +
      s"(sort-merge, or a hash join building the actions side); planned: ${join.map(_.nodeName)}")
    val conf = joined.sparkSession.conf
    require(!conf.get("spark.sql.adaptive.enabled").toBoolean || JavaUtils.byteStringAsBytes(
      conf.get("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold")) == 0,
      "produceTrainingExamples cannot run with AQE shuffled-hash joins " +
        "(spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold > 0): they may build the impression side")
  }

  /** Deterministic hash-based negative sampling — the ranking-training
    * complement of the impression positives: per carousel
    * (dt, ranking_id, customer_id), up to `numNegatives` items drawn
    * pseudo-randomly from the item universe, excluding everything the
    * carousel actually showed. Draw i of a carousel is
    * `md5(ranking_id|i) mod numItems` — an exact function of the data, so
    * samples reproduce across runs/partitionings (resumable backfills)
    * and hash-verify against a SQL oracle; `2×numNegatives` draws give
    * collision headroom (duplicate draws collapse to the earliest index,
    * shown-item hits are dropped), so a carousel only comes up short if
    * more than half its draws collide — negligible while the universe
    * dwarfs the carousel.
    *
    * Scale: the shown-item set comes straight off the carousel row's own
    * array (no item explode), aggregated once per carousel key so
    * duplicate carousel rows union their shown sets — compact arrays
    * through one carousel-keyed exchange, and the item universe is never
    * materialized or joined. Null item_ids are stripped before the
    * membership test (Spark's array_contains is three-valued: a null
    * element would turn "not shown" into NULL and silently drop every
    * draw).
    */
  def sampleNegatives(
      impressions: DataFrame,
      numNegatives: Int = 4,
      numItems: Long = 1000L): DataFrame = {
    val rowShown = coalesce(
      filter(
        transform(col("impressions"), x => x.getField("item_id").cast("long")),
        x => x.isNotNull),
      array().cast("array<long>"))
    val carousels = impressions
      .select(
        col("dt"), col("ranking_id"),
        col("customer_id").cast("long").as("customer_id"),
        rowShown.as("row_shown"))
      .groupBy(col("dt"), col("ranking_id"), col("customer_id"))
      .agg(array_distinct(flatten(collect_list(col("row_shown")))).as("shown"))
    val wCar = Window
      .partitionBy(col("dt"), col("ranking_id"), col("customer_id"))
      .orderBy(col("j"))
    carousels
      .select(
        col("dt"), col("ranking_id"), col("customer_id"), col("shown"),
        explode(sequence(lit(0), lit(2 * numNegatives - 1))).as("j"))
      .withColumn(
        "cand",
        pmod(
          graft.functions.Hashing.md5Long60(concat_ws("|", col("ranking_id"), col("j"))),
          lit(numItems)))
      .filter(!array_contains(col("shown"), col("cand")))
      .groupBy(col("dt"), col("ranking_id"), col("customer_id"), col("cand"))
      .agg(min(col("j")).as("j"))
      .withColumn("rn", row_number().over(wCar).cast("int"))
      .filter(col("rn") <= numNegatives)
      .select(
        col("dt"), col("ranking_id"), col("customer_id"),
        col("cand").as("item_id"), lit(0).as("label"), col("rn"))
  }

  /** Hot-key detection for targeted salting: customers whose action count
    * exceeds `threshold`. One partial-aggregated count per customer; the
    * collect is metadata-sized (hot keys are few by definition — `cap`
    * guards a mis-set threshold from flooding the driver).
    */
  def detectHotCustomers(actions: DataFrame, threshold: Long, cap: Int = 1000): Seq[Long] =
    actions.groupBy(col("customer_id")).count()
      .filter(col("count") > threshold)
      .orderBy(col("count").desc)
      .limit(cap)
      .select("customer_id").collect().map(_.getLong(0)).toSeq

  /** Typed variant of O4: same plan, surfaced as `Dataset[TrainingExample]`
    * (SURVEY §1.4's typed entry point).
    */
  def produceTrainingExamplesTyped(
      spark: org.apache.spark.sql.SparkSession,
      impressions: DataFrame,
      clicks: DataFrame,
      addToCarts: DataFrame,
      orders: DataFrame,
      maxHistory: Int = DefaultMaxHistory): org.apache.spark.sql.Dataset[graft.model.TrainingExample] = {
    import spark.implicits._
    produceTrainingExamples(impressions, clicks, addToCarts, orders, maxHistory)
      .as[graft.model.TrainingExample]
  }

  /** O4 via the O3 precompute: join impressions against the compact
    * materialized per-(customer, dt) history store instead of raw actions —
    * the README's production path (README.md:69-72). Impressions with no
    * history row get all-zero arrays, same documented semantics as
    * [[produceTrainingExamples]].
    *
    * Scale: avoids re-ranking the full action history per impressed item —
    * the history is computed once per (customer, day) regardless of how many
    * carousel items that day had, then a plain equi-join on
    * (customer_id, dt) fans it out.
    */
  def produceTrainingExamplesPrecomputed(
      impressions: DataFrame,
      histories: DataFrame,
      maxHistory: Int = DefaultMaxHistory): DataFrame = {
    val ex = explodeImpressions(impressions)
    ex.join(histories, Seq("customer_id", "dt"), "left_outer")
      .select(
        col("dt"), col("ranking_id"), col("customer_id"),
        col("impression_pos"), col("impression_item_id"), col("label"),
        coalesce(col("actions"), array_repeat(lit(0L), maxHistory)).as("actions"),
        coalesce(col("action_types"), array_repeat(lit(0), maxHistory)).as("action_types"))
  }
}

/** The per-row history fold of
  * [[TrainingPipeline.produceTrainingExamplesFromActions]], a generator over
  * the join output [[HistoryFold.Columns]] whose rows with one `_row` arrive
  * consecutively. It keeps that row's best `maxHistory` matches in a bounded
  * heap under the total order (`_us` DESC, `_item`, `_type`) — a hot
  * customer costs O(maxHistory), never O(actions) — and when `_row` changes
  * or the partition ends emits either one row `(keys…, actions,
  * action_types)`, most recent first and zero-padded to `maxHistory`, or
  * (`partial`) the kept matches in the input's shape (one null-action row if
  * none) for a second fold to merge. The null-extended row adds nothing.
  * The output depends on input order, so the fold is not deterministic.
  * State belongs to the task that opened the run: a run left open by a task
  * that stopped before `terminate` is dropped, never carried into another
  * partition. `CodegenFallback` keeps GenerateExec on the interpreted path,
  * the one that calls `terminate`.
  */
private[graft] case class HistoryFold(children: Seq[Expression], maxHistory: Int, partial: Boolean)
    extends Generator with CodegenFallback {

  private val nKeys = HistoryFold.Keys.length

  override def prettyName: String = "graft_history_fold"

  override lazy val deterministic: Boolean = false

  override def elementSchema: StructType = {
    val in = children.zip(HistoryFold.Columns).map { case (c, n) => StructField(n, c.dataType, c.nullable) }
    if (partial) StructType(in)
    else StructType(in.take(nKeys) ++ Seq(
      StructField("actions", ArrayType(LongType, containsNull = true), nullable = false),
      StructField("action_types", ArrayType(IntegerType, containsNull = true), nullable = false)))
  }

  @transient private lazy val in = children.toIndexedSeq
  // A heap of ≤ maxHistory entries plus one slot for the entry being offered.
  @transient private lazy val us = new Array[Long](maxHistory + 1)
  @transient private lazy val item = new Array[Long](maxHistory + 1)
  @transient private lazy val tpe = new Array[Int](maxHistory + 1)
  private var n = 0
  /** The open run's keys and `_row`; null before its first row. */
  private var run: Array[Any] = null
  /** The task that opened the run. */
  @transient private var task: TaskContext = null

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    dropStale()
    val id = in(nKeys).eval(input)
    val out = if (run != null && run(nKeys) != id) emit() else Nil
    if (run == null) {
      run = in.take(nKeys + 1).map(c => InternalRow.copyValue(c.eval(input))).toArray
      task = TaskContext.get()
    }
    val u = in(nKeys + 1).eval(input)
    if (u != null) {
      val i = in(nKeys + 2).eval(input)
      val t = in(nKeys + 3).eval(input)
      if (i == null || t == null) throw new IllegalArgumentException(
        "training-example actions need non-null item_id and action_type (see normalizeActions)")
      offer(u.asInstanceOf[Long], i.asInstanceOf[Long], t.asInstanceOf[Int])
    }
    out
  }

  override def terminate(): IterableOnce[InternalRow] = { dropStale(); if (run == null) Nil else emit() }

  private def dropStale(): Unit = if (run != null && (task ne TaskContext.get())) { run = null; n = 0 }

  private def emit(): Seq[InternalRow] = {
    val keys = run.toSeq
    val rows =
      if (partial) {
        if (n == 0) Seq(InternalRow.fromSeq(keys ++ Seq(null, null, null)))
        else (0 until n).map(j => InternalRow.fromSeq(keys ++ Seq[Any](us(j), item(j), tpe(j))))
      } else {
        var m = n // heap sort: each round moves the worst kept entry to the end
        while (m > 1) { m -= 1; swap(0, m); siftDown(m) }
        val a = new Array[Long](maxHistory)
        val b = new Array[Int](maxHistory)
        System.arraycopy(item, 0, a, 0, n)
        System.arraycopy(tpe, 0, b, 0, n)
        Seq(InternalRow.fromSeq(keys.take(nKeys) ++
          Seq(UnsafeArrayData.fromPrimitiveArray(a), UnsafeArrayData.fromPrimitiveArray(b))))
      }
    run = null
    n = 0
    rows
  }

  /** Entry a ranks after entry b: older, or tied and a larger item/type. */
  private def after(a: Int, b: Int): Boolean =
    us(a) < us(b) || us(a) == us(b) && (item(a) > item(b) || item(a) == item(b) && tpe(a) > tpe(b))

  private def set(a: Int, u: Long, i: Long, t: Int): Unit = { us(a) = u; item(a) = i; tpe(a) = t }

  private def swap(a: Int, b: Int): Unit = {
    val u = us(a); val i = item(a); val t = tpe(a)
    set(a, us(b), item(b), tpe(b))
    set(b, u, i, t)
  }

  /** Max-heap on "ranks after" (the root is the worst kept entry): push,
    * then drop the root once the heap holds more than `maxHistory`.
    */
  private def offer(u: Long, i: Long, t: Int): Unit = {
    set(n, u, i, t)
    var c = n
    n += 1
    while (c > 0 && after(c, (c - 1) / 2)) { swap(c, (c - 1) / 2); c = (c - 1) / 2 }
    if (n > maxHistory) { n -= 1; swap(0, n); siftDown(n) }
  }

  /** Restores the heap over entries [0, m) after its root changed. */
  private def siftDown(m: Int): Unit = {
    var p = 0
    var l = 1
    while (l < m) {
      val c = if (l + 1 < m && after(l + 1, l)) l + 1 else l
      if (after(c, p)) { swap(c, p); p = c; l = 2 * p + 1 } else l = m
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): HistoryFold =
    copy(children = newChildren)
}

private[graft] object HistoryFold {

  /** The impression columns every training example carries. */
  val Keys: Seq[String] =
    Seq("dt", "ranking_id", "customer_id", "impression_pos", "impression_item_id", "label")

  /** The fold's input: the keys, the row id, then one action. */
  val Columns: Seq[String] = Keys ++ Seq("_row", "_us", "_item", "_type")

  def apply(df: DataFrame, maxHistory: Int, partial: Boolean): DataFrame =
    df.select(org.apache.spark.sql.graft.bridge.column(HistoryFold(
      Columns.map(c => org.apache.spark.sql.graft.bridge.expression(col(c))), maxHistory, partial)))
}
