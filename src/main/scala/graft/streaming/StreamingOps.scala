package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming operators: the streaming twins of the batch engine.
  *
  * The reference is batch-only (SURVEY §2.8 — "all of streaming" absent),
  * but its README motivates the pipeline with "raw Kafka-level data"
  * (README.md:72); these operators are that production path, Spark-first:
  * `readStream` sources compose with the exact same projection/union logic
  * as the batch `normalizeActions` (a streaming DataFrame accepts the same
  * expressions), watermarked tumbling windows handle late events, and
  * gap-based sessionization is `mapGroupsWithState` keyed by user.
  *
  * Scale: state stores are keyed by (user | window×type) — both bounded;
  * watermarks expire window state, and session state is O(1) per user.
  */
object StreamingOps {

  /** Tumbling-window action counts with a late-data watermark.
    * Works on any (streaming or batch) frame with the normalized-actions
    * schema produced by `TrainingPipeline.normalizeActions`.
    */
  def windowedActionCounts(
      actions: DataFrame,
      windowDuration: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    actions
      .withWatermark("action_time", watermarkDelay)
      .groupBy(window(col("action_time"), windowDuration), col("action_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("action_type"),
        col("n"))

  /** Streaming exact dedup: drop events whose `idCols` were already seen
    * within the watermark horizon — the streaming face of
    * `Dedup.exactDuplicates`. State is bounded by the watermark: ids older
    * than `watermarkDelay` are expired from the state store, which is what
    * makes this viable on an unbounded 100 TB/day stream (a plain
    * `dropDuplicates` would grow state forever).
    */
  def dedupStream(
      events: DataFrame,
      timeCol: String,
      idCols: Seq[String],
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-static twin of the flagship pipeline: impressions arrive as a
    * STREAM, the normalized action table is a maintained STATIC table
    * (README.md:64's persisted `all_actions`), and each micro-batch emits
    * updated training examples for the carousels it saw. This is the
    * production shape the reference's README gestures at ("raw Kafka-level
    * data") — a daily-refresh action table joined by an always-on stream.
    *
    * Window functions are unsupported on streams, so ranking reuses the
    * history precompute's collect→sort→slice merge (`neg_us` struct order
    * = the pipeline's total order); results match the batch
    * `produceTrainingExamples` exactly (pinned by spec). Aggregation state
    * is keyed by the impression key including the event-time `cutoff_ts`
    * and expires `watermarkDelay` behind the newest impression day — state
    * is bounded by (carousels per watermark horizon), not by stream
    * lifetime.
    *
    * Per-group state is ALSO bounded: the static side is not raw actions
    * but O3-stage-1 per-(customer, day) top-K chunks
    * ([[graft.operators.TrainingPipeline.dailyTopKChunks]]), and the join
    * carries the chunk-expiry predicate, so each impression group
    * aggregates ≤ maxHistory+1 chunk arrays no matter how many actions a
    * hot customer has — the same bound the batch precompute enforces. (A
    * raw-action join would collect a hot customer's ENTIRE pre-cutoff
    * history into the state store before slicing.)
    *
    * The chunk table is a deterministic function of `actions`; for an
    * actions table refreshed daily, compute it once per refresh and pass
    * it pre-persisted via `precomputedChunks` so micro-batches don't
    * re-aggregate the static side.
    */
  def streamingTrainingExamples(
      impressions: DataFrame,
      actions: DataFrame,
      maxHistory: Int = graft.operators.TrainingPipeline.DefaultMaxHistory,
      watermarkDelay: String = "2 days",
      precomputedChunks: Option[DataFrame] = None): DataFrame = {
    import graft.operators.TrainingPipeline
    val ex = TrainingPipeline.explodeImpressions(impressions)
      .withColumn("cutoff_ts", to_timestamp(col("dt")))
      .withColumn("cutoff_day", to_date(col("dt")))
      .withWatermark("cutoff_ts", watermarkDelay)
    val chunks = precomputedChunks
      .getOrElse(TrainingPipeline.dailyTopKChunks(actions, maxHistory))
      .select(
        col("customer_id").as("act_customer_id"),
        col("action_day"), col("expiry_day"), col("chunk"))
    val joined = ex.join(
      chunks,
      col("customer_id") === col("act_customer_id") &&
        TrainingPipeline.chunkQualifies(col("action_day"), col("cutoff_day"), col("expiry_day")),
      "left_outer")
    val agg = joined
      .groupBy(
        col("cutoff_ts"), col("dt"), col("ranking_id"), col("customer_id"),
        col("impression_pos"), col("impression_item_id"), col("label"))
      .agg(slice(
        array_sort(flatten(collect_list(when(col("chunk").isNotNull, col("chunk"))))),
        1, maxHistory).as("hist"))
    agg.select(
      Seq(
        col("dt"), col("ranking_id"), col("customer_id"),
        col("impression_pos"), col("impression_item_id"), col("label")) ++
        TrainingPipeline.paddedArrays(maxHistory): _*)
  }

  /** Stream-stream time-bounded join (streaming attribution): every
    * (left, right) pair with equal keys and `rightTime` within
    * `[leftTime - lookback, leftTime]` — e.g. purchases attributed to the
    * same user's clicks in the preceding hour. The streaming face of
    * [[graft.operators.Joins.rangeJoin]].
    *
    * Both sides carry watermarks and the join condition bounds event time
    * in BOTH directions, which is exactly what lets Spark's symmetric
    * hash join evict state: a buffered right row is droppable once the
    * left watermark passes `rightTime + lookback`, a left row once the
    * right watermark passes `leftTime` — state is O(traffic within the
    * lookback + watermark horizon), not stream lifetime.
    *
    * Non-key column names must be disjoint between the sides.
    */
  def streamStreamWindowJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      lookback: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(leftTime, watermarkDelay)
    val r = right.withWatermark(rightTime, watermarkDelay)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    l.join(
      r,
      keyCond &&
        col(rightTime) <= col(leftTime) &&
        col(rightTime) >= col(leftTime) - expr(s"INTERVAL $lookback"),
      "inner")
      .drop(keys.map(r(_)).head, keys.map(r(_)).tail: _*)
  }

  // --- Per-epoch state: one table of kinds, four generic operations ---

  /** Replay-idempotent `foreachBatch` sink for a state kind: each
    * micro-batch's state (the kind's per-batch build) lands in its own
    * `batch_id=<epoch>` directory with overwrite semantics, so a batch
    * REPLAYED after a failure (Structured Streaming's at-least-once
    * foreachBatch contract) rewrites its own directory instead of
    * appending duplicates — idempotence comes from the deterministic
    * (path, batchId) mapping, not a transaction log. The live state is
    * the kind's merge over all epochs at READ time ([[merged]]), and
    * [[compact]] folds old epochs with the same merge.
    * [[EpochState.Rows]] lands each batch as-is.
    *
    * {{{
    * val cms = EpochState.CountMin("grp", "item")
    * tokens.writeStream.foreachBatch(StreamingOps.sink(cms, path)).start()
    * // any time later, on any session:
    * val est = Sketches.probeCountMin(StreamingOps.merged(spark, cms, path), probes)
    * }}}
    */
  def sink(kind: EpochState, basePath: String): (DataFrame, Long) => Unit = {
    val e = entry(kind)
    (batch: DataFrame, batchId: Long) => land(e.build(batch), basePath, batchId)
  }

  /** TAKEDOWN (subtraction) epochs for an additive kind: the epoch lands
    * the removed rows' state with its count NEGATED, in the same
    * directory and layout, so the merge — the plain key-wise sum —
    * cancels their contribution exactly and [[merged]] equals the build
    * over the surviving input. Contract: feed a retraction epoch the
    * SAME rows its add epochs ingested, once each; over-deletion drives
    * counts negative, which the merge's `count > 0` filter clamps rather
    * than propagates. Replays overwrite like any epoch, and add and
    * retraction epochs share one `batch_id=` namespace.
    *
    * Refused with an IllegalArgumentException when the sink is built for
    * any other kind: per-document kinds delete by tombstones (land the
    * ids with `sink(EpochState.Tombstones(idCol), deletesPath)` and pass
    * `deletesPath` to [[merged]] and [[compact]]), and the rest have no
    * inverse — their takedown is a rebuild from the surviving input.
    */
  def retractSink(kind: EpochState, basePath: String): (DataFrame, Long) => Unit =
    entry(kind) match {
      case Entry(build, cols, _, Negate(n)) =>
        (batch: DataFrame, batchId: Long) =>
          land(build(batch).select(cols.map(c => if (c == n) (-col(c)).as(c) else col(c)): _*),
            basePath, batchId)
      case Entry(_, _, _, Tombstoned(_)) =>
        throw new IllegalArgumentException(s"${kind.productPrefix} is per-document state: " +
          "delete its rows with an EpochState.Tombstones sink and read with deletesPath")
      case _ =>
        throw new IllegalArgumentException(
          s"${kind.productPrefix} state has no inverse: rebuild it from the surviving input")
    }

  /** The live state of a kind's directory: the kind's merge over every
    * live epoch (compaction-aware — see [[compactedStateView]]). For an
    * additive kind the merge's `count > 0` filter is the read half of
    * [[retractSink]]'s contract: a key whose every count came from
    * removed rows VANISHES, exactly as in the build over the survivors.
    * `deletesPath` names an [[EpochState.Tombstones]] directory (never
    * the state's own — its partition discovery owns the root): a
    * per-document kind anti-joins the removed ids at read time, which
    * makes replays, double deletes and deletes of never-ingested ids
    * no-ops; the other kinds refuse it.
    */
  def merged(
      spark: SparkSession,
      kind: EpochState,
      basePath: String,
      deletesPath: Option[String] = None): DataFrame = {
    val e = entry(kind)
    e.merge(withoutDeleted(spark, kind, compactedStateView(spark, basePath, e.cols), deletesPath))
  }

  /** Fold every epoch `≤ keepAfter` of a kind's directory into one base
    * partition with the kind's merge — the function [[merged]] applies,
    * so the merged view is unchanged ([[foldToBase]] has the layout
    * and crash-safety contract). With `deletesPath` the fold ALSO applies
    * the tombstones PHYSICALLY: removed ids leave the disk, not just the
    * view; keep reading with the same `deletesPath`, since live epochs
    * above the watermark still carry their rows. Returns the number of
    * directories removed.
    */
  def compact(
      spark: SparkSession,
      kind: EpochState,
      basePath: String,
      keepAfter: Long,
      deletesPath: Option[String] = None): Int = {
    val e = entry(kind)
    foldToBase(spark, basePath, keepAfter, e.cols,
      df => e.merge(withoutDeleted(spark, kind, df, deletesPath)))
  }

  /** How a kind's state takes a deletion. */
  private sealed trait Delete
  /** Additive state: a retraction epoch lands the build with `count` negated. */
  private final case class Negate(count: String) extends Delete
  /** Per-document state: tombstoned ids anti-join out on each of `ids`. */
  private final case class Tombstoned(ids: Seq[String]) extends Delete
  private case object NoInverse extends Delete

  /** One row of the state table: the per-batch build, the state columns
    * (empty = whole rows), the merge that reads and compaction both
    * apply, and the delete rule.
    */
  private final case class Entry(
      build: DataFrame => DataFrame,
      cols: Seq[String],
      merge: DataFrame => DataFrame,
      delete: Delete)

  private def additive(build: DataFrame => DataFrame, keys: Seq[String], count: String): Entry =
    Entry(build, keys :+ count,
      _.groupBy(keys.map(col): _*).agg(sum(col(count)).as(count)).filter(col(count) > 0L),
      Negate(count))

  private def perDocument(build: DataFrame => DataFrame, cols: Seq[String], ids: String*): Entry =
    Entry(build, cols, identity, Tombstoned(ids))

  /** The state table. */
  private def entry(kind: EpochState): Entry = {
    import EpochState._
    import graft.functions.Sketches
    import graft.operators.{Dedup, Multimodal, Similarity}
    kind match {
      // Cells are cell-wise additive; a cell that reads absent probes as 0, as in the batch sketch.
      case CountMin(g, i, d, w) =>
        additive(Sketches.countMinCells(_, g, i, d, w), Seq("grp", "row", "bucket"), "c")
      // Doc frequencies sum because micro-batches are doc-disjoint.
      case PassageCounts(len) => additive(Dedup.passageDigestCounts(_, len), Seq("dig"), "df")
      // Dense windows: catches boilerplate at any token offset, unlike the aligned grid.
      case RollingCounts(len) => additive(Dedup.rollingDigestCounts(_, len), Seq("dig"), "df")
      // Content-defined chunks: a shared span strips whole at any byte offset.
      case CdcCounts(m) => additive(Dedup.chunkDigestCounts(_, m), Seq("dig"), "df")
      // Occurrences, not doc frequencies: a removed doc's self-repeats subtract too.
      case ExactSubstrCounts(len) =>
        additive(Dedup.rollingOccurrenceCounts(_, len), Seq("dig"), "occ")
      // Only 16-byte digests land; the frames die inside the epoch's decode scan.
      case VideoFingerprints(every) =>
        perDocument(b => Multimodal.videoFingerprints(Multimodal.sampleVideoFrames(
            Multimodal.decodeAviFrames(b.sparkSession, b), every)),
          Seq("doc_id", "n_sampled", "video_fp"), "doc_id")
      // Text is shingled once, at admission; nearDupAgainst reads the merged index.
      case SignatureIndex(k, n) =>
        perDocument(Dedup.signatureDigestIndex(_, k, n), Seq("doc_id", "sigs", "shl", "n_sh"),
          "doc_id")
      // The quantizer is frozen: re-training per batch would invalidate prior postings.
      case IvfPostings(cents) =>
        perDocument(b => {
            require(cents.nonEmpty, "an IVF postings sink needs the frozen quantizer")
            Similarity.ivfAssignWith(b, cents)
          }, Seq("vec_id", "qe", "n2", "cell"), "vec_id")
      // HLL registers max-merge, so there is no inverse (and a cross-epoch duplicate counts once).
      case Hll(g, v, p) =>
        Entry(Sketches.hllRegisters(_, g, v, p).withColumnRenamed(g, "grp"),
          Seq("grp", "reg", "r"), df => Sketches.mergeHllRegisters("grp", Seq(df)), NoInverse)
      // Misra–Gries trims on merge, so there is no inverse; the item-NULL row sums the group total.
      case MisraGries(g, i, k) =>
        Entry(b => {
            val sk = Sketches.heavyHitters(b, g, i, k)
            sk.select(col("grp"), explode(col("mg")).as(Seq("item", "est")))
              .unionByName(
                sk.select(col("grp"), lit(null).cast("string").as("item"), col("n").as("est")))
          }, Seq("grp", "item", "est"), mergeMgRows(_, k), NoInverse)
      // Deletion by anti-join is idempotent, so tombstones are permanent until rewritten.
      case Tombstones(idCol) =>
        Entry(_.select(col(idCol).cast("long").as("vec_id")).distinct(), Seq("vec_id"),
          _.distinct(), NoInverse)
      // Admission already made the epochs disjoint, so whole rows concatenate.
      case Rows => Entry(identity, Nil, identity, NoInverse)
      // Per-src top-K is a semilattice under (dp DESC, nb), so the sink-degree prune folds.
      case GraphAnnCand(degree) =>
        val prune = (df: DataFrame) => Similarity.topDegreeCandidates(df.distinct(), degree)
        Entry(prune, Seq("src", "nb", "dp"), prune, Tombstoned(Seq("src", "nb")))
      case GraphAnnFar =>
        Entry(_.distinct(), Seq("src", "nb"), _.distinct(), Tombstoned(Seq("src", "nb")))
      // Graph-ANN vecs fold last as the replay authority (see compactGraphAnnEpochs).
      case GraphAnnVecs => perDocument(identity, Seq("vec_id", "qe", "bucket"), "vec_id")
    }
  }

  private def land(state: DataFrame, basePath: String, batchId: Long): Unit =
    state.write.mode("overwrite").parquet(s"$basePath/batch_id=$batchId")

  private def withoutDeleted(
      spark: SparkSession,
      kind: EpochState,
      df: DataFrame,
      deletesPath: Option[String]): DataFrame = entry(kind).delete match {
    case Tombstoned(ids) => antiTombstone(spark, df, deletesPath, ids: _*)
    case _ =>
      require(deletesPath.isEmpty,
        s"${kind.productPrefix} state has no tombstone rule; deletesPath does not apply")
      df
  }

  private def antiTombstone(
      spark: SparkSession,
      df: DataFrame,
      deletesPath: Option[String],
      idCols: String*): DataFrame =
    deletesPath.fold(df) { p =>
      val dead = merged(spark, EpochState.Tombstones(), p)
      idCols.foldLeft(df)((d, c) =>
        d.join(dead.select(col("vec_id").as(c)), Seq(c), "left_anti"))
    }

  /** End-to-end incremental curation: a `foreachBatch` sink that admits
    * each micro-batch of candidate documents into a continuously-growing
    * corpus — quality filter, exact dedup, and verified near-dup dedup
    * against EVERYTHING already kept
    * ([[graft.operators.Curation.admitSnapshot]]) — and lands the
    * admitted rows in the batch's own `batch_id=<epoch>` directory.
    *
    * The kept corpus for batch `b` is `keptInit` plus the admitted
    * output of every batch `< b`. AUTHORITATIVELY that set lives in the
    * sink directory (it is both the output and the dedup state), so a
    * batch REPLAYED after a failure (foreachBatch's at-least-once
    * contract) recomputes against exactly the same kept set — its own
    * prior output is excluded by the `batch_id < b` filter — and
    * overwrites its own directory: exactly-once admission semantics
    * with no transaction log, and the final corpus equals the
    * batch-computed sequential admission (pinned by spec).
    *
    * The kept REPRESENTATION is incremental: the closure carries ONE
    * persisted combined index per delta (signatures, shingle digests
    * and content hash from a single text scan —
    * [[graft.operators.Curation.admissionIndex]]), appending each
    * batch's admitted delta read back from its committed directory
    * (replay authority AND lineage truncation — see the sink body).
    * Kept TEXT is re-read only when the carried index cannot serve the
    * batch (first batch of a driver lifetime, or a replayed epoch after
    * restart), so steady-state per-batch cost is the candidate batch's
    * own admission shuffles, never a kept-corpus rescan. Compaction
    * points (`compact(spark, EpochState.Rows, path, w)`) rebase it.
    *
    * Returns the sink and the release handle for the carried index
    * caches — call the second element after the stream stops.
    *
    * {{{
    * val (sink, release) = StreamingOps.corpusAdmissionSink(spark, kept, path)
    * try candidates.writeStream.foreachBatch(sink).start().awaitTermination()
    * finally release()
    * }}}
    */
  def corpusAdmissionSink(
      spark: SparkSession,
      keptInit: DataFrame,
      basePath: String,
      minJaccard: Double = 0.75,
      batchShufflePartitions: Option[Int] = None): ((DataFrame, Long) => Unit, () => Unit) = {
    val state = new AdmissionIndexState
    val sink = (streamBatch: DataFrame, batchId: Long) => {
      // A replayed batch at or below the compaction watermark is a
      // NO-OP: its admitted rows are final inside the base partition, and
      // recomputing would dedup the batch against its own prior output
      // (self-exclusion is exactly what the `< batchId` filter provides
      // for live epochs, and what the base can no longer provide).
      val wm = epochWatermark(spark, basePath)
      if (!wm.exists(batchId <= _)) {
        // Micro-batch plans cannot re-plan at runtime (Structured
        // Streaming pins AQE off for the cloned execution session), so
        // the shuffle width must be sized STATICALLY for the trigger
        // volume — a small batch shuffling at a cluster-sized partition
        // count pays pure task-scheduling overhead on every one of the
        // admission DAG's exchanges. `batchShufflePartitions` scopes
        // the width to this sink's jobs (set on both the primary and
        // the cloned session, restored after the batch even on failure).
        val batch = streamBatch
        val docCols = batch.columns.map(col).toSeq
        val prevSp = batchShufflePartitions.map { _ =>
          (spark.conf.get("spark.sql.shuffle.partitions"),
            streamBatch.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        }
        batchShufflePartitions.foreach { n =>
          spark.conf.set("spark.sql.shuffle.partitions", n.toString)
          streamBatch.sparkSession.conf.set("spark.sql.shuffle.partitions", n.toString)
        }
        try {
        if (state.coveredThrough != batchId - 1 || state.idx.isEmpty) {
          // Rebase: first batch of this driver lifetime, or a replay /
          // gap the carried index cannot serve. Kept text is read ONCE
          // here; consecutive successors ride the carried index.
          state.release()
          val prior = scala.util.Try(spark.read.parquet(basePath))
            .map { df =>
              val withId = df.withColumn("batch_id", col("batch_id").cast("long"))
              (wm match {
                case Some(w) => withId.filter(
                  col("batch_id") === -(w + 1) ||
                    (col("batch_id") > w && col("batch_id") < batchId))
                case None => withId.filter(col("batch_id") < batchId)
              }).select(docCols: _*)
            }
            .getOrElse(batch.limit(0))
          val kept = keptInit.select(docCols: _*).unionByName(prior)
          state.append(graft.operators.Curation.admissionIndex(kept), batchId - 1)
        }
        // Bracketed admission: the write is the action, after which the
        // per-batch SNAPSHOT-side index caches are released — the kept
        // side rides the carried indexes and is never rebuilt here.
        graft.operators.Curation.withAdmitSnapshot(
            keptInit, batch, minJaccard,
            keptSignatures = state.sigs, keptHashes = state.hashes,
            snapshotBounded = true) { admitted =>
          land(admitted, basePath, batchId)
        }
        // Extend the carried index with this batch's committed output —
        // read back from the sink. The read-back is load-bearing TWICE:
        // the index always equals what a from-disk rebuild would produce
        // (replay authority), and the parquet scan TRUNCATES lineage —
        // building the delta from the in-memory admitted frame instead
        // nests each batch's full admission DAG inside the next batch's
        // carried-index plan, and the logical tree (hence per-batch
        // planning/explain) grows without bound (measured: 5s → 68s by
        // batch 3 at sf0.1 when this was tried, ISO_r17).
        val delta = spark.read.parquet(s"$basePath/batch_id=$batchId").select(docCols: _*)
        state.append(graft.operators.Curation.admissionIndex(delta), batchId)
        } finally prevSp.foreach { case (p1, p2) =>
          spark.conf.set("spark.sql.shuffle.partitions", p1)
          streamBatch.sparkSession.conf.set("spark.sql.shuffle.partitions", p2)
        }
      }
    }
    (sink, () => state.release())
  }

  /** The carried kept-corpus index of [[corpusAdmissionSink]]: lazy
    * unions of per-epoch persisted deltas, valid for admitting epoch
    * `coveredThrough + 1`. Driver-lifetime state only — a restarted
    * driver starts empty and rebuilds from the sink directory, which is
    * the authoritative state.
    */
  private final class AdmissionIndexState {
    var idx: Option[DataFrame] = None
    var coveredThrough: Long = Long.MinValue
    private var owned: List[DataFrame] = Nil
    def append(idxDelta: DataFrame, through: Long): Unit = {
      val d = idxDelta.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      owned = d :: owned
      idx = Some(idx.fold(d)(_.unionByName(d)))
      coveredThrough = through
    }
    def sigs: Option[DataFrame] = idx.map(graft.operators.Curation.admissionSigView)
    def hashes: Option[DataFrame] = idx.map(graft.operators.Curation.admissionHashView)
    def release(): Unit = {
      owned.foreach(_.unpersist())
      owned = Nil; idx = None; coveredThrough = Long.MinValue
    }
  }

  /** Drive [[corpusAdmissionSink]] from a REAL file-source stream — the
    * batch-parity surface that puts the streaming path under the same
    * DuckDB oracle gate as every batch operator (q116).
    *
    * Stages the candidate frame as one parquet file per
    * `doc_id % numBatches` shard with strictly increasing modification
    * times, then runs a `maxFilesPerTrigger=1` + `Trigger.AvailableNow`
    * query over the staged directory: the file source admits files in
    * mtime order, so shard `b` is exactly micro-batch `b` — the batch
    * boundaries are deterministic across runs, which the hash-compared
    * oracle requires. Each micro-batch is admitted against everything
    * kept before it (quality filter, exact dedup, verified near-dup —
    * [[graft.operators.Curation.admitSnapshot]] semantics) and the
    * returned frame is the final admitted corpus read back from the
    * sink, carrying the admitting `batch_id`. By the replay-parity spec,
    * this equals sequential `admitSnapshot` over the same shards.
    *
    * Scale shape: this is exactly how a production corpus grows — files
    * landing in a directory, picked up incrementally, deduped against
    * the whole admitted past; the per-batch cost is the admission
    * operators' (digest/band shuffles only), and the staged-shard
    * mechanism itself is O(input).
    */
  def admitViaFileStream(
      spark: SparkSession,
      candidates: DataFrame,
      keptInit: DataFrame,
      numBatches: Int = 3,
      minJaccard: Double = 0.75,
      stageKey: Option[String] = None): DataFrame = {
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_admit_sink").toString
    // Shard-sized micro-batches: width the admission shuffles to the
    // batch, not the cluster default (AQE cannot do it — see the sink).
    val (sink, release) = corpusAdmissionSink(
      spark, keptInit, sinkDir, minJaccard, batchShufflePartitions = Some(8))
    try streamShards(spark, candidates, "doc_id", numBatches, stageKey)(sink)
    finally release()
    spark.read.parquet(sinkDir)
  }

  /** Run any `(batch, batchId) => Unit` sink over a REAL file-source
    * stream with DETERMINISTIC micro-batch boundaries: the frame is
    * staged as one parquet file per `shardKey % numBatches` shard with
    * strictly increasing modification times, then a
    * `maxFilesPerTrigger=1` + `Trigger.AvailableNow` query admits the
    * files in mtime order — shard `b` is exactly micro-batch `b` on
    * every run, which hash-compared oracles require. This is the
    * batch-parity driver behind q116/q120/q121; production replaces the
    * staging with the real landing directory and drops the determinism
    * constraint.
    */
  def streamShards(
      spark: SparkSession,
      frame: DataFrame,
      shardKey: String,
      numBatches: Int,
      stageKey: Option[String] = None,
      shufflePartitions: Option[Int] = None,
      batchCodegen: Option[Boolean] = None)(sink: (DataFrame, Long) => Unit): Unit =
    streamShardsThrough(spark, frame, shardKey, numBatches,
      stageKey = stageKey, shufflePartitions = shufflePartitions,
      batchCodegen = batchCodegen)(identity)(sink)

  /** Memoized staged-shard directories, keyed by the caller's
    * `stageKey`. The staging itself is deterministic (pmod shards,
    * pinned mtimes), so a key that identifies (frame contents,
    * shardKey, numBatches) can reuse the directory across calls — a
    * bench block timing the STREAM three times should not pay the
    * corpus-copy write three times; the streaming machinery (fresh
    * checkpoint, full micro-batch replay) still runs in full every
    * call. Keyed dirs live for the process; unkeyed staging is deleted
    * per call as before.
    */
  private val stageDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.io.File]()
  // Process-lifetime ownership needs process-exit cleanup: without this
  // hook every bench/verify PROCESS would permanently leak its keyed
  // corpus copies in /tmp (the accumulation the original per-call
  // cleanup guarded against, re-introduced at process granularity).
  locally {
    java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() => {
      stageDirs.values().forEach(deleteRecursively(_))
    }, "graft-stage-dir-cleanup"))
  }

  /** [[streamShards]] with a STREAMING transform between the file source
    * and the sink — the driver for putting stateful streaming operators
    * (flatMapGroupsWithState sessionization, watermarked aggregations)
    * under the batch-parity oracle gate: `transform` is applied to the
    * unbounded source frame, so watermarks/timeouts/state all run for
    * real, and the sink lands each micro-batch of the TRANSFORMED
    * output. `outputMode` must match the transform's semantics
    * ("update" for flatMapGroupsWithState(Update), "append" for
    * stateless transforms).
    */
  def streamShardsThrough(
      spark: SparkSession,
      frame: DataFrame,
      shardKey: String,
      numBatches: Int,
      outputMode: String = "append",
      stageKey: Option[String] = None,
      shufflePartitions: Option[Int] = None,
      batchCodegen: Option[Boolean] = None)(transform: DataFrame => DataFrame)(
      sink: (DataFrame, Long) => Unit): Unit = {
    require(numBatches >= 1, s"numBatches=$numBatches must be positive")
    def stageNow(): java.io.File = {
      val stage = java.nio.file.Files.createTempDirectory("graft_stream_stage").toFile
      try stageInto(stage)
      catch { case t: Throwable => deleteRecursively(stage); throw t }
      stage
    }
    def stageInto(stage: java.io.File): Unit = {
      for (b <- 0 until numBatches) {
        val tmp = java.nio.file.Files.createTempDirectory(s"graft_stream_b$b").toFile
        try {
          frame.filter(pmod(col(shardKey), lit(numBatches)) === b)
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val parts = tmp.listFiles()
            .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          require(parts.length == 1, s"expected one staged part file for shard $b, got ${parts.length}")
          val dest = new java.io.File(stage, f"batch$b%05d.parquet")
          java.nio.file.Files.move(parts.head.toPath, dest.toPath)
          // Distinct, strictly increasing mtimes (the shard index in hours):
          // the file source orders by modification time, so the staged shard
          // order IS the micro-batch order.
          require(dest.setLastModified(1600000000000L + b.toLong * 3600000L),
            s"could not pin mtime for shard $b")
        } finally deleteRecursively(tmp)
      }
    }
    // Keyed staging is memoized for the process (see [[stageDirs]]):
    // shards are a deterministic function of (frame CONTENTS, shardKey,
    // numBatches), ALL of which the caller's key must identify for the
    // life of the process. Gate queries key on (queryName, sfDir) —
    // sound because the driver's testdata dirs are immutable within a
    // run; a caller whose fixture files can be regenerated mid-process
    // must fold a content fingerprint (mtimes/sizes) into the key or
    // not pass one (ADVICE r16). Staging runs OUTSIDE the map's bin
    // lock (computeIfAbsent would pin it across a full Spark write);
    // a racing loser deletes its duplicate staging.
    val cached = stageKey.map { k =>
      Option(stageDirs.get(k)).getOrElse {
        val fresh = stageNow()
        Option(stageDirs.putIfAbsent(k, fresh)) match {
          case Some(winner) => deleteRecursively(fresh); winner
          case None => fresh
        }
      }
    }
    val stage = cached.getOrElse(stageNow())
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toFile
    // Micro-batch plans cannot re-plan at runtime (AQE is pinned off for
    // the cloned execution session), so stateful-operator and shuffle
    // width must be sized STATICALLY for the trigger volume — a shard-
    // sized batch at a cluster-wide partition count pays pure task and
    // state-store-provider overhead on every exchange of every batch
    // (the corpusAdmissionSink lesson, applied at the stream level:
    // the conf at query start is what the cloned session inherits).
    // SCOPE CAVEAT (ADVICE r16): the override narrows the SHARED
    // session conf for the stream's duration — a concurrent batch job
    // on the same SparkSession would silently inherit it. The gate
    // harness is single-threaded per session by design; a multi-tenant
    // caller must route the stream through a dedicated session (the
    // static frames a transform closes over must then come from that
    // session too — cross-session Dataset mixing throws).
    val prevSp = shufflePartitions.map(_ => spark.conf.get("spark.sql.shuffle.partitions"))
    shufflePartitions.foreach(n => spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    // Same static-sizing argument as the width, applied to CODEGEN: a
    // shard-sized micro-batch never amortizes whole-stage compilation —
    // the r20 watch decomposition showed q240 spending ~4 s/run in
    // JIT+codegen (316 compiles per run, EVERY run: each restart is a new
    // streaming query with fresh epoch-literal plans) against ~0.5 s of
    // parallel stage work. Callers whose per-trigger volume is real leave
    // this None (codegen on, the default); the measured A/B for the
    // shard-sized gates is in OPTIMIZATION_r20.md.
    val prevCg = batchCodegen.map(_ => spark.conf.get("spark.sql.codegen.wholeStage"))
    batchCodegen.foreach(b => spark.conf.set("spark.sql.codegen.wholeStage", b.toString))
    try {
      val query = transform(
        spark.readStream
          .schema(frame.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(stage.toString))
        .writeStream
        .outputMode(outputMode)
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    } finally {
      // The checkpoint (and any unkeyed staged corpus copy) is consumed
      // entirely within this call — delete so repeated bench/verify runs
      // don't accumulate copies in /tmp. Keyed stage dirs persist for
      // the process by design. The SINK's output dirs are the caller's
      // (they are read lazily after return).
      prevSp.foreach(v => spark.conf.set("spark.sql.shuffle.partitions", v))
      prevCg.foreach(v => spark.conf.set("spark.sql.codegen.wholeStage", v))
      deleteRecursively(ckpt)
      if (cached.isEmpty) deleteRecursively(stage)
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }


  /** Rebuild the streamed IVF state ([[EpochState.IvfPostings]]) into a
    * fresh directory with a RE-TRAINED coarse quantizer — the recovery
    * the graph family has in [[rebuildGraphAnnState]]: the sink's
    * quantizer is frozen at stream start (correctly — re-training
    * per-batch would invalidate prior postings), so as the streamed
    * corpus drifts away from it, cell skew grows and recall decays with
    * no recourse short of discarding the state. The state already
    * carries everything a re-train needs — each posting's quantized
    * vector — so the rebuild NEVER re-reads raw embeddings:
    * [[graft.operators.Similarity.trainIvfCentroidsQuantized]] fits
    * fresh centroids on the surviving postings (same deterministic
    * Lloyd, same sample/seed rule, identical arithmetic to the
    * raw-embedding trainer), re-assignment is the same narrow
    * broadcast-argmax as the sink's, and the re-assigned postings land
    * as epoch 0 of `newPath` — after which the old directory and the
    * consumed tombstones retire together (reads of `newPath` pass
    * `deletesPath = None` until new deletions arrive). Returns the
    * trained centroids — the frozen quantizer for `newPath`'s onward
    * sink AND for search probes, which must use the SAME quantizer the
    * postings were assigned under. Scale: a sample-bounded train, one
    * narrow re-assign scan, one write; no all-pairs step.
    */
  def rebuildIvfState(
      spark: SparkSession,
      basePath: String,
      newPath: String,
      numCentroids: Int = 16,
      iters: Int = 8,
      sampleSize: Int = 4096,
      deletesPath: Option[String] = None): Seq[(Long, Seq[Long])] = {
    import graft.operators.Similarity
    val survivors = merged(spark, EpochState.IvfPostings(), basePath, deletesPath)
      .select(col("vec_id"), col("qe"), col("n2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = Similarity.trainIvfCentroidsQuantized(
        survivors, numCentroids, iters, sampleSize)
      land(Similarity.ivfAssignWithQuantized(survivors, cents), newPath, 0L)
      cents
    } finally { survivors.unpersist(); () }
  }

  /** Streaming graph-ANN edge-state maintenance under the per-epoch
    * replay-idempotent layout: the kNN graph no longer rebuilds from
    * scratch when the corpus grows. Frozen, like the IVF quantizer: the
    * LSH planes ([[graft.operators.Similarity.hyperplanes]]) and the
    * probe radius — a vector's bucket never changes, so co-bucket
    * candidacy is decided pairwise and each pair `(a, b)` is emitted
    * exactly once, at `max(epoch(a), epoch(b))`:
    *
    *  - epoch `b` buckets its vectors narrowly and lands them in
    *    `vecs/batch_id=b`;
    *  - its CANDIDATE DELTA is every probed co-bucket pair with at least
    *    one new endpoint — one bucket equi-join of the new probes
    *    against (prior ∪ new) vectors, emitted in BOTH directions (the
    *    probe-mask set is XOR-closed, so candidacy is symmetric) with
    *    the exact quantized dot, landed in `cand/batch_id=b`;
    *  - its LONG-LINK DELTA is every hypercube pair `v ↔ v XOR 2^j`
    *    with a new endpoint and both endpoints present, landed in
    *    `far/batch_id=b` (the endpoint with bit `j` set is ≥ 2^j, so the
    *    running max id always covers `j` at capture time — no global
    *    max needed up front).
    *
    * Because per-src top-`degree` is a selection over the candidate SET
    * (dp is pair-determined; rows dedup on `(src, nb, dp)`), selecting
    * at READ time over the union of deltas equals the one-shot batch
    * build over the full corpus — so a search over the merged state
    * must equal [[graft.operators.Similarity.graphAnnSearch]], which is
    * the q240 gate (q235's oracle verbatim). A replayed epoch re-reads
    * exactly the prior epochs (`batch_id < b`) and overwrites its own
    * dirs — same rows, no duplication; after [[compactGraphAnnEpochs]]
    * a replay of a folded epoch is a write-side no-op (its deltas are
    * final inside the base partitions). Deletions are tombstone epochs
    * ([[EpochState.Tombstones]]) anti-joined at read time — see
    * [[mergedGraphAnnState]] for the prune-slack parity bound.
    *
    * Scale: per epoch, the new probes' bucket join against the
    * accumulated state plus one id equi-join for the long links —
    * an incremental update, never a rebuild, and nothing all-pairs.
    */
  def graphAnnEdgeSink(
      spark: SparkSession,
      basePath: String,
      degree: Int = 6,
      numPlanes: Int = graft.operators.Similarity.DefaultNumPlanes,
      probeBits: Int = 1,
      dim: Int = 64): (DataFrame, Long) => Unit = {
    // Once per sink instance: a restart over an existing state directory
    // checks the landed degree before its first epoch writes anything.
    lazy val degreeLanded: Unit = landSinkDegree(spark, basePath, degree)
    (batch: DataFrame, batchId: Long) => {
      import graft.operators.Similarity
      degreeLanded
      // A replayed epoch at or below the compaction watermark is a
      // write-side NO-OP (the admission-sink rule): its deltas are final
      // inside the three base partitions, and recomputing would read its
      // own vectors back out of the base as "prior" corpus. The vecs
      // watermark is the authority — [[compactGraphAnnEpochs]] folds
      // vecs LAST, so a crash mid-compaction leaves this guard
      // conservative (still replaying), never skipping an epoch whose
      // edge dirs were not folded yet.
      val wm = epochWatermark(spark, s"$basePath/vecs")
      if (!wm.exists(batchId <= _)) {
      val newB = Similarity.lshBucketedVectors(batch, numPlanes, dim)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // First epoch: no state dir yet. Catch ONLY the missing-path
      // analysis error — a corrupt or unreadable state dir must fail
      // the batch loudly, never silently read as an empty corpus.
      // liveStateRows keeps the read compaction-aware: the newest valid
      // base (all epochs ≤ w < batchId, negative id) plus live positive
      // epochs below this one.
      val prior =
        try liveStateRows(spark, s"$basePath/vecs")
          .filter(col("batch_id") < batchId)
          .select(col("vec_id"), col("qe"), col("bucket"))
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getErrorClass == "PATH_NOT_FOUND" => newB.limit(0)
        }
      landGraphAnnEpoch(spark, basePath, batchId, newB, prior, degree, numPlanes, probeBits)
      newB.unpersist()
      }
    }
  }

  /** Land the sink's prune degree with its state, ONCE per state
    * directory: the degree is part of the state's meaning (read-time
    * selection must not exceed it — see [[graphAnnEdgeSink]]), so the
    * merged read ENFORCES the bound instead of silently under-selecting.
    * The committed (`_SUCCESS`) marker is the idempotence authority.
    * Over an existing directory the landed degree must equal `degree`:
    * epochs pruned at two degrees would mix bounds under one meta row,
    * so a mismatch fails fast — re-provisioning the degree is
    * [[rebuildGraphAnnState]]'s job.
    */
  private def landSinkDegree(spark: SparkSession, basePath: String, degree: Int): Unit = {
    val meta = s"$basePath/sink_meta"
    val success = new org.apache.hadoop.fs.Path(s"$meta/_SUCCESS")
    if (success.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(success)) {
      val landed = sinkDegreeOf(spark, basePath)
      require(landed == degree,
        s"graph-ANN state at $basePath was pruned at degree $landed, but this sink " +
          s"prunes at degree $degree — rebuild it at the new degree with rebuildGraphAnnState")
    } else
      spark.range(1).select(lit(degree).as("degree")).write.mode("overwrite").parquet(meta)
  }

  private def sinkDegreeOf(spark: SparkSession, basePath: String): Int =
    spark.read.parquet(s"$basePath/sink_meta").collect()(0).getAs[Int]("degree")

  /** The delta computation + landing shared by [[graphAnnEdgeSink]]
    * (prior = the live accumulated state) and [[rebuildGraphAnnState]]
    * (prior = empty, newB = the surviving corpus as epoch 0). Both
    * sides carry the bucketed `(vec_id, qe, bucket)` shape, so the
    * candidate join, the per-epoch top-degree prune, the long links and
    * the write order are ONE implementation that cannot drift.
    */
  private def landGraphAnnEpoch(
      spark: SparkSession,
      basePath: String,
      batchId: Long,
      newB: DataFrame,
      prior: DataFrame,
      degree: Int,
      numPlanes: Int,
      probeBits: Int): Unit = {
      import graft.operators.Similarity
      val all = prior.unionByName(newB)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val probesNew = Similarity.probeExplode(
        newB.select(col("vec_id").as("src"), col("qe").as("qe_a"), col("bucket")),
        numPlanes, probeBits)
      val pairs = all
        .select(col("bucket"), col("vec_id").as("nb"), col("qe").as("qe_b"))
        .join(probesNew, Seq("bucket"))
        .filter(col("src") =!= col("nb"))
        .select(col("src"), col("nb"), Similarity.dot(col("qe_a"), col("qe_b")).as("dp"))
      // Per-epoch TOP-DEGREE PRUNE before landing: top-K selection is a
      // semilattice under the total order (dp DESC, nb) — any member of
      // the global top-degree for a src is necessarily in the top-degree
      // of its own epoch's (disjoint) delta — so pruning each delta to
      // `degree` rows per src loses nothing the read-time selection
      // would keep. This is what bounds the state: O(srcs · degree) rows
      // per epoch instead of O(co-bucket pairs). Read-time selection
      // must therefore use a degree ≤ this sink's.
      sink(EpochState.GraphAnnCand(degree), s"$basePath/cand")(
        pairs.unionByName(pairs.select(col("nb").as("src"), col("src").as("nb"), col("dp"))),
        batchId)
      // Long links: a one-scalar job for the running max id bounds the
      // XOR bit width (capture-time coverage argued in the scaladoc).
      // Null max = no vectors seen yet (an empty epoch over an empty
      // state): zero long-link bits, empty deltas — not an NPE.
      val maxIdRow = all.agg(max(col("vec_id"))).collect()(0)
      val maxId = if (maxIdRow.isNullAt(0)) 0L else maxIdRow.getLong(0)
      val bitsN =
        if (maxId <= 0L) 0
        else (64 - java.lang.Long.numberOfLeadingZeros(maxId)).toInt
      val farTargets = (0 until bitsN).map(j => col("src").bitwiseXOR(lit(1L << j)))
      val farNew = newB.select(col("vec_id").as("src"))
        .select(col("src"),
          explode(if (farTargets.isEmpty) array().cast("array<long>")
                  else array(farTargets: _*)).as("nb"))
        .join(all.select(col("vec_id").as("nb")), Seq("nb")) // only existing ids
        .select(col("src"), col("nb"))
      sink(EpochState.GraphAnnFar, s"$basePath/far")(
        farNew.unionByName(farNew.select(col("nb").as("src"), col("src").as("nb"))), batchId)
      // Vectors land LAST: a crash mid-epoch leaves at worst edge dirs
      // without their vecs dir, and the replay overwrites all three.
      sink(EpochState.GraphAnnVecs, s"$basePath/vecs")(newB, batchId)
      all.unpersist()
  }

  /** Rebuild the graph-ANN state into a fresh directory from its own
    * surviving vectors — the recovery path for a deletion budget that
    * outgrew the prune slack (|tombstones| > sinkDegree − readDegree,
    * where [[mergedGraphAnnState]]'s parity bound no longer holds), or
    * for re-provisioning the sink degree itself. The state already
    * carries everything the build needs — `(vec_id, qe, bucket)` under
    * the frozen planes — so the rebuild never touches raw embeddings:
    * one [[landGraphAnnEpoch]] over the surviving vector set lands as
    * epoch 0 of `newPath`, after which the old directory and the
    * consumed tombstones can be retired together (a rebuilt index
    * carries no deleted vectors, so reads of `newPath` pass
    * `deletesPath = None` until new deletions arrive). Equals the batch
    * build over the surviving corpus EXACTLY — the full candidate set
    * is re-pruned in one epoch, so no slack bound applies.
    */
  def rebuildGraphAnnState(
      spark: SparkSession,
      basePath: String,
      newPath: String,
      degree: Int = 6,
      numPlanes: Int = graft.operators.Similarity.DefaultNumPlanes,
      probeBits: Int = 1,
      deletesPath: Option[String] = None): Unit = {
    val survivors = merged(spark, EpochState.GraphAnnVecs, s"$basePath/vecs", deletesPath)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      landSinkDegree(spark, newPath, degree)
      landGraphAnnEpoch(
        spark, newPath, 0L, survivors, survivors.limit(0), degree, numPlanes, probeBits)
    }
    finally { survivors.unpersist(); () }
  }

  /** The live graph-ANN state over a [[graphAnnEdgeSink]] directory:
    * `(vectors (vec_id, qe), edges (src, nb))` with the top-`degree`
    * selection applied at read time over the merged candidate deltas
    * (dedup on the pair-determined `(src, nb, dp)` first, so replayed
    * or bidirectionally-emitted rows can never occupy two ranks).
    * Compaction-aware on all three subdirectories (the
    * [[compactedStateView]] base-partition contract).
    *
    * `deletesPath` names an [[EpochState.Tombstones]] directory of
    * removed vector ids: tombstoned vectors leave the vector side AND
    * both endpoints of the edge state — critically, the candidate rows
    * are anti-joined BEFORE the top-`degree` selection, so a deleted
    * neighbor never occupies a rank a surviving candidate should hold.
    * The read then equals the batch build over the surviving corpus
    * PROVIDED the sink's prune left enough slack: the per-(src, epoch)
    * prune kept only the sink-degree best rows, so exact parity needs
    * `|tombstones| ≤ sinkDegree − degree` (any surviving global top-
    * `degree` member ranked at worst `degree + |tombstones|` in its own
    * epoch's delta). Provision the sink degree with the deletion slack
    * the index must absorb between rebuilds — the q243 gate runs
    * degree 6 reads over a degree-8 sink with 2 deletions.
    */
  def mergedGraphAnnState(
      spark: SparkSession,
      basePath: String,
      degree: Int = 6,
      deletesPath: Option[String] = None): (DataFrame, DataFrame) = {
    import graft.operators.Similarity
    val sinkDegree = sinkDegreeOf(spark, basePath)
    require(degree <= sinkDegree,
      s"read degree $degree exceeds the sink's prune degree $sinkDegree — " +
        "the state only retains the sink's top-degree rows per (src, epoch), " +
        "so a wider read would silently diverge from the batch build")
    def view(sub: String, cols: String*) = compactedStateView(spark, s"$basePath/$sub", cols)
    def alive(df: DataFrame, idCols: String*) = antiTombstone(spark, df, deletesPath, idCols: _*)
    val vecs = alive(view("vecs", "vec_id", "qe"), "vec_id")
    val cand = alive(view("cand", "src", "nb", "dp").distinct(), "src", "nb")
    val far = alive(view("far", "src", "nb"), "src", "nb")
    // No distinct on the union (the graphAnnSearch argument): the beam
    // search dedups its expansion per hop, so duplicate edge rows are
    // harmless — and one fewer exchange is one fewer sequential AQE
    // stage per search.
    val edges = Similarity.topDegreeFromCandidates(cand, degree)
      .unionByName(far)
    (vecs, edges)
  }

  /** [[compact]] for a [[graphAnnEdgeSink]] trio: three table folds —
    * candidates through the SINK-degree prune (`top_D(A ∪ B) =
    * top_D(top_D(A) ∪ top_D(B))` per src, so the base stays
    * O(srcs · sinkDegree) and read-time selection at any degree ≤
    * sinkDegree is unchanged), long links by set union, vectors by
    * concatenation. Vecs fold LAST: their watermark is the sink's
    * replay-skip authority, so a crash mid-compaction leaves the guard
    * conservative — the sink keeps replaying epochs whose edge dirs may
    * not have folded yet, never skips one that did not.
    *
    * With `deletesPath`, the fold applies the tombstones PHYSICALLY
    * (vectors by id, candidates and long links by either endpoint,
    * anti-joined BEFORE the sink-degree prune — early application of
    * exactly the read-time filter, so the view is unchanged and the
    * prune-slack parity bound of [[mergedGraphAnnState]] is consumed
    * ONCE, at fold time, for the folded rows). Deleted vectors leave
    * the disk; a deletion budget breached beyond the slack means an
    * index rebuild ([[rebuildGraphAnnState]]).
    */
  def compactGraphAnnEpochs(
      spark: SparkSession,
      basePath: String,
      keepAfter: Long,
      deletesPath: Option[String] = None): Int = {
    val folds = Seq(
      "cand" -> EpochState.GraphAnnCand(sinkDegreeOf(spark, basePath)),
      "far" -> EpochState.GraphAnnFar,
      "vecs" -> EpochState.GraphAnnVecs)
    folds.map { case (sub, kind) =>
      compact(spark, kind, s"$basePath/$sub", keepAfter, deletesPath)
    }.sum
  }

  /** The PODS'12 (Agarwal et al., "Mergeable Summaries") Misra–Gries
    * merge over exploded counter rows ([[EpochState.MisraGries]]): sum
    * counters item-wise, then subtract the (k+1)-th largest summed
    * counter from every survivor and drop non-positives — at most k
    * counters remain per group and the merged summary keeps the full
    * n/(k+1) guarantee. The proof telescopes over any number of inputs:
    * each input satisfies `(k+1)·undercount ≤ nᵢ − Cᵢ`, and the trim's
    * extra `d` satisfies `(k+1)·d ≤ C − C'` because at least k+1
    * counters shed ≥ d… so the total undercount stays ≤ n/(k+1).
    * `item IS NULL` total rows sum straight through — which is also
    * why compaction may fold with this same merge. Scale: ≤ k counters
    * per (group, live epoch) enter; the window and broadcast are group-sized.
    */
  private[graft] def mergeMgRows(rows: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("c").desc, col("item"))
    val totals = rows.filter(col("item").isNull)
      .groupBy(col("grp")).agg(sum(col("est")).as("est"))
      .select(col("grp"), lit(null).cast("string").as("item"), col("est"))
    val counters = rows.filter(col("item").isNotNull)
      .groupBy(col("grp"), col("item")).agg(sum(col("est")).as("c"))
    val kth = counters
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === k + 1)
      .select(col("grp"), col("c").as("d"))
    counters.join(broadcast(kth), Seq("grp"), "left")
      .select(col("grp"), col("item"),
        (col("c") - coalesce(col("d"), lit(0L))).as("est"))
      .filter(col("est") > 0L)
      .unionByName(totals)
  }

  /** [[graft.functions.Sketches.heavyHittersChecked]] against the MERGED
    * streaming state of an [[EpochState.MisraGries]] directory: for
    * every item whose EXACT count over `df` clears the n/(k+1) guarantee
    * threshold, report presence in the merged summary and the error
    * bound as exact integer booleans — the same deterministic,
    * theory-defined row set as the batch q80 gate, so the streaming
    * path faces the identical oracle.
    */
  def mergedHeavyHittersChecked(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      spark: SparkSession,
      basePath: String,
      k: Int = 24): DataFrame = {
    val sk = merged(spark, EpochState.MisraGries(groupCol, itemCol, k), basePath)
    val counters = sk.filter(col("item").isNotNull)
      .select(col("grp"), col("item"), col("est"))
    val totals = sk.filter(col("item").isNull).select(col("grp"), col("est").as("n"))
    df.groupBy(col(groupCol).as("grp"), col(itemCol).as("item"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals), Seq("grp"))
      .filter(col("cnt") * (k + 1) > col("n"))
      .join(broadcast(counters), Seq("grp", "item"), "left")
      .select(
        col("grp"), col("item"), col("cnt"), col("n"),
        col("est").isNotNull.as("present"),
        ((col("cnt") - coalesce(col("est"), lit(0L))) * (k + 1) <= col("n")).as("bound_ok"))
  }

  // --- Epoch compaction for the per-epoch state directories ---

  /** The live (compaction-aware) view of a `batch_id=<epoch>` state
    * directory, projected on `stateCols` (empty: every state column,
    * `batch_id` dropped). [[merged]] unions all epochs at read time —
    * after 10⁵ micro-batches that union is itself a scale problem (10⁵
    * directories listed and scanned per read). [[foldToBase]] folds
    * old epochs into ONE base partition; this reader resolves which
    * partitions are live.
    *
    * Layout contract: a base partition's id encodes the compaction
    * watermark as `batch_id = -(W + 1)` — "contains every epoch ≤ W".
    * Live rows are the NEWEST base (most negative id) plus positive
    * epochs `> W`. A positive directory with `batch_id ≤ W` is a
    * replayed old epoch (foreachBatch's at-least-once contract does not
    * stop replaying just because we compacted): its content is already
    * inside the base, so the reader EXCLUDES it — replay-idempotence
    * survives compaction. An older base left by a crashed compaction is
    * likewise excluded (its content is a subset of the newest base), so
    * a compact that dies between write and cleanup is still read-safe.
    */
  private def compactedStateView(
      spark: SparkSession,
      basePath: String,
      stateCols: Seq[String]): DataFrame = {
    val live = liveStateRows(spark, basePath)
    if (stateCols.isEmpty) live.drop("batch_id") else live.select(stateCols.map(col): _*)
  }

  /** The live rows of a `batch_id=<epoch>` state directory WITH their
    * `batch_id` — [[compactedStateView]] minus the projection, for
    * sinks whose incremental update reads its own prior state filtered
    * by epoch (the graph-ANN edge sink). Partition ids come from ONE
    * file listing (the same one [[foldToBase]] plans from), not a
    * Spark distinct() job — at the 10⁵-epoch scale that motivates
    * compaction, a pre-read job touching every state file would double
    * the cost the feature exists to bound.
    */
  private def liveStateRows(spark: SparkSession, basePath: String): DataFrame = {
    val df = spark.read.parquet(basePath)
      .withColumn("batch_id", col("batch_id").cast("long"))
    newestValidBase(spark, basePath) match {
      case Some(newestBase) =>
        val w = -newestBase - 1
        df.filter(col("batch_id") === newestBase || col("batch_id") > w)
      case None => df
    }
  }

  /** The newest COMMITTED base partition id (most negative), or None.
    * A base directory left by a crashed compaction — no `_SUCCESS`
    * marker from Spark's job commit — is invisible here: readers and
    * the admission sink must keep trusting the previous layout, and
    * [[foldToBase]] treats it as stale garbage to replace. (Epoch
    * directories need no such check: a crashed epoch write is replayed
    * by the streaming engine itself.)
    */
  private def newestValidBase(spark: SparkSession, basePath: String): Option[Long] =
    scala.util.Try {
      val base = new org.apache.hadoop.fs.Path(basePath)
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      listEpochDirs(spark, basePath)
        .filter(_._2 < 0)
        .filter { case (p, _) =>
          fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
        }
        .map(_._2).minOption
    }.toOption.flatten

  /** The compaction watermark of a state directory: W when a COMMITTED
    * base partition `batch_id = -(W+1)` exists (every epoch ≤ W lives in
    * it), None when the directory is uncompacted or absent. A file
    * LISTING, not a scan. A half-written base from a crashed compaction
    * (no `_SUCCESS`) does not count — otherwise the admission sink would
    * skip replays and exclude the still-authoritative old layout on the
    * strength of a directory with no data in it.
    */
  private[graft] def epochWatermark(spark: SparkSession, basePath: String): Option[Long] =
    newestValidBase(spark, basePath).map(b => -b - 1)

  private def listEpochDirs(
      spark: SparkSession,
      basePath: String): Seq[(org.apache.hadoop.fs.Path, Long)] = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(s => s.getPath -> s.getPath.getName.stripPrefix("batch_id=").toLong)
  }

  /** Fold every epoch `≤ keepAfter` of a per-epoch state directory into
    * one base partition `batch_id = -(keepAfter + 1)`, using the state's
    * own merge (the kind's, via [[compact]]). Epochs `> keepAfter` stay
    * as-is and keep their per-epoch replay-overwrite semantics; replays
    * of epochs `≤ keepAfter` become read-side no-ops (see
    * [[compactedStateView]]).
    *
    * Crash safety: the new base is WRITTEN (job-committed, `_SUCCESS`)
    * before anything is deleted, and authority is carried only by a
    * committed base — a half-written base from a crashed run counts for
    * nothing anywhere (not the watermark, not the readers, not the
    * admission sink) and re-running the SAME foldToBase call replaces
    * it and finishes the cleanup: rerun IS the recovery procedure.
    *
    * Returns the number of directories removed. No-op (returns 0) when
    * `keepAfter` does not advance the existing valid watermark —
    * re-compacting the same watermark would overwrite the base FROM
    * itself mid-scan.
    */
  private def foldToBase(
      spark: SparkSession,
      basePath: String,
      keepAfter: Long,
      stateCols: Seq[String],
      merge: DataFrame => DataFrame): Int = {
    require(keepAfter >= 0, s"keepAfter=$keepAfter must be >= 0")
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = listEpochDirs(spark, basePath)
    // Only a COMMITTED base (has _SUCCESS) carries authority. A
    // half-written base from a crashed run is garbage: it must not count
    // toward the watermark (else this very keepAfter would "already be
    // compacted" and the layout could never be repaired), must not be a
    // fold INPUT, and must be deleted with the other stale dirs — which
    // makes re-running the same foldToBase call after a crash the
    // recovery procedure.
    val validBase = newestValidBase(spark, basePath)
    val curWatermark = validBase.map(b => -b - 1)
    if (curWatermark.exists(_ >= keepAfter)) return 0
    // A keepAfter beyond the newest epoch that has actually run would
    // advance the watermark over epochs that do not exist yet: the sink
    // would then skip their future batches as "replays" (write-side
    // no-op) and the reader would exclude their dirs — silent data loss
    // from an off-by-one in the caller. Refuse loudly instead.
    val maxEpoch = parts.collect { case (_, id) if id >= 0 => id }.maxOption
    require(maxEpoch.exists(_ >= keepAfter),
      s"keepAfter=$keepAfter is beyond the newest existing epoch " +
        s"${maxEpoch.getOrElse(-1L)} at $basePath: compacting epochs that " +
        "have not run yet would make the sink silently skip their batches")
    val w = curWatermark.getOrElse(-1L)
    // Live fold inputs: the newest VALID base (all epochs ≤ w) + fresh
    // epochs (w, keepAfter]. Positive dirs ≤ w are post-compaction
    // replays whose rows are already in the base — deleted, never
    // re-merged; invalid bases are deleted, never read.
    val foldDirs = parts.filter { case (_, id) =>
      validBase.contains(id) || (id > w && id >= 0 && id <= keepAfter)
    }
    val staleDirs = parts.filter { case (_, id) =>
      (id >= 0 && id <= w) || (id < 0 && !validBase.contains(id))
    }
    if (foldDirs.isEmpty) return 0
    val foldedRaw = spark.read.parquet(foldDirs.map(_._1.toString): _*)
    // Empty stateCols = whole-row state (the admission sink): keep every
    // column as-is; sketch sinks project their cell/register columns.
    val folded =
      if (stateCols.isEmpty) foldedRaw
      else foldedRaw.select(stateCols.map(col): _*)
    merge(folded)
      .write.mode("overwrite")
      .parquet(s"$basePath/batch_id=${-(keepAfter + 1)}")
    val doomed = (foldDirs ++ staleDirs).filter(_._2 != -(keepAfter + 1))
    doomed.foreach { case (p, _) => fs.delete(p, true) }
    doomed.size
  }

  case class SessionState(sessionId: Int, firstUs: Long, lastUs: Long, nEvents: Long)

  case class SessionUpdate(
      user_id: Long,
      session_id: Int,
      n_events: Long,
      first_us: Long,
      last_us: Long)

  /** Gap-based sessionization (default 30 min) via
    * `flatMapGroupsWithState` — the streaming twin of the batch
    * `q11_sessionize` query. Each batch emits the final stats of every
    * session CLOSED within it plus the current open session; a new session
    * starts when the gap since the latest seen event exceeds `gapUs`.
    *
    * Late (cross-batch out-of-order) events that arrive while a session is
    * open are folded into it without regressing its time bounds — they can
    * extend `firstUs` backwards but never re-open a closed session (the
    * bounded-state trade; pair with a watermark-sized gap for stricter
    * late-data semantics).
    *
    * State EXPIRES: once the event-time watermark (`watermarkDelay` behind
    * the max seen event time) passes a user's last event + gap, the open
    * session is emitted as final and the state entry is removed — on an
    * unbounded user population, per-user state would otherwise grow
    * forever. A user who returns after eviction starts a fresh state
    * (session ids restart at 0 — make ids unique downstream with
    * `first_us` if needed).
    */
  def sessionize(
      spark: SparkSession,
      events: DataFrame,
      gapUs: Long = 1800L * 1000000L,
      watermarkDelay: String = "2 hours"): Dataset[SessionUpdate] = {
    import spark.implicits._
    // The watermarked event-time column must reach the stateful operator
    // as a timestamp (converting to long drops the event-time tag the
    // EventTimeTimeout checker looks for) — µs conversion happens in the
    // lambda instead.
    events
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, tsRows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[SessionState]) =>
          val rows = tsRows.map { case (u, t) =>
            (u, t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L)
          }
          if (state.hasTimedOut) {
            // Idle past gap + watermark: close the open session, drop state.
            val s = state.get
            state.remove()
            Iterator.single(SessionUpdate(uid, s.sessionId, s.nEvents, s.firstUs, s.lastUs))
          } else {
            val sorted = rows.map(_._2).toSeq.sorted
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
            var s = state.getOption.getOrElse(SessionState(0, sorted.head, sorted.head, 0L))
            sorted.foreach { us =>
              if (s.nEvents > 0L && us - s.lastUs > gapUs) {
                closed += SessionUpdate(uid, s.sessionId, s.nEvents, s.firstUs, s.lastUs)
                s = SessionState(s.sessionId + 1, us, us, 1L)
              } else {
                s = s.copy(
                  firstUs = if (s.nEvents == 0L) us else math.min(s.firstUs, us),
                  lastUs = math.max(s.lastUs, us),
                  nEvents = s.nEvents + 1L)
              }
            }
            state.update(s)
            // Evict once the watermark clears the session gap (must stay
            // strictly ahead of the current watermark or Spark rejects it).
            state.setTimeoutTimestamp(
              math.max(s.lastUs / 1000L + gapUs / 1000L, state.getCurrentWatermarkMs() + 1L))
            (closed :+ SessionUpdate(uid, s.sessionId, s.nEvents, s.firstUs, s.lastUs)).iterator
          }
      }
  }
}

/** A kind of replay-idempotent `batch_id=<epoch>` streaming state, with
  * the parameters of its per-batch build. Build the kind once and pass
  * the same value to [[StreamingOps.sink]], [[StreamingOps.retractSink]],
  * [[StreamingOps.merged]] and [[StreamingOps.compact]]; the state table
  * in [[StreamingOps]] gives each kind's columns, merge and delete rule.
  * Additive kinds (count-min, passage, rolling, CDC, ExactSubstr) retract
  * by negated epochs; per-document kinds (video fingerprints, signature
  * index, IVF postings) delete by [[EpochState.Tombstones]]; the rest
  * cannot be retracted.
  */
sealed trait EpochState extends Product with Serializable

object EpochState {
  /** Count-Min cells `(grp, row, bucket, c)` ([[graft.functions.Sketches.countMinCells]]). */
  final case class CountMin(groupCol: String, itemCol: String, depth: Int = 4, width: Int = 64)
      extends EpochState
  /** HLL registers `(grp, reg, r)`; estimate with [[graft.functions.Sketches.hllEstimate]]. */
  final case class Hll(groupCol: String, valueCol: String, p: Int = 6) extends EpochState
  /** Misra–Gries counters `(grp, item, est)` plus one `item IS NULL` group-total row. */
  final case class MisraGries(groupCol: String, itemCol: String, k: Int = 24) extends EpochState
  /** Aligned passage digest frequencies `(dig, df)` ([[graft.operators.Dedup.passageDigestCounts]]). */
  final case class PassageCounts(passageLen: Int = 8) extends EpochState
  /** Dense-window digest frequencies `(dig, df)` ([[graft.operators.Dedup.rollingDigestCounts]]). */
  final case class RollingCounts(windowLen: Int = 8) extends EpochState
  /** CDC chunk digest frequencies `(dig, df)` ([[graft.operators.Dedup.chunkDigestCounts]]). */
  final case class CdcCounts(modulus: Int = 8) extends EpochState
  /** ExactSubstr window occurrences `(dig, occ)` ([[graft.operators.Dedup.rollingOccurrenceCounts]]). */
  final case class ExactSubstrCounts(windowLen: Int = 8) extends EpochState
  /** One `(doc_id, n_sampled, video_fp)` row per AVI payload ([[graft.operators.Multimodal.videoFingerprints]]). */
  final case class VideoFingerprints(every: Int = 4) extends EpochState
  /** One `(doc_id, sigs, shl, n_sh)` row per document ([[graft.operators.Dedup.signatureDigestIndex]]). */
  final case class SignatureIndex(k: Int = 3, numHashes: Int = 8) extends EpochState
  /** IVF postings `(vec_id, qe, n2, cell)` under a frozen quantizer; reads need none. */
  final case class IvfPostings(centroids: Seq[(Long, Seq[Long])] = Nil) extends EpochState
  /** Removed ids, landed as a long `vec_id` from `idCol`, in a directory of their own. */
  final case class Tombstones(idCol: String = "vec_id") extends EpochState
  /** Whole rows as landed: the plain idempotent sink, and the admission sink's corpus. */
  case object Rows extends EpochState
  /** The three subdirectories of [[StreamingOps.graphAnnEdgeSink]]'s state. */
  private[graft] final case class GraphAnnCand(degree: Int) extends EpochState
  private[graft] case object GraphAnnFar extends EpochState
  private[graft] case object GraphAnnVecs extends EpochState
}
