package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingOps

class StreamingOpsSpec extends SparkSpec {

  import spark.implicits._

  test("windowed action counts aggregate a watermarked stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, java.sql.Timestamp, Int)]
    val actions = input.toDF()
      .toDF("customer_id", "item_id", "action_time", "action_type")

    val query = StreamingOps.windowedActionCounts(actions, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Update()).start()

    input.addData(
      (1L, 10L, ts("2025-08-13 12:10:00"), 1),
      (1L, 11L, ts("2025-08-13 12:20:00"), 1),
      (2L, 12L, ts("2025-08-13 12:30:00"), 3),
      (1L, 13L, ts("2025-08-13 13:05:00"), 1))
    query.processAllAvailable()

    val out = spark.table("win_counts")
      .select(date_format(col("window_start"), "HH:mm").as("w"), col("action_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    query.stop()

    assert(out === Set(("12:00", 1, 2L), ("12:00", 3, 1L), ("13:00", 1, 1L)))
  }

  test("streaming sessionization carries state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")

    val query = StreamingOps.sessionize(spark, events)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Update()).start()

    // Batch 1: two events 10 min apart → one session of 2.
    input.addData((7L, ts("2025-08-13 12:00:00")), (7L, ts("2025-08-13 12:10:00")))
    query.processAllAvailable()
    // Batch 2: 10 more min (same session) then a 2h gap (new session) —
    // session 0 closes mid-batch and must emit its FINAL stats (3 events).
    input.addData((7L, ts("2025-08-13 12:20:00")), (7L, ts("2025-08-13 14:30:00")))
    query.processAllAvailable()
    // Batch 3: a LATE event (12:35 — after the 2h watermark of 12:30 so it
    // is delivered, but before the open session started) must not regress
    // the open session's bounds or re-open session 0. (An event OLDER than
    // the watermark would be dropped outright — that's the watermark
    // contract, pinned by the eviction test below.)
    input.addData((7L, ts("2025-08-13 12:35:00")))
    query.processAllAvailable()

    val rows = spark.table("sessions")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("session_id"),
        r.getAs[Long]("n_events"), r.getAs[Long]("last_us")))
    query.stop()

    assert(rows.exists(r => r._1 == 7L && r._2 == 0 && r._3 == 2L)) // batch-1 open emit
    assert(rows.exists(r => r._1 == 7L && r._2 == 0 && r._3 == 3L)) // batch-2 CLOSED final
    assert(rows.exists(r => r._1 == 7L && r._2 == 1 && r._3 == 1L)) // batch-2 open emit
    // Late event folded into session 1 without regressing last_us (14:30).
    val late = rows.filter(r => r._2 == 1 && r._3 == 2L)
    assert(late.nonEmpty && late.forall(_._4 ==
      ts("2025-08-13 14:30:00").getTime * 1000L))
  }

  test("sessionize evicts idle users via event-time timeout and still closes the session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")

    // 10-min gap, zero watermark delay: the watermark is simply the max
    // event time seen, so another user's later events advance it past an
    // idle user's (last event + gap) and trigger the timeout path.
    val query = StreamingOps.sessionize(
      spark, events, gapUs = 600L * 1000000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("session_evict")
      .outputMode(OutputMode.Update()).start()

    input.addData((7L, ts("2025-08-13 12:00:00")), (7L, ts("2025-08-13 12:05:00")))
    query.processAllAvailable()
    // User 8 pushes the watermark to 14:00 > 12:05 + 10 min.
    input.addData((8L, ts("2025-08-13 14:00:00")))
    query.processAllAvailable()
    // Timeouts fire on the batch AFTER the watermark advances.
    input.addData((8L, ts("2025-08-13 14:01:00")))
    query.processAllAvailable()
    // User 7 returns: state was evicted, so this starts a FRESH state
    // (session_id back to 0, n_events 1) instead of continuing the old one.
    input.addData((7L, ts("2025-08-13 15:00:00")))
    query.processAllAvailable()

    val rows = spark.table("session_evict")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("session_id"),
        r.getAs[Long]("n_events"), r.getAs[Long]("first_us")))
    query.stop()

    val evictedFinal = rows.filter(r => r._1 == 7L && r._3 == 2L)
    assert(evictedFinal.nonEmpty, s"timed-out session not emitted: ${rows.mkString(",")}")
    val fresh = rows.filter(r =>
      r._1 == 7L && r._4 == ts("2025-08-13 15:00:00").getTime * 1000L)
    assert(fresh.nonEmpty && fresh.forall(r => r._2 == 0 && r._3 == 1L),
      s"state not evicted (session continued): ${rows.mkString(",")}")
  }

  test("streaming dedup drops repeated ids across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("event_id", "ts")

    val query = StreamingOps.dedupStream(events, "ts", Seq("event_id"), "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()

    input.addData((1L, ts("2025-08-13 12:00:00")), (2L, ts("2025-08-13 12:00:30")),
      (1L, ts("2025-08-13 12:01:00"))) // dup within batch
    query.processAllAvailable()
    input.addData((2L, ts("2025-08-13 12:02:00")), (3L, ts("2025-08-13 12:03:00"))) // dup across batches
    query.processAllAvailable()

    val ids = spark.table("dedup_stream").collect().map(_.getAs[Long]("event_id")).sorted
    query.stop()
    assert(ids === Array(1L, 2L, 3L)) // each id exactly once
  }

  test("streaming training examples over a static action table match the batch pipeline") {
    implicit val sqlCtx = spark.sqlContext
    import graft.model.{Action, Impression, ImpressionItem}
    val actions = Seq(
      Action(1L, 10L, ts("2025-08-10 09:00:00"), 1),
      Action(1L, 11L, ts("2025-08-11 10:00:00"), 2),
      Action(1L, 12L, ts("2025-08-12 11:00:00"), 3),
      Action(2L, 20L, ts("2025-08-11 08:00:00"), 1)).toDF()
    val imps = Seq(
      Impression("2025-08-12", "r1", 1L, Seq(ImpressionItem(5L, true), ImpressionItem(6L, false))),
      Impression("2025-08-12", "r2", 2L, Seq(ImpressionItem(7L, false))),
      Impression("2025-08-13", "r3", 1L, Seq(ImpressionItem(8L, false))))

    val input = MemoryStream[Impression]
    val query = StreamingOps.streamingTrainingExamples(input.toDF(), actions, maxHistory = 2)
      .writeStream.format("memory").queryName("stream_tex")
      .outputMode(OutputMode.Update()).start()
    input.addData(imps(0), imps(1))
    query.processAllAvailable()
    input.addData(imps(2)) // later day in a later micro-batch
    query.processAllAvailable()

    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[String]("dt"), r.getAs[String]("ranking_id"), r.getAs[Long]("customer_id"),
      r.getAs[Int]("impression_pos"), r.getAs[Long]("impression_item_id"),
      r.getAs[Int]("label"),
      r.getAs[scala.collection.Seq[Long]]("actions").toSeq,
      r.getAs[scala.collection.Seq[Int]]("action_types").toSeq)
    val streamed = spark.table("stream_tex").collect().map(key).toSet
    query.stop()
    val batch = graft.operators.TrainingPipeline
      .produceTrainingExamplesFromActions(imps.toDF(), actions, maxHistory = 2)
      .collect().map(key).toSet
    assert(streamed === batch)
    // Sanity: the 08-13 impression must see the 08-12 action (and only the
    // 2 most recent), proving cross-day history with anti-leakage cutoffs.
    assert(batch.exists(t => t._1 == "2025-08-13" && t._7 == Seq(12L, 11L)))
  }

  test("stream-static twin state is bounded for a hot customer (≤ K+1 chunks per group)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.model.{Action, Impression, ImpressionItem}
    val k = 2
    // One hot customer: 120 actions spread over 30 days — a raw-action
    // join would feed all 120 into the impression group's aggregation
    // state before slicing.
    val hotActions = (0 until 120).map { i =>
      Action(1L, 100L + i,
        ts(f"2025-07-${1 + i % 30}%02d ${1 + i / 30}%02d:00:00"), 1 + i % 3)
    }
    val actions = (hotActions :+ Action(2L, 20L, ts("2025-07-15 08:00:00"), 1)).toDF()
    val imps = Seq(
      Impression("2025-08-01", "r1", 1L, Seq(ImpressionItem(5L, true), ImpressionItem(6L, false))),
      Impression("2025-08-01", "r2", 2L, Seq(ImpressionItem(7L, false))))

    val input = MemoryStream[Impression]
    val query = StreamingOps.streamingTrainingExamples(input.toDF(), actions, maxHistory = k)
      .writeStream.format("memory").queryName("stream_tex_hot")
      .outputMode(OutputMode.Update()).start()
    input.addData(imps: _*)
    query.processAllAvailable()

    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[String]("dt"), r.getAs[String]("ranking_id"), r.getAs[Long]("customer_id"),
      r.getAs[Int]("impression_pos"), r.getAs[Long]("impression_item_id"),
      r.getAs[Int]("label"),
      r.getAs[scala.collection.Seq[Long]]("actions").toSeq,
      r.getAs[scala.collection.Seq[Int]]("action_types").toSeq)
    val streamed = spark.table("stream_tex_hot").collect().map(key).toSet
    query.stop()
    val batch = graft.operators.TrainingPipeline
      .produceTrainingExamplesFromActions(imps.toDF(), actions, maxHistory = k)
      .collect().map(key).toSet
    assert(streamed === batch)

    // The state bound itself: replay the twin's exact static-side join in
    // batch and count chunk rows per impression group — the aggregation
    // buffer ingests at most K+1 chunks even for the 120-action customer.
    val chunks = graft.operators.TrainingPipeline.dailyTopKChunks(actions.toDF(), k)
    val ex = graft.operators.TrainingPipeline.explodeImpressions(imps.toDF())
      .withColumn("cutoff_day", to_date(col("dt")))
    val perGroup = ex.join(
      chunks.withColumnRenamed("customer_id", "act_customer_id"),
      col("customer_id") === col("act_customer_id") &&
        graft.operators.TrainingPipeline.chunkQualifies(
          col("action_day"), col("cutoff_day"), col("expiry_day")))
      .groupBy(col("ranking_id"), col("impression_pos"))
      .count().collect().map(_.getAs[Long]("count"))
    assert(perGroup.nonEmpty && perGroup.forall(_ <= k + 1),
      s"per-group chunk fan-in exceeded K+1: ${perGroup.mkString(",")}")
  }

  test("stream-stream window join attributes purchases to in-lookback clicks") {
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val buysIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val clicks = clicksIn.toDF().toDF("user_id", "click_id", "click_ts")
    val buys = buysIn.toDF().toDF("user_id", "buy_id", "buy_ts")

    val joined = StreamingOps.streamStreamWindowJoin(
      buys, clicks, Seq("user_id"), "buy_ts", "click_ts", lookback = "1 hour")
    val query = joined.writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append()).start()

    clicksIn.addData((1L, 100L, ts("2025-08-13 11:30:00")), // in lookback
      (1L, 101L, ts("2025-08-13 09:00:00")),                // too old
      (2L, 200L, ts("2025-08-13 11:45:00")))                // other user
    buysIn.addData((1L, 900L, ts("2025-08-13 12:00:00")))
    query.processAllAvailable()
    // cross-micro-batch: a later click for an earlier-buffered purchase
    buysIn.addData((2L, 901L, ts("2025-08-13 12:10:00")))
    query.processAllAvailable()

    val got = spark.table("attrib").collect()
      .map(r => (r.getAs[Long]("buy_id"), r.getAs[Long]("click_id"))).toSet
    query.stop()
    assert(got === Set((900L, 100L), (901L, 200L)))
  }

  test("idempotent foreachBatch sink deduplicates replayed micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_epoch_sink").toString
    val sink = StreamingOps.idempotentParquetSink(dir)
    import spark.implicits._
    // Batch 0 delivered, then REPLAYED (the at-least-once failure case),
    // then batch 1.
    sink(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    sink(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    sink(Seq((3L, "c")).toDF("id", "v"), 1L)
    val out = spark.read.parquet(dir)
    assert(out.count() === 3L) // replay did not duplicate batch 0
    assert(out.select("batch_id").distinct().count() === 2L)
    // And it wires into a real streaming query.
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "v").writeStream
      .foreachBatch(StreamingOps.idempotentParquetSink(dir + "_live"))
      .start()
    in.addData((9L, "z"))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(dir + "_live").count() === 1L)
  }

  test("streaming count-min sink: replayed batches never double-count; merge equals batch sketch") {
    import graft.functions.Sketches
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cms_sink").toString
    val sink = StreamingOps.countMinSink("grp", "item", dir)
    val b0 = (0 until 300).map(i => ("g", s"tok${i % 11}")).toDF("grp", "item")
    val b1 = (0 until 200).map(i => ("g", s"tok${i % 7}")).toDF("grp", "item")
    // Batch 0 delivered, then REPLAYED (at-least-once), then batch 1.
    sink(b0, 0L)
    sink(b0, 0L)
    sink(b1, 1L)
    val merged = StreamingOps.mergedCountMinCells(spark, dir).collect()
      .map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    val whole = Sketches.countMinCells(b0.unionByName(b1), "grp", "item").collect()
      .map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(merged === whole) // replay did not inflate any cell
    // Probing the merged state answers the union-corpus estimate.
    val probes = Seq(("g", "tok0")).toDF("grp", "item")
    val est = Sketches.probeCountMin(
      StreamingOps.mergedCountMinCells(spark, dir), probes)
      .collect().head.getAs[Long]("cms_est")
    val exact = 300 / 11 + 1 + 200 / 7 + 1 // tok0 occurrences in b0 + b1
    assert(est >= exact)
  }

  test("streaming HLL sink: replays and cross-epoch duplicates both count once") {
    import graft.functions.Sketches
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hll_sink").toString
    val sink = StreamingOps.hllSink("grp", "v", dir)
    val b0 = (0 until 400).map(i => ("g", i.toLong)).toDF("grp", "v")
    val b1 = (200 until 600).map(i => ("g", i.toLong)).toDF("grp", "v") // overlaps b0
    sink(b0, 0L)
    sink(b0, 0L) // replay
    sink(b1, 1L)
    val est = StreamingOps.mergedHllDistinct(spark, dir)
      .collect().head.getAs[Double]("est_distinct")
    // True distinct = 600 (200..399 delivered in BOTH epochs — max is
    // idempotent, so neither the replay nor the overlap inflates).
    val batch = Sketches.hllDistinct(
      b0.unionByName(b1), "grp", "v").collect().head.getAs[Double]("est_distinct")
    assert(est === batch) // merged registers ≡ whole-corpus registers
    assert(math.abs(est - 600.0) / 600.0 < 0.4) // p=6: ±13% σ, 3σ gate
  }

  test("streaming passage-state sink: replay-safe merge cleans a batch like the whole corpus") {
    import graft.operators.Dedup
    import spark.implicits._
    val boiler = "terms of service apply"
    def d(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    val b0 = Seq(d(0L, s"$boiler alpha beta gamma delta"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b1 = Seq(d(10L, s"$boiler epsilon zeta eta theta"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_passage_sink").toString
    val sink = StreamingOps.passageCountsSink(dir, passageLen = 4)
    sink(b0, 0L)
    sink(b0, 0L) // replay must not double-count the boilerplate's df
    sink(b1, 1L)
    val cleaned = Dedup.passageDedupAgainst(
      b1, StreamingOps.mergedPassageCounts(spark, dir), passageLen = 4)
      .collect().head
    // df(boilerplate) = 2 across epochs → stripped from the new batch;
    // a replay-inflated df=3 would give the same drop here, so ALSO pin
    // the state itself: the boilerplate digest's merged df must be 2.
    assert(cleaned.getAs[String]("clean_text") === "epsilon zeta eta theta")
    assert(cleaned.getAs[Long]("n_dropped") === 1L)
    val maxDf = StreamingOps.mergedPassageCounts(spark, dir)
      .agg(org.apache.spark.sql.functions.max("df")).collect().head.getLong(0)
    assert(maxDf === 2L, s"replay inflated the merged df to $maxDf")
  }

  test("streaming rolling-state sink: merged dense windows catch offset-shifted boilerplate") {
    import graft.operators.Dedup
    import spark.implicits._
    val boiler = "terms of service apply"
    def d(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    // The boilerplate enters each batch at a DIFFERENT token offset
    // (position 0 in epoch 0, position 2 in epoch 1) — the aligned
    // 4-token passage grid of batch 1 never contains it, so
    // passageCountsSink state could not strip it; dense windows do.
    val b0 = Seq(d(0L, s"$boiler alpha beta gamma delta"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b1 = Seq(d(10L, s"pre amble $boiler epsilon zeta"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_rolling_sink").toString
    val sink = StreamingOps.rollingCountsSink(dir, windowLen = 4)
    sink(b0, 0L)
    sink(b0, 0L) // replay must not double-count
    sink(b1, 1L)
    val cleaned = Dedup.rollingPassageDedupAgainst(
      b1, StreamingOps.mergedRollingCounts(spark, dir), windowLen = 4)
      .collect().head
    assert(cleaned.getAs[String]("clean_text") === "pre amble epsilon zeta")
    assert(cleaned.getAs[Long]("n_dropped") === 4L)
    val maxDf = StreamingOps.mergedRollingCounts(spark, dir)
      .agg(org.apache.spark.sql.functions.max("df")).collect().head.getLong(0)
    assert(maxDf === 2L, s"replay inflated the merged df to $maxDf")
    // Control: the ALIGNED state over the same two batches leaves batch
    // 1 untouched (the shifted span never lands on its passage grid) —
    // the rolling sink exists precisely for this case.
    val adir = java.nio.file.Files.createTempDirectory("graft_aligned_ctrl").toString
    val asink = StreamingOps.passageCountsSink(adir, passageLen = 4)
    asink(b0, 0L); asink(b1, 1L)
    val alignedCleaned = Dedup.passageDedupAgainst(
      b1, StreamingOps.mergedPassageCounts(spark, adir), passageLen = 4)
      .collect().head
    assert(alignedCleaned.getAs[Long]("n_dropped") === 0L,
      "aligned control unexpectedly caught the shifted boilerplate — fixture no longer shifted?")
  }

  test("streaming CDC sink: replay-safe merge cleans a batch like the whole corpus") {
    import graft.operators.Dedup
    import spark.implicits._
    def d(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    val boiler = (0 until 30).map(i => s"bp$i").mkString(" ")
    val b0 = Seq(d(0L, s"alpha beta gamma $boiler"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b1 = Seq(d(10L, s"pre amble text here $boiler tail"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_sink").toString
    val sink = StreamingOps.cdcCountsSink(dir, modulus = 4)
    sink(b0, 0L)
    sink(b0, 0L) // replay must not double-count
    sink(b1, 1L)
    val whole = Dedup.cdcDedup(b0.unionByName(b1), modulus = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val merged = Dedup.cdcDedupAgainst(
      b0.unionByName(b1), StreamingOps.mergedCdcCounts(spark, dir), modulus = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(merged === whole, "merged per-epoch state must equal the one-shot batch pass")
    assert(whole(0L)._2 > 0L && whole(10L)._2 > 0L,
      "the shifted boiler must actually be caught in both docs")
    // Replay must not inflate any digest's df.
    val maxDf = StreamingOps.mergedCdcCounts(spark, dir)
      .agg(org.apache.spark.sql.functions.max("df")).collect().head.getLong(0)
    assert(maxDf === 2L, s"replay inflated the merged df to $maxDf")
  }

  test("streaming ExactSubstr sink: occurrence state merges additively; self-repeats caught; replay-safe") {
    import graft.operators.Dedup
    import spark.implicits._
    def d(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    val shared = (0 until 8).map(i => s"sp$i").mkString(" ")
    // b0's doc repeats a span INTERNALLY; b1's doc shares a span with b0
    // that only duplicates once the states merge (occ 1 + 1 = 2).
    val b0 = Seq(d(0L, s"a b $shared c d $shared e f")).toDF("doc_id", "text", "lang", "source", "n_chars")
    val b1 = Seq(d(10L, s"x y z $shared w v")).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_es_sink").toString
    val sink = StreamingOps.exactSubstrCountsSink(dir)
    sink(b0, 0L)
    sink(b0, 0L) // replay must not double-count occurrences
    sink(b1, 1L)
    val whole = Dedup.exactSubstrDedup(b0.unionByName(b1))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(5))).toMap
    val merged = Dedup.exactSubstrDedupAgainst(
        b0.unionByName(b1), StreamingOps.mergedExactSubstrCounts(spark, dir))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(5))).toMap
    assert(merged === whole, "merged occurrence state must equal the one-shot batch pass")
    assert(whole(0L)._1 > 0L && whole(10L)._1 > 0L,
      "both the self-repeat and the cross-batch shared span must strip")
    // A replayed epoch must not inflate occ: the shared span occurs
    // twice in b0 (self-repeat) + once in b1 = 3; a double-counted b0
    // epoch would read 5.
    val occ1 = StreamingOps.mergedExactSubstrCounts(spark, dir)
      .agg(org.apache.spark.sql.functions.max("occ")).collect().head.getLong(0)
    assert(occ1 === 3L, s"replay inflated merged occurrence counts to $occ1")
  }

  test("keyed shard staging: a reused stage dir replays identical micro-batches") {
    import spark.implicits._
    val frame = (0L until 30L).map(i => (i, s"v$i")).toDF("doc_id", "text")
    def runOnce(): Map[Long, Set[Long]] = {
      val seen = scala.collection.mutable.Map.empty[Long, Set[Long]]
      StreamingOps.streamShards(
        spark, frame, "doc_id", 3, stageKey = Some("spec:staging-reuse")) {
        (batch, id) =>
          seen(id) = batch.select("doc_id").collect().map(_.getLong(0)).toSet
      }
      seen.toMap
    }
    val first = runOnce()
    val second = runOnce() // second call reuses the memoized stage dir
    assert(first === second, "keyed staging must replay the exact same shards")
    assert(first.keySet === Set(0L, 1L, 2L))
    assert(first.values.reduce(_ ++ _) === (0L until 30L).toSet)
    // Shard b is exactly the pmod residue class — the mtime-pinned order.
    (0 to 2).foreach { b =>
      assert(first(b.toLong) === (0L until 30L).filter(_ % 3 == b).toSet)
    }
  }

  test("streaming graph-ANN edge sink: replay-safe; search over merged state equals the one-shot batch build") {
    import graft.operators.Similarity
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, min}
    val rnd = new scala.util.Random(11)
    val emb = (0L until 40L).map { id =>
      (id, Array.fill(64)(rnd.nextFloat() * 2f - 1f).toSeq, "l" + (id % 3))
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft_gann_sink").toString
    val sink = StreamingOps.graphAnnEdgeSink(spark, dir)
    val b0 = emb.filter($"vec_id" % 2 === 0)
    val b1 = emb.filter($"vec_id" % 2 === 1)
    sink(b0, 0L)
    sink(b0, 0L) // replay must overwrite its own deltas, not append
    sink(b1, 1L)
    val (vecs, edges) = StreamingOps.mergedGraphAnnState(spark, dir)
    assert(vecs.count() === 40L, "replayed epoch must overwrite, not append")
    // The merged edge list must equal the batch build exactly: every
    // co-bucket pair is captured at max(epoch(a), epoch(b)), dp is
    // pair-determined, and top-degree is a selection over the set.
    val batchEdges = Similarity.knnEdgesLsh(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mergedNn = Similarity
      .topDegreeFromCandidates(
        spark.read.parquet(s"$dir/cand").select("src", "nb", "dp").distinct(), 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mergedNn === batchEdges,
      "merged candidate deltas must select the exact batch edge list")
    // End to end: the beam search over the merged state answers like
    // the one-shot batch path.
    val entry = vecs.agg(min(col("vec_id"))).collect()(0).getLong(0)
    val got = Similarity.graphAnnSearchOverEdges(
        vecs.persist(), edges, entry)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = Similarity.graphAnnSearch(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    vecs.unpersist()
    assert(got === batch, "streamed edge state must answer searches identically to the batch path")
    assert(batch.nonEmpty)
  }

  test("streaming IVF postings sink: replay-safe; search over merged postings equals one-shot batch search") {
    import graft.operators.Similarity
    import spark.implicits._
    // 40 deterministic 64-dim vectors; the frozen quantizer is the
    // vec_id < 16 placeholder scheme on the FULL frame (same as batch).
    val rnd = new scala.util.Random(7)
    val emb = (0L until 40L).map { id =>
      (id, Array.fill(64)(rnd.nextFloat() * 2f - 1f).toSeq, "l" + (id % 3))
    }.toDF("vec_id", "embedding", "label")
    val cents = Similarity.placeholderCentroids(emb)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_sink").toString
    val sink = StreamingOps.ivfPostingsSink(cents, dir)
    val b0 = emb.filter($"vec_id" % 2 === 0)
    val b1 = emb.filter($"vec_id" % 2 === 1)
    sink(b0, 0L)
    sink(b0, 0L) // replay must not duplicate postings
    sink(b1, 1L)
    val postings = StreamingOps.mergedIvfPostings(spark, dir)
    assert(postings.count() === 40L, "replayed epoch must overwrite, not append")
    val got = Similarity.ivfSearchOverPostings(postings, emb, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = Similarity.ivfSearch(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === batch, "streamed index must answer searches identically to the batch path")
    assert(batch.nonEmpty)
  }

  test("ExactSubstr occurrence-state compaction: additive fold, view unchanged, dirs bounded") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_es_compact").toString
    val sink = StreamingOps.exactSubstrCountsSink(dir, windowLen = 3)
    val mk = (ids: Seq[Long]) => ids.map(i =>
      (i, s"shared span alpha beta gamma delta tail$i unique$i")).toDF("doc_id", "text")
    sink(mk(Seq(1L)), 0L); sink(mk(Seq(2L)), 1L); sink(mk(Seq(3L)), 2L)
    def occs() = StreamingOps.mergedExactSubstrCounts(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = occs()
    assert(StreamingOps.compactExactSubstrEpochs(spark, dir, keepAfter = 1L) === 2)
    assert(occs() === before, "compaction changed the merged occurrence state")
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("batch_id=")) === 2)
    sink(mk(Seq(1L)), 0L) // folded-epoch replay: read-side no-op
    assert(occs() === before, "replay of a compacted epoch inflated occurrences")
    assert(before.values.max >= 3L, "the shared span must accumulate across epochs")
  }

  test("IVF postings compaction: view unchanged, replay no-op, dirs bounded, equals from-scratch; tombstones delete exactly") {
    import graft.operators.Similarity
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val emb = (0L until 40L).map { id =>
      (id, Array.fill(64)(rnd.nextFloat() * 2f - 1f).toSeq, "l" + (id % 3))
    }.toDF("vec_id", "embedding", "label")
    val cents = Similarity.placeholderCentroids(emb)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_compact").toString
    val sink = StreamingOps.ivfPostingsSink(cents, dir)
    val batches = (0 to 2).map(b => emb.filter($"vec_id" % 3 === b))
    batches.zipWithIndex.foreach { case (b, i) => sink(b, i.toLong) }
    def view() = StreamingOps.mergedIvfPostings(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    def dirs() = new java.io.File(dir).listFiles().count(_.getName.startsWith("batch_id="))
    val before = view()
    // 1. The merged view is unchanged by compaction.
    val removed = StreamingOps.compactIvfEpochs(spark, dir, keepAfter = 1L)
    assert(removed === 2, "epochs 0 and 1 fold into the base")
    assert(view() === before, "compaction changed the merged postings")
    // 2. Dir count is bounded: one base + the live epoch.
    assert(dirs() === 2)
    // 3. A replay of a folded epoch is a read-side no-op.
    sink(batches(0), 0L)
    assert(view() === before, "replay of a compacted epoch duplicated postings")
    // 4. Equals the from-scratch state: the one-shot batch assignment.
    val scratch = Similarity.ivfAssignWith(emb, cents)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(view() === scratch, "compacted state diverged from the batch assignment")

    // Tombstones: deleting ids 17 and 23 (≥ numCentroids, ≥ numQueries —
    // quantizer and query panel unchanged) makes the merged search equal
    // the one-shot batch search over the SURVIVORS, exactly.
    val ddir = java.nio.file.Files.createTempDirectory("graft_ivf_tombs").toString
    val tomb = StreamingOps.tombstoneSink(ddir)
    tomb(Seq(17L).toDF("vec_id"), 0L)
    tomb(Seq(17L).toDF("vec_id"), 0L) // replayed delete epoch: no-op
    tomb(Seq(23L).toDF("vec_id"), 1L)
    val got = Similarity.ivfSearchOverPostings(
        StreamingOps.mergedIvfPostings(spark, dir, deletesPath = Some(ddir)), emb, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val survivors = emb.filter(!$"vec_id".isin(17L, 23L))
    val batch = Similarity.ivfSearch(survivors)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === batch, "post-deletion merged search must equal the batch build on survivors")
    assert(got.nonEmpty)
    // Tombstone epochs compact like any other state dir.
    assert(StreamingOps.compactTombstoneEpochs(spark, ddir, keepAfter = 1L) === 2)
    val got2 = Similarity.ivfSearchOverPostings(
        StreamingOps.mergedIvfPostings(spark, dir, deletesPath = Some(ddir)), emb, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got2 === batch, "tombstone compaction changed the deletion set")
  }

  test("graph-ANN state compaction + tombstones: view unchanged, replay skipped, equals batch build on survivors") {
    import graft.operators.Similarity
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, min}
    val rnd = new scala.util.Random(17)
    val emb = (0L until 40L).map { id =>
      (id, Array.fill(64)(rnd.nextFloat() * 2f - 1f).toSeq, "l" + (id % 3))
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft_gann_compact").toString
    // Sink degree 8 = read degree 6 + deletion slack 2 (the parity bound).
    val sink = StreamingOps.graphAnnEdgeSink(spark, dir, degree = 8)
    val batches = (0 to 2).map(b => emb.filter($"vec_id" % 3 === b))
    batches.zipWithIndex.foreach { case (b, i) => sink(b, i.toLong) }
    def search(deletes: Option[String] = None): Set[(Long, Long, Int)] = {
      val (vecs, edges) = StreamingOps.mergedGraphAnnState(spark, dir, 6, deletes)
      val v = vecs.persist()
      val entry = v.agg(min(col("vec_id"))).collect()(0).getLong(0)
      val out = Similarity.graphAnnSearchOverEdges(v, edges, entry)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      v.unpersist()
      out
    }
    def dirsIn(sub: String) =
      new java.io.File(s"$dir/$sub").listFiles().count(_.getName.startsWith("batch_id="))
    val before = search()
    // 1. View unchanged; 2. dirs bounded (one base + one live per subdir).
    val removed = StreamingOps.compactGraphAnnEpochs(spark, dir, keepAfter = 1L)
    assert(removed === 6, "epochs 0 and 1 fold in each of cand/far/vecs")
    assert(search() === before, "compaction changed the merged search answer")
    assert(Seq("cand", "far", "vecs").map(dirsIn).toSet === Set(2))
    // 3. A replayed folded epoch is a WRITE-side no-op (skip guard): no
    // positive dirs reappear below the watermark.
    sink(batches(0), 0L)
    assert(Seq("cand", "far", "vecs").map(dirsIn).toSet === Set(2),
      "replay below the watermark must not write any delta dir")
    assert(search() === before)
    // 4. Equals from-scratch: the one-shot batch build answers identically
    // (read degree 6 over the degree-8 sink state).
    val batchAns = Similarity.graphAnnSearch(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(search() === batchAns)

    // Deletion parity under the slack bound (|tombstones| = 2 ≤ 8 − 6):
    // tombstoning ids 17, 23 (not the entry, not a query) makes the
    // merged search equal the batch build over the SURVIVING corpus.
    val ddir = java.nio.file.Files.createTempDirectory("graft_gann_tombs").toString
    StreamingOps.tombstoneSink(ddir)(Seq(17L, 23L).toDF("vec_id"), 0L)
    val gotDel = search(Some(ddir))
    val batchDel = Similarity.graphAnnSearch(emb.filter(!$"vec_id".isin(17L, 23L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(gotDel === batchDel,
      "post-deletion merged search must equal the batch build on survivors")
    assert(gotDel.nonEmpty && gotDel != before,
      "the deletion must actually change some answer for the parity to mean anything")
  }

  test("physical deletion at compaction: tombstoned vectors leave the disk, answers unchanged") {
    import graft.operators.Similarity
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, min}
    val rnd = new scala.util.Random(29)
    val emb = (0L until 40L).map { id =>
      (id, Array.fill(64)(rnd.nextFloat() * 2f - 1f).toSeq, "l" + (id % 3))
    }.toDF("vec_id", "embedding", "label")
    // --- graph-ANN: degree-8 sink, 2 deletions (slack bound respected) ---
    val gdir = java.nio.file.Files.createTempDirectory("graft_gann_phys").toString
    val gsink = StreamingOps.graphAnnEdgeSink(spark, gdir, degree = 8)
    (0 to 2).foreach(b => gsink(emb.filter($"vec_id" % 3 === b), b.toLong))
    val gdels = java.nio.file.Files.createTempDirectory("graft_gann_phys_t").toString
    StreamingOps.tombstoneSink(gdels)(Seq(17L, 23L).toDF("vec_id"), 0L)
    val batchDel = Similarity.graphAnnSearch(emb.filter(!$"vec_id".isin(17L, 23L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(StreamingOps.compactGraphAnnEpochs(
      spark, gdir, keepAfter = 2L, deletesPath = Some(gdels)) === 9)
    // Physically gone from every folded subdir (raw reads, no view logic).
    for (sub <- Seq("vecs", "cand", "far")) {
      val raw = spark.read.parquet(s"$gdir/$sub")
      val cols = if (sub == "vecs") Seq("vec_id") else Seq("src", "nb")
      cols.foreach { c =>
        assert(raw.filter(col(c).isin(17L, 23L)).count() === 0L,
          s"$sub.$c still carries a tombstoned id on disk")
      }
    }
    // Answers unchanged: with the tombstones (idempotent) AND, since the
    // full fold left no live epochs, even without them.
    for (dels <- Seq(Some(gdels), None)) {
      val (vecs, edges) = StreamingOps.mergedGraphAnnState(spark, gdir, 6, dels)
      val v = vecs.persist()
      val entry = v.agg(min(col("vec_id"))).collect()(0).getLong(0)
      val got = Similarity.graphAnnSearchOverEdges(v, edges, entry)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      v.unpersist()
      assert(got === batchDel, s"post-physical-deletion search diverged (dels=$dels)")
    }
    // --- IVF: same physical guarantee ---
    val cents = Similarity.placeholderCentroids(emb)
    val idir = java.nio.file.Files.createTempDirectory("graft_ivf_phys").toString
    val isink = StreamingOps.ivfPostingsSink(cents, idir)
    (0 to 2).foreach(b => isink(emb.filter($"vec_id" % 3 === b), b.toLong))
    assert(StreamingOps.compactIvfEpochs(
      spark, idir, keepAfter = 2L, deletesPath = Some(gdels)) === 3)
    assert(spark.read.parquet(idir).filter(col("vec_id").isin(17L, 23L)).count() === 0L,
      "postings still carry a tombstoned vector on disk")
    val got = Similarity.ivfSearchOverPostings(
        StreamingOps.mergedIvfPostings(spark, idir), emb, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batchIvf = Similarity.ivfSearch(emb.filter(!$"vec_id".isin(17L, 23L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === batchIvf)
  }

  test("graph-ANN rebuild: a deletion budget past the slack recovers exactly via rebuildGraphAnnState") {
    import graft.operators.Similarity
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, min}
    val rnd = new scala.util.Random(31)
    val emb = (0L until 40L).map { id =>
      (id, Array.fill(64)(rnd.nextFloat() * 2f - 1f).toSeq, "l" + (id % 3))
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft_gann_rebuild_src").toString
    val sink = StreamingOps.graphAnnEdgeSink(spark, dir, degree = 8)
    (0 to 2).foreach(b => sink(emb.filter($"vec_id" % 3 === b), b.toLong))
    // FOUR deletions: past the 8 − 6 = 2 slack, so the read-time mask's
    // parity bound no longer holds — the rebuild is the recovery path.
    val dels = java.nio.file.Files.createTempDirectory("graft_gann_rebuild_t").toString
    StreamingOps.tombstoneSink(dels)(Seq(14L, 17L, 23L, 29L).toDF("vec_id"), 0L)
    val fresh = java.nio.file.Files.createTempDirectory("graft_gann_rebuild_new").toString
    StreamingOps.rebuildGraphAnnState(spark, dir, fresh, degree = 6, deletesPath = Some(dels))
    // The rebuilt index carries no deleted vectors and needs no mask:
    // it answers exactly like the one-shot batch build on the survivors
    // (full candidate set re-pruned in one epoch — no slack bound).
    val (vecs, edges) = StreamingOps.mergedGraphAnnState(spark, fresh, 6, None)
    val v = vecs.persist()
    assert(v.filter(col("vec_id").isin(14L, 17L, 23L, 29L)).count() === 0L)
    val entry = v.agg(min(col("vec_id"))).collect()(0).getLong(0)
    val got = Similarity.graphAnnSearchOverEdges(v, edges, entry)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    v.unpersist()
    val batch = Similarity.graphAnnSearch(
        emb.filter(!$"vec_id".isin(14L, 17L, 23L, 29L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === batch, "rebuilt state must equal the batch build on survivors, no slack bound")
    // The new sink_meta carries the re-provisioned degree.
    assert(spark.read.parquet(s"$fresh/sink_meta").collect()(0).getAs[Int]("degree") === 6)
  }

  test("graph-ANN sink: a restart at a different prune degree fails fast, naming both degrees") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val emb = (0L until 12L).map { id =>
      (id, Array.fill(64)(rnd.nextFloat() * 2f - 1f).toSeq, "l" + (id % 3))
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft_gann_degree").toString
    StreamingOps.graphAnnEdgeSink(spark, dir, degree = 4)(emb.filter($"vec_id" < 6L), 0L)
    val err = intercept[IllegalArgumentException] {
      StreamingOps.graphAnnEdgeSink(spark, dir, degree = 5)(emb.filter($"vec_id" >= 6L), 1L)
    }
    assert(err.getMessage.contains("degree 4") && err.getMessage.contains("degree 5"), err.getMessage)
    // Nothing of the rejected epoch landed; the same degree resumes.
    assert(!new java.io.File(s"$dir/vecs/batch_id=1").exists())
    StreamingOps.graphAnnEdgeSink(spark, dir, degree = 4)(emb.filter($"vec_id" >= 6L), 1L)
    assert(spark.read.parquet(s"$dir/sink_meta").collect()(0).getAs[Int]("degree") === 4)
  }

  test("near-dup index deletion: signatureIndexWithout equals the from-scratch index over survivors") {
    import graft.operators.Dedup
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely unrelated text about streaming state compaction"),
      (10L, "the quick brown fox jumps over the lazy dog today ok"),
      (11L, "another unrelated snapshot document entirely its own"))
      .toDF("doc_id", "text")
    val kept = docs.filter($"doc_id" < 10L)
    val snap = docs.filter($"doc_id" >= 10L)
    // Doc 10 is a near-dup of kept docs 1/2; with doc 1 AND 2 tombstoned
    // it must be admitted again.
    val fullIdx = Dedup.signatureDigestIndex(kept)
    val tombs = Seq(1L, 2L).toDF("doc_id")
    val viaTombs = Dedup.nearDupAgainst(
        kept, snap, keptSignatures = Some(Dedup.signatureIndexWithout(fullIdx, tombs)))
      .collect().map(_.getLong(0)).toSet
    val scratch = Dedup.nearDupAgainst(kept.filter($"doc_id" === 3L), snap)
      .collect().map(_.getLong(0)).toSet
    assert(viaTombs === scratch, "tombstoned index diverged from the survivor rebuild")
    assert(viaTombs === Set(10L, 11L), "deleting the near-dup's kept twins must re-admit it")
    // Contrast: with the full index, doc 10 is suppressed.
    val full = Dedup.nearDupAgainst(kept, snap, keptSignatures = Some(fullIdx))
      .collect().map(_.getLong(0)).toSet
    assert(full === Set(11L))
  }

  test("streaming MG sink: trim rule exact, replay-safe, guarantee holds on the merged state") {
    import spark.implicits._
    // Hand-checkable trim: two epochs of counters for one group, k = 2.
    // Summed: a=10, b=6, c=4 → 3rd largest d=4 → kept a=6, b=2; c dies.
    val rows = Seq(
      ("g", "a", 6L), ("g", "b", 6L), ("g", null.asInstanceOf[String], 20L),
      ("g", "a", 4L), ("g", "c", 4L), ("g", null.asInstanceOf[String], 12L))
      .toDF("grp", "item", "est")
    val merged = StreamingOps.mergeMgRows(rows, k = 2).collect()
    val counters = merged.filter(_.get(1) != null)
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(counters === Map("a" -> 6L, "b" -> 2L))
    val n = merged.filter(_.get(1) == null).map(_.getLong(2)).toSeq
    assert(n === Seq(32L))

    // End to end: skewed tokens over 3 epochs with a replay; the merged
    // state must satisfy the q80 contract (presence + bound) for every
    // exact-heavy item.
    val dir = java.nio.file.Files.createTempDirectory("graft_mg_sink").toString
    val sink = StreamingOps.mgSink("grp", "item", dir, k = 4)
    def batch(seed: Int, hot: Int) =
      ((0 until hot).map(_ => ("g", "hot")) ++
        (0 until 120).map(i => ("g", s"t${(i * 7 + seed) % 40}")))
        .toDF("grp", "item")
    val b0 = batch(0, 60); val b1 = batch(1, 50); val b2 = batch(2, 40)
    sink(b0, 0L); sink(b0, 0L) // replay must overwrite, not double-count
    sink(b1, 1L); sink(b2, 2L)
    val all = b0.unionByName(b1).unionByName(b2)
    val checked = StreamingOps.mergedHeavyHittersChecked(
      all, "grp", "item", spark, dir, k = 4).collect()
    assert(checked.nonEmpty, "the hot token must clear the n/(k+1) threshold")
    checked.foreach { r =>
      assert(r.getAs[Boolean]("present"), s"${r.getAs[String]("item")} missing")
      assert(r.getAs[Boolean]("bound_ok"), s"${r.getAs[String]("item")} out of bound")
    }
    // n in the merged state equals the exact token total (replay-safe).
    val nMerged = StreamingOps.mergedHeavyHitters(spark, dir, k = 4)
      .filter(col("item").isNull).collect().head.getLong(2)
    assert(nMerged === all.count())
    // Compaction applies the same sum-then-trim merge: the checked
    // contract still holds and the per-group counter count is ≤ k.
    StreamingOps.compactMgEpochs(spark, dir, keepAfter = 1L, k = 4)
    val postCompact = StreamingOps.mergedHeavyHittersChecked(
      all, "grp", "item", spark, dir, k = 4).collect()
    assert(postCompact.map(r => (r.getString(1), r.getBoolean(4), r.getBoolean(5))).toSet
      === checked.map(r => (r.getString(1), r.getBoolean(4), r.getBoolean(5))).toSet)
    val kept = StreamingOps.mergedHeavyHitters(spark, dir, k = 4)
      .filter(col("item").isNotNull).count()
    assert(kept <= 4L)
  }

  test("epoch compaction bounds state dirs and keeps old-epoch replays no-ops") {
    import graft.functions.Sketches
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cms_compact").toString
    val sink = StreamingOps.countMinSink("grp", "item", dir)
    def batch(seed: Int) =
      (0 until 100).map(i => ("g", s"tok${seed}_${i % 13}")).toDF("grp", "item")
    (0L to 4L).foreach(b => sink(batch(b.toInt), b))
    def cells() = StreamingOps.mergedCountMinCells(spark, dir).collect()
      .map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    def dirs() = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    val before = cells()
    // Fold epochs 0..2 into the base partition batch_id=-3.
    val removed = StreamingOps.compactCountMinEpochs(spark, dir, keepAfter = 2L)
    assert(removed === 3)
    assert(dirs() === Set("batch_id=-3", "batch_id=3", "batch_id=4"))
    assert(cells() === before, "compaction changed the merged sketch")
    // foreachBatch keeps its at-least-once contract AFTER compaction:
    // a replay of compacted epoch 1 re-creates its directory, but the
    // read side knows every epoch <= watermark lives in the base.
    sink(batch(1), 1L)
    assert(cells() === before, "replay of a compacted epoch double-counted")
    // A LIVE epoch replay still overwrites in place, as ever.
    sink(batch(3), 3L)
    assert(cells() === before)
    // Advancing the watermark folds base + live epochs + drops the stale
    // replayed dir; same-watermark re-compaction is an explicit no-op.
    assert(StreamingOps.compactCountMinEpochs(spark, dir, 2L) === 0)
    val removed2 = StreamingOps.compactCountMinEpochs(spark, dir, 4L)
    assert(removed2 === 4) // old base, replayed e1, e3, e4
    assert(dirs() === Set("batch_id=-5"))
    assert(cells() === before, "second compaction changed the merged sketch")
    // And the merged view still equals the from-scratch batch sketch.
    val whole = Sketches.countMinCells(
      (0 to 4).map(batch).reduce(_ unionByName _), "grp", "item").collect()
      .map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(cells() === whole)
  }

  test("compaction refuses a keepAfter beyond the newest existing epoch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cms_overreach").toString
    val sink = StreamingOps.countMinSink("grp", "item", dir)
    (0L to 2L).foreach(b =>
      sink((0 until 20).map(i => ("g", s"t${b}_$i")).toDF("grp", "item"), b))
    def dirs() = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    val before = dirs()
    // keepAfter=7 claims epochs 3..7 that have not run: a watermark at 7
    // would make the sink skip their future batches as replays. Must be
    // refused loudly with the layout untouched.
    val ex = intercept[IllegalArgumentException] {
      StreamingOps.compactCountMinEpochs(spark, dir, keepAfter = 7L)
    }
    assert(ex.getMessage.contains("beyond the newest existing epoch"))
    assert(dirs() === before, "failed compaction mutated the state layout")
    // The boundary itself (newest epoch) is legal.
    assert(StreamingOps.compactCountMinEpochs(spark, dir, keepAfter = 2L) === 3)
    assert(dirs() === Set("batch_id=-3"))
  }

  test("admission-sink compaction: folded epochs replay as no-ops, live dedup still sees them") {
    import graft.operators.Curation
    def text(seed: Int, mutateAt: Int = -1): String =
      "the " + (0 until 45).map(i =>
        if (i == mutateAt) s"mut${seed}z$i" else s"word$seed$i").mkString(" ")
    def df(rows: (Long, String)*) =
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val keptInit = df(0L -> text(0))
    val dir = java.nio.file.Files.createTempDirectory("graft_admission_compact").toString
    val sink = StreamingOps.corpusAdmissionSink(spark, keptInit, dir)
    sink(df(100L -> text(2)), 0L)                       // novel → admitted
    sink(df(200L -> text(3)), 1L)                       // novel → admitted
    sink(df(300L -> text(4)), 2L)                       // novel → admitted
    def admitted() = spark.read.parquet(dir)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(admitted() === Set(100L, 200L, 300L))
    // Fold epochs 0..1 into the base.
    assert(StreamingOps.compactAdmissionEpochs(spark, dir, keepAfter = 1L) === 2)
    def dirs() = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs() === Set("batch_id=-2", "batch_id=2"))
    assert(admitted() === Set(100L, 200L, 300L), "compaction changed the corpus")
    // Replaying a FOLDED epoch must be a write-side no-op — recomputing
    // would dedup the batch against its own prior output (now in the
    // base) and overwrite batch_id=0 with garbage.
    sink(df(100L -> text(2)), 0L)
    assert(dirs() === Set("batch_id=-2", "batch_id=2"), "folded-epoch replay recreated its dir")
    assert(admitted() === Set(100L, 200L, 300L))
    // A live batch still dedups against everything in the base: a
    // near-dup of folded doc 100 drops, a novel doc admits.
    sink(df(400L -> text(2, mutateAt = 7), 401L -> text(5)), 3L)
    assert(admitted() === Set(100L, 200L, 300L, 401L))
    // Sanity vs sequential ground truth for the final batch.
    val seqKept = keptInit.unionByName(df(100L -> text(2), 200L -> text(3), 300L -> text(4)))
    val want = Curation.admitSnapshot(seqKept, df(400L -> text(2, mutateAt = 7), 401L -> text(5)))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(want === Set(401L))
  }

  test("a crashed compaction (base without _SUCCESS) carries no authority and rerun recovers") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cms_crash").toString
    val sink = StreamingOps.countMinSink("grp", "item", dir)
    def batch(seed: Int) =
      (0 until 100).map(i => ("g", s"tok${seed}_${i % 13}")).toDF("grp", "item")
    (0L to 3L).foreach(b => sink(batch(b.toInt), b))
    def cells() = StreamingOps.mergedCountMinCells(spark, dir).collect()
      .map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    val before = cells()
    // Simulate a compaction that died mid-write: the target base dir
    // exists with in-flight task output under _temporary (what the v1
    // FileOutputCommitter leaves — attempts only become visible at job
    // commit, which also writes _SUCCESS) and no _SUCCESS marker.
    val junk = new java.io.File(dir, "batch_id=-3/_temporary/0")
    assert(junk.mkdirs())
    java.nio.file.Files.write(
      junk.toPath.resolve("part-00000-dead.snappy.parquet"), Array[Byte](1, 2, 3))
    // No authority anywhere: watermark unset, sink not skipping, reader
    // unchanged (epoch dirs are still the truth).
    assert(StreamingOps.epochWatermark(spark, dir).isEmpty)
    assert(cells() === before, "uncommitted base changed the merged view")
    // Rerunning the same compaction replaces the junk and cleans up.
    val removed = StreamingOps.compactCountMinEpochs(spark, dir, keepAfter = 2L)
    assert(removed === 3) // epochs 0,1,2 (junk base at -3 is overwritten in place)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs === Set("batch_id=-3", "batch_id=3"))
    assert(StreamingOps.epochWatermark(spark, dir) === Some(2L))
    assert(cells() === before, "recovery compaction changed the merged sketch")
  }

  test("epoch compaction preserves HLL and passage state semantics") {
    import spark.implicits._
    // HLL: register-max merge — compaction must not inflate estimates
    // even with cross-epoch duplicate values.
    val hdir = java.nio.file.Files.createTempDirectory("graft_hll_compact").toString
    val hsink = StreamingOps.hllSink("grp", "v", hdir)
    hsink((0 until 400).map(i => ("g", i.toLong)).toDF("grp", "v"), 0L)
    hsink((200 until 600).map(i => ("g", i.toLong)).toDF("grp", "v"), 1L)
    hsink((400 until 700).map(i => ("g", i.toLong)).toDF("grp", "v"), 2L)
    val hBefore = StreamingOps.mergedHllDistinct(spark, hdir)
      .collect().head.getAs[Double]("est_distinct")
    assert(StreamingOps.compactHllEpochs(spark, hdir, 1L) === 2)
    val hAfter = StreamingOps.mergedHllDistinct(spark, hdir)
      .collect().head.getAs[Double]("est_distinct")
    assert(hAfter === hBefore)
    // Passage counts: digest-sum merge.
    val pdir = java.nio.file.Files.createTempDirectory("graft_pass_compact").toString
    def d(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    val psink = StreamingOps.passageCountsSink(pdir, passageLen = 4)
    psink(Seq(d(0L, "terms of service apply alpha beta gamma delta"))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), 0L)
    psink(Seq(d(1L, "terms of service apply epsilon zeta eta theta"))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), 1L)
    val pBefore = StreamingOps.mergedPassageCounts(spark, pdir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(StreamingOps.compactPassageEpochs(spark, pdir, 0L) === 1)
    val pAfter = StreamingOps.mergedPassageCounts(spark, pdir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pAfter === pBefore)
  }

  test("corpus admission sink: replayed micro-batches equal sequential batch admission") {
    import graft.operators.Curation
    // Quality-passing docs: 46 words (>= 40), avg word length in band,
    // leading stopword. Distinct seeds share no vocabulary.
    def text(seed: Int, mutateAt: Int = -1): String =
      "the " + (0 until 45).map(i =>
        if (i == mutateAt) s"mut${seed}z$i" else s"word$seed$i").mkString(" ")
    def df(rows: (Long, String)*) =
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")

    val keptInit = df(0L -> text(0))
    // Batch 0: exact dup of kept (100), near-dup of kept (101: one word
    // changed, jaccard 41/47 ≈ 0.87 ≥ 0.75), novel (102), junk (103).
    val batch0 = df(
      100L -> text(0), 101L -> text(0, mutateAt = 20),
      102L -> text(2), 103L -> "too short")
    // Batch 1: near-dup of batch 0's ADMITTED doc (200 — dropped only if
    // the kept corpus actually grew), plus a novel doc (201).
    val batch1 = df(200L -> text(2, mutateAt = 7), 201L -> text(3))

    // Ground truth: sequential batch admission.
    val a0 = Curation.admitSnapshot(keptInit, batch0)
    val a1 = Curation.admitSnapshot(keptInit.unionByName(a0), batch1)
    val wantIds = (a0.collect() ++ a1.collect()).map(_.getAs[Long]("doc_id")).toSet
    assert(wantIds === Set(102L, 201L))

    // Streaming path WITH REPLAYS: each batch delivered twice
    // (foreachBatch's at-least-once contract after a failure).
    val dir = java.nio.file.Files.createTempDirectory("graft_admission").toString
    val sink = StreamingOps.corpusAdmissionSink(spark, keptInit, dir)
    sink(batch0, 0L)
    sink(batch0, 0L) // replay of batch 0
    sink(batch1, 1L)
    sink(batch1, 1L) // replay of batch 1
    val streamed = spark.read.parquet(dir)
    assert(streamed.collect().map(_.getAs[Long]("doc_id")).toSet === wantIds,
      "replayed sink admissions must equal the batch-computed admitted set")
    assert(streamed.select("batch_id").distinct().count() === 2L)

    // And it wires into a real streaming query end-to-end.
    val dir2 = java.nio.file.Files.createTempDirectory("graft_admission_live").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String, String, Long)]
    val q = in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeStream
      .foreachBatch(StreamingOps.corpusAdmissionSink(spark, keptInit, dir2))
      .start()
    in.addData(batch0.collect().map(r => (
      r.getAs[Long]("doc_id"), r.getAs[String]("text"), r.getAs[String]("lang"),
      r.getAs[String]("source"), r.getAs[Long]("n_chars"))).toSeq: _*)
    q.processAllAvailable()
    in.addData(batch1.collect().map(r => (
      r.getAs[Long]("doc_id"), r.getAs[String]("text"), r.getAs[String]("lang"),
      r.getAs[String]("source"), r.getAs[Long]("n_chars"))).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(dir2).collect().map(_.getAs[Long]("doc_id")).toSet === wantIds)
  }

  test("file-stream admission equals sequential batch admission with deterministic shard order") {
    import graft.operators.Curation
    def text(seed: Int, mutateAt: Int = -1): String =
      "the " + (0 until 45).map(i =>
        if (i == mutateAt) s"mut${seed}z$i" else s"word$seed$i").mkString(" ")
    def df(rows: (Long, String)*) =
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    // Shards by doc_id % 3: shard 0 = {90 novel, 93 exact-dup-of-kept},
    // shard 1 = {91 near-dup of shard 0's admitted 90}, shard 2 = {92 novel}.
    val keptInit = df(0L -> text(0))
    val candidates = df(
      90L -> text(9), 93L -> text(0),
      91L -> text(9, mutateAt = 7),
      92L -> text(5))
    val streamed = StreamingOps.admitViaFileStream(spark, candidates, keptInit)
    val got = streamed.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("batch_id"))).toSet
    // Ground truth: sequential admitSnapshot over the same shards.
    val s0 = candidates.filter(col("doc_id") % 3 === 0)
    val s1 = candidates.filter(col("doc_id") % 3 === 1)
    val s2 = candidates.filter(col("doc_id") % 3 === 2)
    val a0 = Curation.admitSnapshot(keptInit, s0)
    val k1 = keptInit.unionByName(a0)
    val a1 = Curation.admitSnapshot(k1, s1)
    val a2 = Curation.admitSnapshot(k1.unionByName(a1), s2)
    val want =
      a0.collect().map(r => (r.getAs[Long]("doc_id"), 0)) ++
        a1.collect().map(r => (r.getAs[Long]("doc_id"), 1)) ++
        a2.collect().map(r => (r.getAs[Long]("doc_id"), 2))
    assert(got === want.toSet)
    // The cross-batch near-dup must have been dropped (kept set grew),
    // the exact dup dropped against keptInit, both novels admitted in
    // their own shard's micro-batch.
    assert(got === Set(90L -> 0, 92L -> 2))
  }

  test("the batch normalizeActions projection composes with readStream frames") {
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(String, Long, Long, java.sql.Timestamp)]
    val clicks = clicksIn.toDF().toDF("dt", "customer_id", "item_id", "click_time")
    val emptyCarts = Seq.empty[graft.model.CartAdd].toDF()
    val emptyOrders = Seq.empty[graft.model.OrderEvent].toDF()

    // Same operator code path as batch — streaming-batch union is allowed
    // only batch-batch or stream-stream, so normalize the stream alone
    // against empty batch frames is invalid; instead check the projection
    // half of the operator accepts a streaming frame.
    val projected = clicks.select(
      col("customer_id").cast("long"),
      col("item_id").cast("long"),
      col("click_time").as("action_time"),
      lit(1).as("action_type"))
    assert(projected.isStreaming)

    val query = projected.writeStream.format("memory").queryName("norm_stream")
      .outputMode(OutputMode.Append()).start()
    clicksIn.addData(("2025-08-13", 1L, 10L, ts("2025-08-13 12:00:00")))
    query.processAllAvailable()
    val out = spark.table("norm_stream").collect()
    query.stop()
    assert(out.length === 1 && out.head.getAs[Int]("action_type") === 1)
  }

  test("occurrence takedown: a subtraction epoch cancels the removed doc exactly; fully-cancelled digests vanish; compaction clamps") {
    import graft.operators.Dedup
    import spark.implicits._
    def mk(rows: (Long, String)*) = rows.map { case (id, t) =>
      (id, t, "en", "s", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val shared = (0 until 8).map(i => s"sp$i").mkString(" ")
    val d0 = mk(0L -> s"a b $shared c d")
    val d1 = mk(10L -> s"x y z $shared w v only here$shared")
    val d2 = mk(20L -> "p q r s t u v w2 none shared")
    val dir = java.nio.file.Files.createTempDirectory("graft_es_takedown").toString
    val sink = StreamingOps.exactSubstrCountsSink(dir)
    sink(d0, 0L); sink(d1, 1L); sink(d2, 2L)
    // Before takedown the shared span strips from both carriers.
    val before = Dedup.exactSubstrDedupAgainst(
        d0.unionByName(d2), StreamingOps.mergedExactSubstrCounts(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(before(0L) > 0L, "shared span must strip while doc 10 is in the state")
    // Subtraction epoch: doc 10 removed. Merged state must now equal the
    // batch occurrence counts over the survivors, digest for digest —
    // doc-10-only digests VANISH (not zero rows), and the shared span's
    // occ drops to 1 so the survivor strip keeps it.
    StreamingOps.exactSubstrDeleteSink(dir)(d1, 3L)
    val survivors = d0.unionByName(d2)
    def stateMap() = StreamingOps.mergedExactSubstrCounts(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchMap = Dedup.rollingOccurrenceCounts(survivors)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stateMap() === batchMap,
      "merged state after subtraction must equal the survivor batch counts")
    val after = Dedup.exactSubstrDedupAgainst(
        survivors, StreamingOps.mergedExactSubstrCounts(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val oneShot = Dedup.exactSubstrDedup(survivors)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(after === oneShot, "survivor strip against the state must equal the batch strip")
    assert(after(0L) === 0L, "with doc 10 gone nothing in doc 0 is duplicated")
    // Replay of the delete epoch: overwrite, not double-subtraction.
    StreamingOps.exactSubstrDeleteSink(dir)(d1, 3L)
    assert(stateMap() === batchMap, "a replayed delete epoch must not subtract twice")
    // Compaction folds adds + subtraction through the positive clamp:
    // view unchanged, and the base carries no zero/negative rows.
    assert(StreamingOps.compactExactSubstrEpochs(spark, dir, keepAfter = 3L) === 4)
    assert(stateMap() === batchMap, "compaction changed the merged state")
    val base = spark.read.parquet(dir).filter(col("occ") <= 0L).count()
    assert(base === 0L, s"compacted base carries $base non-positive occurrence rows")
  }

  test("passage and rolling takedown: doc-frequency subtraction equals the survivor batch state") {
    import graft.operators.Dedup
    import spark.implicits._
    def mk(rows: (Long, String)*) = rows.map { case (id, t) =>
      (id, t, "en", "s", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val boiler = (0 until 8).map(i => s"tos$i").mkString(" ")
    val d0 = mk(0L -> s"$boiler alpha beta gamma delta eps zeta eta theta")
    val d1 = mk(1L -> s"$boiler iota kappa lambda mu nu xi omicron pi")
    val d2 = mk(2L -> "wholly original content spanning eight tokens here ok")
    // Aligned passage state: with d1 deleted the boilerplate df drops to
    // 1 — the survivor strip must keep it (df > 1 is the drop rule).
    val pDir = java.nio.file.Files.createTempDirectory("graft_pc_takedown").toString
    val pSink = StreamingOps.passageCountsSink(pDir)
    pSink(d0, 0L); pSink(d1, 1L); pSink(d2, 2L)
    StreamingOps.passageCountsDeleteSink(pDir)(d1, 3L)
    val pState = StreamingOps.mergedPassageCounts(spark, pDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pBatch = Dedup.passageDigestCounts(d0.unionByName(d2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pState === pBatch, "passage state after subtraction must equal survivor batch counts")
    val pStrip = Dedup.passageDedupAgainst(
        d0.unionByName(d2), StreamingOps.mergedPassageCounts(spark, pDir))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(pStrip.values.forall(_ === 0L), "nothing should strip once the other carrier is gone")
    // Rolling (dense-window) state: same contract, window digests.
    val rDir = java.nio.file.Files.createTempDirectory("graft_rc_takedown").toString
    val rSink = StreamingOps.rollingCountsSink(rDir)
    rSink(d0, 0L); rSink(d1, 1L); rSink(d2, 2L)
    StreamingOps.rollingCountsDeleteSink(rDir)(d1, 3L)
    val rState = StreamingOps.mergedRollingCounts(spark, rDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rBatch = Dedup.rollingDigestCounts(d0.unionByName(d2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rState === rBatch, "rolling state after subtraction must equal survivor batch counts")
  }

  test("CMS takedown: a subtraction epoch cancels removed rows' cells exactly; cancelled cells read as absent") {
    import graft.functions.Sketches
    import spark.implicits._
    def rows(xs: (String, String)*) = xs.toDF("grp", "item")
    val dir = java.nio.file.Files.createTempDirectory("graft_cms_takedown").toString
    val sink = StreamingOps.countMinSink("grp", "item", dir)
    val b0 = rows("g" -> "alpha", "g" -> "alpha", "g" -> "beta")
    val b1 = rows("g" -> "alpha", "g" -> "gamma")
    sink(b0, 0L); sink(b1, 1L)
    // Take down b1's contribution; the merged cells must equal the batch
    // sketch of b0 alone, cell for cell (fully-cancelled cells vanish —
    // dense-matrix semantics read them as 0 either way).
    StreamingOps.countMinDeleteSink("grp", "item", dir)(b1, 2L)
    def cellMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    val merged = cellMap(StreamingOps.mergedCountMinCells(spark, dir))
    val batch = cellMap(Sketches.countMinCells(b0, "grp", "item"))
    assert(merged === batch, "merged cells after subtraction must equal the survivor batch cells")
    // Probe parity: estimates over the merged state equal the survivor
    // batch sketch's (alpha back to 2; gamma's cells cancelled → 0).
    val probes = rows("g" -> "alpha", "g" -> "gamma").distinct()
    val est = Sketches.probeCountMin(StreamingOps.mergedCountMinCells(spark, dir), probes)
      .collect().map(r => r.getAs[String]("item") -> r.getAs[Long]("cms_est")).toMap
    assert(est("alpha") === 2L)
    assert(est("gamma") === 0L, "a fully-taken-down item must read 0, not a stale count")
    // Compaction folds through the positive clamp; view unchanged.
    assert(StreamingOps.compactCountMinEpochs(spark, dir, keepAfter = 2L) === 3)
    assert(cellMap(StreamingOps.mergedCountMinCells(spark, dir)) === batch)
    assert(spark.read.parquet(dir).filter(col("c") <= 0L).count() === 0L)
  }

  test("streaming video fingerprints: cross-epoch dups surface; tombstones mask exactly; compaction deletes physically") {
    import graft.operators.Multimodal
    import spark.implicits._
    def media(rows: (Long, String)*) = Multimodal.toAvi(
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .select(col("doc_id"), col("payload"))
    val clip = "identical video payload content here for the dup cluster"
    val dir = java.nio.file.Files.createTempDirectory("graft_vfp_sink").toString
    val sink = StreamingOps.videoFingerprintsSink(dir)
    sink(media(0L -> clip, 2L -> "a wholly different clip"), 0L)
    sink(media(0L -> clip, 2L -> "a wholly different clip"), 0L) // replay: overwrite
    sink(media(1L -> clip, 10L -> clip), 1L)
    def clusters(dels: Option[String]) = {
      val fp = StreamingOps.mergedVideoFingerprints(spark, dir, dels)
      assert(fp.count() === fp.select("doc_id").distinct().count(), "replay duplicated rows")
      fp.filter(col("video_fp").isin(
          fp.groupBy("video_fp").count().filter(col("count") > 1)
            .collect().map(_.getString(0)).toSeq: _*))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(clusters(None) === Set(0L, 1L, 10L),
      "the cross-epoch dup cluster must surface from the merged state")
    // Takedown: doc 1 tombstones out; the cluster shrinks, nothing else moves.
    val dels = java.nio.file.Files.createTempDirectory("graft_vfp_dels").toString
    StreamingOps.tombstoneSink(dels, idCol = "doc_id")(Seq(1L).toDF("doc_id"), 0L)
    assert(clusters(Some(dels)) === Set(0L, 10L))
    // Compaction with deletes: doc 1 leaves the DISK; the view is unchanged.
    assert(StreamingOps.compactVideoFingerprintEpochs(
      spark, dir, keepAfter = 1L, deletesPath = Some(dels)) === 2)
    assert(spark.read.parquet(dir).filter(col("doc_id") === 1L).count() === 0L,
      "physical deletion must remove the tombstoned doc's fingerprint row")
    assert(clusters(Some(dels)) === Set(0L, 10L), "compaction changed the merged view")
  }

  test("streaming signature index: replay-safe; merged search equals batch nearDupAgainst; tombstones unsuppress; compaction deletes physically") {
    import graft.operators.Dedup
    import spark.implicits._
    def docs(rows: (Long, String)*) =
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val near = "the quick brown fox jumps over the lazy dog near the riverbank today"
    val kept = docs(
      0L -> near,
      1L -> "a completely different kept document about spark shuffles and joins",
      2L -> "yet another unrelated kept text concerning parquet column pruning")
    val snap = docs(
      10L -> near, // near-dup of kept 0: must drop
      11L -> "fresh snapshot material with no counterpart in the kept corpus at all")
    val dir = java.nio.file.Files.createTempDirectory("graft_sig_sink").toString
    val sink = StreamingOps.signatureIndexSink(dir)
    sink(kept.filter(col("doc_id") === 0L), 0L)
    sink(kept.filter(col("doc_id") === 0L), 0L) // replay: overwrite, not duplicate
    sink(kept.filter(col("doc_id") > 0L), 1L)
    def survivors(dels: Option[String]) =
      Dedup.withNearDupAgainst(kept, snap,
          keptSignatures = Some(StreamingOps.mergedSignatureIndex(spark, dir, dels))) {
        s => s.collect().map(_.getLong(0)).toSet
      }
    // Merged-index search equals the text-derived batch answer.
    val batch = Dedup.withNearDupAgainst(kept, snap) {
      s => s.collect().map(_.getLong(0)).toSet
    }
    assert(survivors(None) === batch)
    assert(batch === Set(11L), "the planted near-dup must drop against the kept corpus")
    // Replay did not duplicate rows.
    val merged = StreamingOps.mergedSignatureIndex(spark, dir)
    assert(merged.count() === merged.select("doc_id").distinct().count())
    // Takedown: kept doc 0 tombstones out -> its near-dup stops being
    // suppressed immediately at read time.
    val dels = java.nio.file.Files.createTempDirectory("graft_sig_dels").toString
    StreamingOps.tombstoneSink(dels, idCol = "doc_id")(Seq(0L).toDF("doc_id"), 0L)
    assert(survivors(Some(dels)) === Set(10L, 11L))
    // Compaction with deletes: doc 0's signatures leave the DISK; the
    // merged view (and the search) is unchanged.
    assert(StreamingOps.compactSignatureIndexEpochs(
      spark, dir, keepAfter = 1L, deletesPath = Some(dels)) === 2)
    assert(spark.read.parquet(dir).filter(col("doc_id") === 0L).count() === 0L,
      "physical deletion must remove the tombstoned doc's signature rows")
    assert(survivors(Some(dels)) === Set(10L, 11L), "compaction changed the merged search")
  }

  test("IVF rebuild: re-trained quantizer from the state's own postings; recall recovers on a drifted corpus; parity with the learned batch search") {
    import graft.operators.Similarity
    import spark.implicits._
    // Spark `DIV` truncates toward zero like DuckDB `//` — the trainer's
    // per-dimension integer means rely on it (q258's oracle replays them
    // with `//`), so pin it against silent semantics drift.
    assert(spark.sql("SELECT -7 DIV 2").collect()(0).getLong(0) === -3L)
    // The DedupSimilaritySpec drift fixture: the first 20 vec_ids are all
    // cluster 0, so the frozen vec_id<16 placeholder quantizer is
    // degenerate for the drifted remainder of the stream.
    val dim = 64
    val rows = (0 until 200).map { i =>
      val c = i / 20
      val v = (0 until dim).map { d =>
        val base = if ((2 * c + d) % 11 < 5) 1.0f else -1.0f
        base + 0.08f * (((i * 31 + d * 17) % 11) - 5) / 5.0f
      }
      (i.toLong, v, c)
    }.toDF("vec_id", "embedding", "label")
    val cents0 = Similarity.placeholderCentroids(rows)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_rebuild").toString
    val sink = StreamingOps.ivfPostingsSink(cents0, dir)
    sink(rows.filter($"vec_id" < 100), 0L)
    sink(rows.filter($"vec_id" >= 100), 1L)
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairsOf(Similarity.knnBruteForce(rows))
    val frozen = pairsOf(Similarity.ivfSearchOverPostings(
      StreamingOps.mergedIvfPostings(spark, dir), rows, cents0))
    val rebuiltDir = java.nio.file.Files.createTempDirectory("graft_ivf_rebuilt").toString
    val cents = StreamingOps.rebuildIvfState(spark, dir, rebuiltDir)
    val rebuilt = Similarity.ivfSearchOverPostings(
      StreamingOps.mergedIvfPostings(spark, rebuiltDir), rows, cents)
    val rebuiltPairs = pairsOf(rebuilt)
    val recallFrozen = (exact intersect frozen).size.toDouble / exact.size
    val recallRebuilt = (exact intersect rebuiltPairs).size.toDouble / exact.size
    assert(recallRebuilt >= 0.9, f"rebuilt recall $recallRebuilt%.2f < 0.9")
    assert(recallRebuilt > recallFrozen,
      f"rebuild didn't recover recall ($recallRebuilt%.2f <= $recallFrozen%.2f)")
    // Parity: searching the rebuilt state equals the one-shot LEARNED
    // batch search — the trainer saw only postings, never raw embeddings.
    val learned = Similarity.ivfSearchLearned(rows)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val got = rebuilt
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(got === learned, "rebuilt-state search must equal the learned batch search")
    // And the centroids themselves match the raw-embedding trainer's.
    assert(cents === Similarity.trainIvfCentroids(rows))
  }
}
