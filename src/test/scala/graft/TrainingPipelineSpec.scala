package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model._
import graft.operators.TrainingPipeline

/** Ports the reference's two tests (tests/test_pipeline.py:62-113, 116-137)
  * as the semantic anchor, with the documented-semantics fix of SURVEY §2.9-1
  * pinned: history-less impressions ARE emitted with all-zero arrays (the
  * reference's own test asserts this at tests/test_pipeline.py:110-113 but
  * its implementation drops the row — we implement the spec).
  */
class TrainingPipelineSpec extends SparkSpec {

  import spark.implicits._

  private def basicFixture: (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // Reference fixture tests/test_pipeline.py:64-94.
    val impressions = Seq(
      Impression("2025-08-14", "r1", 1L, Seq(
        ImpressionItem(100L, is_order = false),
        ImpressionItem(200L, is_order = true))),
      Impression("2025-08-14", "r2", 2L, Seq(
        ImpressionItem(300L, is_order = false)))).toDF()
    val clicks = Seq(
      Click("2025-08-13", 1L, 10L, ts("2025-08-13 12:00:00"))).toDF()
    val carts = Seq(
      CartAdd("2025-07-01", 1L, 20L, 1, ts("2025-07-01 09:00:00"))).toDF()
    val orders = Seq(
      OrderEvent("2024-12-01", 1L, 30L, 1, ts("2024-12-01 17:00:00"))).toDF()
    (impressions, clicks, carts, orders)
  }

  test("basic history extraction (reference test 1, documented semantics)") {
    val (impressions, clicks, carts, orders) = basicFixture
    val out = TrainingPipeline
      .produceTrainingExamples(impressions, clicks, carts, orders, maxHistory = 5)
      .orderBy("customer_id", "impression_pos")
      .collect()

    assert(out.length === 3) // incl. the history-less customer 2

    val byKey = out.map(r =>
      (r.getAs[Long]("customer_id"), r.getAs[Int]("impression_pos")) -> r).toMap

    // Customer 1: most-recent-first merge of click(10) > cart(20) > order(30).
    for (pos <- Seq(0, 1)) {
      val r = byKey((1L, pos))
      assert(r.getAs[Seq[Long]]("actions") === Seq(10L, 20L, 30L, 0L, 0L))
      assert(r.getAs[Seq[Int]]("action_types") === Seq(1, 2, 3, 0, 0))
    }
    assert(byKey((1L, 0)).getAs[Int]("label") === 0)
    assert(byKey((1L, 1)).getAs[Int]("label") === 1)

    // Customer 2: no prior actions → all-zero padding (the documented
    // semantics the reference implementation violates).
    val r2 = byKey((2L, 0))
    assert(r2.getAs[Int]("label") === 0)
    assert(r2.getAs[Seq[Long]]("actions") === Seq.fill(5)(0L))
    assert(r2.getAs[Seq[Int]]("action_types") === Seq.fill(5)(0))
  }

  test("truncation and padding (reference test 2)") {
    // 7 clicks on 2025-08-01..07, impression on 2025-08-14, maxHistory=5.
    val impressions = Seq(
      Impression("2025-08-14", "r9", 99L, Seq(ImpressionItem(555L, is_order = false)))).toDF()
    val clicks = (0 until 7).map(i =>
      Click("2025-08-0" + (1 + i), 99L, 1000L + i, ts(f"2025-08-0${1 + i}%s 10:00:00"))).toDF()
    val carts = Seq.empty[CartAdd].toDF()
    val orders = Seq.empty[OrderEvent].toDF()

    val out = TrainingPipeline
      .produceTrainingExamples(impressions, clicks, carts, orders, maxHistory = 5)
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[Seq[Long]]("actions") === Seq(1006L, 1005L, 1004L, 1003L, 1002L))
    assert(out.head.getAs[Seq[Int]]("action_types") === Seq(1, 1, 1, 1, 1))
  }

  test("same-day actions are excluded (strict midnight cutoff)") {
    val impressions = Seq(
      Impression("2025-08-14", "r1", 7L, Seq(ImpressionItem(1L, is_order = false)))).toDF()
    val clicks = Seq(
      Click("2025-08-14", 7L, 77L, ts("2025-08-14 01:00:00")), // same-day: excluded
      Click("2025-08-13", 7L, 88L, ts("2025-08-13 23:59:59"))) // prior day: included
      .toDF()
    val out = TrainingPipeline
      .produceTrainingExamples(impressions, clicks,
        Seq.empty[CartAdd].toDF(), Seq.empty[OrderEvent].toDF(), maxHistory = 3)
      .collect()
    assert(out.head.getAs[Seq[Long]]("actions") === Seq(88L, 0L, 0L))
  }

  test("timestamp ties break deterministically by item_id then action_type") {
    val t = ts("2025-08-13 12:00:00")
    val impressions = Seq(
      Impression("2025-08-14", "r1", 5L, Seq(ImpressionItem(1L, is_order = false)))).toDF()
    val clicks = Seq(Click("2025-08-13", 5L, 30L, t), Click("2025-08-13", 5L, 10L, t)).toDF()
    val carts = Seq(CartAdd("2025-08-13", 5L, 10L, 1, t)).toDF()
    val out = TrainingPipeline
      .produceTrainingExamples(impressions, clicks, carts,
        Seq.empty[OrderEvent].toDF(), maxHistory = 4)
      .collect()
    // Equal times → ascending item_id, then ascending action_type.
    assert(out.head.getAs[Seq[Long]]("actions") === Seq(10L, 10L, 30L, 0L))
    assert(out.head.getAs[Seq[Int]]("action_types") === Seq(1, 2, 1, 0))
  }

  test("null/empty carousels keep the defensive posexplode_outer row") {
    val impressions = Seq(
      Impression("2025-08-14", "r1", 1L, Seq.empty),
      Impression("2025-08-14", "r2", 2L, null)).toDF()
    val ex = TrainingPipeline.explodeImpressions(impressions).collect()
    assert(ex.length === 2)
    assert(ex.forall(r => r.isNullAt(r.fieldIndex("impression_pos"))))
    assert(ex.forall(_.getAs[Int]("label") === 0))
  }

  test("precomputed-history variant agrees with the direct pipeline") {
    val (impressions, clicks, carts, orders) = basicFixture
    val direct = TrainingPipeline
      .produceTrainingExamples(impressions, clicks, carts, orders, maxHistory = 5)
    val actions = TrainingPipeline.normalizeActions(clicks, carts, orders)
    val hist = TrainingPipeline.customerHistoryBeforeDt(
      actions, impressions.select("dt").distinct(), maxHistory = 5)
    val pre = TrainingPipeline.produceTrainingExamplesPrecomputed(impressions, hist, 5)
    assert(direct.exceptAll(pre).count() === 0)
    assert(pre.exceptAll(direct).count() === 0)
  }

  test("duplicated carousel rows each keep one row with their own history") {
    val dup = Impression("2025-08-14", "r1", 1L, Seq(ImpressionItem(100L, is_order = false)))
    val impressions = Seq(dup, dup).toDF()
    val clicks = Seq(
      Click("2025-08-13", 1L, 10L, ts("2025-08-13 12:00:00")),
      Click("2025-08-12", 1L, 11L, ts("2025-08-12 12:00:00"))).toDF()
    val carts = Seq.empty[CartAdd].toDF()
    val orders = Seq.empty[OrderEvent].toDF()
    val direct = TrainingPipeline
      .produceTrainingExamples(impressions, clicks, carts, orders, maxHistory = 5)
    val rows = direct.collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getAs[Seq[Long]]("actions") === Seq(10L, 11L, 0L, 0L, 0L))
      assert(r.getAs[Seq[Int]]("action_types") === Seq(1, 1, 0, 0, 0))
    }
    val hist = TrainingPipeline.customerHistoryBeforeDt(
      TrainingPipeline.normalizeActions(clicks, carts, orders),
      impressions.select("dt").distinct(), maxHistory = 5)
    val pre = TrainingPipeline.produceTrainingExamplesPrecomputed(impressions, hist, 5)
    assert(direct.exceptAll(pre).count() === 0)
    assert(pre.exceptAll(direct).count() === 0)
  }

  test("null customer_id impressions keep their row with all-zero arrays") {
    val (impressions0, clicks, carts, orders) = basicFixture
    val impressions = impressions0.withColumn("customer_id",
      when(col("ranking_id") === "r2", lit(null)).otherwise(col("customer_id")))
    val out = TrainingPipeline
      .produceTrainingExamples(impressions, clicks, carts, orders, maxHistory = 5)
      .collect()
    assert(out.length === 3)
    val nullRow = out.filter(_.isNullAt(out.head.fieldIndex("customer_id")))
    assert(nullRow.length === 1)
    assert(nullRow.head.getAs[Seq[Long]]("actions") === Seq.fill(5)(0L))
    assert(nullRow.head.getAs[Seq[Int]]("action_types") === Seq.fill(5)(0))
  }

  test("a matched action with a null item_id or action_type fails the run") {
    val (impressions, _, _, _) = basicFixture
    for ((item, tpe) <- Seq((None, Some(1)), (Some(10L), None))) {
      val actions = Seq((1L, item, ts("2025-08-13 12:00:00"), tpe))
        .toDF("customer_id", "item_id", "action_time", "action_type")
      val e = intercept[Exception] {
        TrainingPipeline.produceTrainingExamplesFromActions(impressions, actions, maxHistory = 5).collect()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("non-null item_id and action_type")), e)
    }
  }

  /** Runs `body` with the given session confs, restoring the previous values. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a join that could build the impression side is refused up front") {
    val (impressions, _, _, _) = basicFixture
    // Far bigger than the impressions and than the broadcast threshold, so
    // without preferSortMergeJoin the planner builds the impression side.
    val actions = spark.range(200000).select(
      (col("id") % 3).as("customer_id"), col("id").as("item_id"),
      lit(ts("2025-08-13 12:00:00")).as("action_time"), lit(1).as("action_type"))
    def run() = TrainingPipeline.produceTrainingExamplesFromActions(impressions, actions, maxHistory = 5)
    val shj = intercept[IllegalArgumentException] {
      withConfs("spark.sql.join.preferSortMergeJoin" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "10240")(run())
    }
    assert(shj.getMessage.contains("ShuffledHashJoin"), shj.getMessage)
    val aqe = intercept[IllegalArgumentException] {
      withConfs("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "1m")(run())
    }
    assert(aqe.getMessage.contains("maxShuffledHashJoinLocalMapThreshold"), aqe.getMessage)
    // Sort-merge under the same sizes still runs, and agrees with broadcast.
    val smj = withConfs("spark.sql.autoBroadcastJoinThreshold" -> "10240")(run().collect())
    assert(smj.map(_.toString).sorted === run().collect().map(_.toString).sorted)
  }

  test("invariants: fixed length, parallel zero positions, label domain") {
    val (impressions, clicks, carts, orders) = basicFixture
    for (k <- Seq(1, 2, 5, 16)) {
      val rows = TrainingPipeline
        .produceTrainingExamples(impressions, clicks, carts, orders, maxHistory = k)
        .collect()
      rows.foreach { r =>
        val acts = r.getAs[scala.collection.Seq[Long]]("actions")
        val tys = r.getAs[scala.collection.Seq[Int]]("action_types")
        assert(acts.length === k && tys.length === k)
        acts.zip(tys).foreach { case (a, t) =>
          assert((a == 0L) === (t == 0), s"parallel-zero violated: $acts / $tys")
        }
        assert(Set(0, 1).contains(r.getAs[Int]("label")))
      }
    }
  }

  test("salted skew join produces identical results to the plain join") {
    val (impressions, clicks, carts, orders) = basicFixture
    val plain = TrainingPipeline
      .produceTrainingExamples(impressions, clicks, carts, orders, maxHistory = 5)
    val salted = TrainingPipeline
      .produceTrainingExamples(impressions, clicks, carts, orders, maxHistory = 5,
        saltBuckets = Some(4))
    assert(plain.exceptAll(salted).count() === 0)
    assert(salted.exceptAll(plain).count() === 0)
  }

  test("typed API returns Dataset[TrainingExample] with intact semantics") {
    val (impressions, clicks, carts, orders) = basicFixture
    val ds = TrainingPipeline.produceTrainingExamplesTyped(
      spark, impressions, clicks, carts, orders, maxHistory = 5)
    val rows = ds.collect().sortBy(r => (r.customer_id, r.impression_pos: Int))
    assert(rows.length === 3)
    assert(rows.head.actions === Seq(10L, 20L, 30L, 0L, 0L))
    assert(rows.last.actions === Seq.fill(5)(0L))
  }

  test("typed TopKRecentActions aggregator matches the window formulation") {
    import graft.operators.TopKRecentActions
    val rng = new scala.util.Random(7)
    val actions = (1 to 200).map { i =>
      Action(rng.nextInt(5).toLong, rng.nextInt(40).toLong,
        ts(f"2025-06-${1 + rng.nextInt(20)}%02d 0${rng.nextInt(10)}:00:00"), 1 + rng.nextInt(3))
    }
    val ds = spark.createDataset(actions)(org.apache.spark.sql.Encoders.product[Action])
    val viaAgg = TopKRecentActions.customerHistoryTopK(spark, ds, 7)
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    // Window-based reference
    val expected = actions.groupBy(_.customer_id).map { case (c, as) =>
      val top = as.sortBy(a => (-a.action_time.getTime, a.item_id, a.action_type)).take(7)
      c -> (
        (top.map(_.item_id) ++ Seq.fill(7)(0L)).take(7),
        (top.map(_.action_type) ++ Seq.fill(7)(0)).take(7))
    }
    assert(viaAgg === expected)
  }

  test("sampleNegatives draws deterministic non-shown items per carousel") {
    val (impressions, _, _, _) = basicFixture
    val negs = TrainingPipeline.sampleNegatives(impressions, numNegatives = 4, numItems = 1000L)
      .collect()
    val byCarousel = negs.groupBy(r => r.getAs[String]("ranking_id"))
    assert(byCarousel.keySet === Set("r1", "r2"))
    byCarousel.foreach { case (_, rows) =>
      assert(rows.length === 4) // full quota with a 1000-item universe
      assert(rows.map(_.getAs[Int]("rn")).sorted.toSeq === Seq(1, 2, 3, 4))
      assert(rows.forall(_.getAs[Int]("label") === 0))
    }
    // Negatives never collide with what the carousel showed.
    val r1Items = negs.filter(_.getAs[String]("ranking_id") == "r1")
      .map(_.getAs[Long]("item_id")).toSet
    assert((r1Items intersect Set(100L, 200L)).isEmpty)
    // Exact function of the data: a rerun is bit-identical.
    val again = TrainingPipeline.sampleNegatives(impressions, 4, 1000L).collect()
    assert(negs.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)

    // Duplicate rows for one carousel key UNION their shown sets — an
    // item shown in either row must never surface as a negative.
    val dup = Seq(
      Impression("2025-08-14", "rd", 9L, Seq(ImpressionItem(123L, is_order = false))),
      Impression("2025-08-14", "rd", 9L, Seq(ImpressionItem(456L, is_order = true)))).toDF()
    val dupNegs = TrainingPipeline.sampleNegatives(dup, numNegatives = 200, numItems = 500L)
      .collect().map(_.getAs[Long]("item_id")).toSet
    assert(!dupNegs.contains(123L) && !dupNegs.contains(456L))
    assert(dupNegs.nonEmpty)
  }

  test("normalizeActions drops null keys and tags sources 1/2/3") {
    val clicks = Seq(
      Click("2025-08-13", 1L, 10L, ts("2025-08-13 12:00:00"))).toDF()
    val clicksWithNull = clicks.union(
      Seq(("2025-08-13", null.asInstanceOf[java.lang.Long], 11L, ts("2025-08-13 12:00:00")))
        .toDF("dt", "customer_id", "item_id", "click_time")
        .select(col("dt"), col("customer_id").cast("long"), col("item_id"), col("click_time")))
    val carts = Seq(CartAdd("2025-07-01", 1L, 20L, 1, ts("2025-07-01 09:00:00"))).toDF()
    val orders = Seq(OrderEvent("2024-12-01", 1L, 30L, 1, ts("2024-12-01 17:00:00"))).toDF()
    val out = TrainingPipeline.normalizeActions(clicksWithNull, carts, orders)
      .orderBy("action_type").collect()
    assert(out.length === 3) // null customer dropped
    assert(out.map(_.getAs[Int]("action_type")).toSeq === Seq(1, 2, 3))
    assert(out.map(_.getAs[Long]("item_id")).toSeq === Seq(10L, 20L, 30L))
  }
}
