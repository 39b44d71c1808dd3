package graft

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.functions.{col, hash, lit, pmod}

import graft.model._
import graft.operators.TrainingPipeline

/** Differential testing: random (seeded) datasets run through the Spark
  * pipeline AND through a deliberately naive in-memory Scala model of the
  * documented semantics; outputs must agree exactly. Catches whole classes
  * of join/window/collect mistakes that example-based tests miss.
  */
class PipelineDifferentialSpec extends SparkSpec {

  import spark.implicits._

  private val MaxHist = 5

  /** Naive reference model: per impressed item, all strictly-prior actions
    * of the customer ordered (time desc, item, type), truncated + padded.
    */
  private def model(
      imps: Seq[Impression],
      actions: Seq[Action],
      k: Int = MaxHist): Seq[(String, String, Long, Int, Long, Int, Seq[Long], Seq[Int])] =
    imps.flatMap { imp =>
      val cutoff = Timestamp.valueOf(imp.dt + " 00:00:00")
      imp.impressions.zipWithIndex.map { case (item, pos) =>
        val hist = actions
          .filter(a => a.customer_id == imp.customer_id && a.action_time.before(cutoff))
          .sortBy(a => (-a.action_time.getTime, a.item_id, a.action_type))
          .take(k)
        val acts = (hist.map(_.item_id) ++ Seq.fill(k)(0L)).take(k)
        val tys = (hist.map(_.action_type) ++ Seq.fill(k)(0)).take(k)
        (imp.dt, imp.ranking_id, imp.customer_id, pos, item.item_id,
          if (item.is_order) 1 else 0, acts, tys)
      }
    }

  /** A pipeline output row in the model's tuple shape (-1 for null pos/item). */
  private def asTuple(r: org.apache.spark.sql.Row) = (
    r.getAs[String]("dt"), r.getAs[String]("ranking_id"),
    r.getAs[Long]("customer_id"),
    Option(r.getAs[Integer]("impression_pos")).map(_.toInt).getOrElse(-1),
    Option(r.getAs[java.lang.Long]("impression_item_id")).map(_.toLong).getOrElse(-1L),
    r.getAs[Int]("label"),
    r.getAs[scala.collection.Seq[Long]]("actions").toSeq,
    r.getAs[scala.collection.Seq[Int]]("action_types").toSeq)

  private def normalized(clicks: Seq[Click], carts: Seq[CartAdd], orders: Seq[OrderEvent]): Seq[Action] =
    clicks.map(c => Action(c.customer_id, c.item_id, c.click_time, 1)) ++
      carts.map(c => Action(c.customer_id, c.config_id, c.occurred_at, 2)) ++
      orders.map(o => Action(o.customer_id, o.config_id, o.occurred_at, 3))

  /** Multiset equality of two DataFrames: `exceptAll` both ways is empty. */
  private def assertSameRows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
      clue: String): Unit = {
    assert(a.exceptAll(b).count() === 0, clue)
    assert(b.exceptAll(a).count() === 0, clue)
  }

  /** One hot customer with far more than 3×k prior actions bunched on three
    * timestamps (so the item/type tie-break decides every cut, exact
    * duplicates included) plus a same-day action the cutoff must drop; a
    * duplicated carousel row; a light customer; a history-less one.
    */
  private def hotFixture(k: Int): (Seq[Impression], Seq[Click], Seq[CartAdd], Seq[OrderEvent]) = {
    def at(day: Int, hour: Int) = Timestamp.valueOf(f"2025-06-$day%02d $hour%02d:00:00")
    val clicks = (0 until 12 * k).map(i => Click("2025-06-01", 1L, (i * 7 % 23).toLong, at(1, 8 + i % 3))) ++
      Seq(Click("2025-06-05", 1L, 99L, at(5, 1)), Click("2025-06-03", 2L, 40L, at(3, 9)))
    val carts = (0 until 4 * k).map(i => CartAdd("2025-06-01", 1L, (i * 5 % 23).toLong, 1, at(1, 8 + i % 2)))
    val orders = Seq(OrderEvent("2025-06-01", 1L, 3L, 1, at(1, 8)), OrderEvent("2025-06-01", 1L, 3L, 1, at(1, 9)))
    val hot = Impression("2025-06-05", "h1", 1L, Seq(ImpressionItem(1L, true), ImpressionItem(2L, false)))
    val imps = Seq(hot, hot,
      Impression("2025-06-02", "h2", 1L, Seq(ImpressionItem(9L, false))),
      Impression("2025-06-05", "l1", 2L, Seq(ImpressionItem(5L, false))),
      Impression("2025-06-05", "n1", 3L, Seq(ImpressionItem(6L, false))))
    (imps, clicks, carts, orders)
  }

  /** The direct path against the naive model and the precomputed path, as
    * multisets (row counts included).
    */
  private def checkFold(k: Int, saltBuckets: Option[Int]): Unit = {
    val (imps, clicks, carts, orders) = hotFixture(k)
    val direct = TrainingPipeline.produceTrainingExamples(
      imps.toDF(), clicks.toDF(), carts.toDF(), orders.toDF(), maxHistory = k, saltBuckets = saltBuckets)
    val clue = s"k=$k salt=$saltBuckets"
    assert(direct.collect().map(asTuple).toSeq.sortBy(_.toString) ===
      model(imps, normalized(clicks, carts, orders), k).sortBy(_.toString), clue)
    val hist = TrainingPipeline.customerHistoryBeforeDt(
      TrainingPipeline.normalizeActions(clicks.toDF(), carts.toDF(), orders.toDF()),
      imps.toDF().select("dt").distinct(), k)
    assertSameRows(direct, TrainingPipeline.produceTrainingExamplesPrecomputed(imps.toDF(), hist, k), clue)
  }

  private def randomDataset(rng: Random): (Seq[Impression], Seq[Click], Seq[CartAdd], Seq[OrderEvent]) = {
    def ts(day: Int, sec: Int) = new Timestamp(
      Timestamp.valueOf(f"2025-06-${day}%02d 00:00:00").getTime + sec * 1000L)
    val custs = 1L to (1 + rng.nextInt(4))
    val imps = (0 until (1 + rng.nextInt(6))).map { i =>
      Impression(
        f"2025-06-${5 + rng.nextInt(8)}%02d",
        s"r${rng.nextInt(3)}_$i",
        custs(rng.nextInt(custs.length)),
        Seq.fill(rng.nextInt(4))(
          ImpressionItem(rng.nextInt(30).toLong, rng.nextBoolean())))
    }
    val clicks = Seq.fill(rng.nextInt(25))(
      Click("2025-06-01", custs(rng.nextInt(custs.length)),
        rng.nextInt(30).toLong, ts(1 + rng.nextInt(10), rng.nextInt(86400))))
    val carts = Seq.fill(rng.nextInt(15))(
      CartAdd("2025-06-01", custs(rng.nextInt(custs.length)),
        rng.nextInt(30).toLong, 1, ts(1 + rng.nextInt(10), rng.nextInt(86400))))
    val orders = Seq.fill(rng.nextInt(15))(
      OrderEvent("2025-06-01", custs(rng.nextInt(custs.length)),
        rng.nextInt(30).toLong, 1, ts(1 + rng.nextInt(10), rng.nextInt(86400))))
    (imps, clicks, carts, orders)
  }

  test("history precompute equals a naive model, with and without lookback horizon") {
    val rng = new Random(7)
    for (round <- 1 to 5) {
      val (imps, clicks, carts, orders) = randomDataset(rng)
      val normActions = normalized(clicks, carts, orders)
      val dts = imps.map(_.dt).distinct

      def naive(horizonDays: Option[Int]): Set[(Long, String, Seq[Long], Seq[Int])] =
        (for {
          dt <- dts
          cutoff = Timestamp.valueOf(dt + " 00:00:00")
          floor = horizonDays.map(h =>
            Timestamp.valueOf(java.time.LocalDate.parse(dt).minusDays(h).atStartOfDay))
          cust <- normActions.map(_.customer_id).distinct
          hist = normActions
            .filter(a => a.customer_id == cust && a.action_time.before(cutoff) &&
              floor.forall(f => !a.action_time.before(f)))
            .sortBy(a => (-a.action_time.getTime, a.item_id, a.action_type))
            .take(MaxHist)
          if hist.nonEmpty
        } yield (
          cust, dt,
          (hist.map(_.item_id) ++ Seq.fill(MaxHist)(0L)).take(MaxHist),
          (hist.map(_.action_type) ++ Seq.fill(MaxHist)(0)).take(MaxHist))).toSet

      for (horizon <- Seq(None, Some(3), Some(100))) {
        val got = TrainingPipeline.customerHistoryBeforeDt(
          TrainingPipeline.normalizeActions(clicks.toDF(), carts.toDF(), orders.toDF()),
          dts.toDF("dt"), MaxHist, horizon)
          .collect()
          .map(r => (
            r.getAs[Long]("customer_id"), r.getAs[String]("dt"),
            r.getAs[scala.collection.Seq[Long]]("actions").toSeq,
            r.getAs[scala.collection.Seq[Int]]("action_types").toSeq))
          .toSet
        assert(got === naive(horizon), s"O3 differential mismatch round $round horizon $horizon")
      }
    }
  }

  test("precomputed-history flagship path equals the direct path on random datasets") {
    val rng = new Random(99)
    for (round <- 1 to 5) {
      val (imps, clicks, carts, orders) = randomDataset(rng)
      val actions = TrainingPipeline.normalizeActions(clicks.toDF(), carts.toDF(), orders.toDF())
      val direct = TrainingPipeline.produceTrainingExamples(
        imps.toDF(), clicks.toDF(), carts.toDF(), orders.toDF(), maxHistory = MaxHist)
      val hist = TrainingPipeline.customerHistoryBeforeDt(
        actions, imps.toDF().select("dt").distinct(), MaxHist)
      val precomputed = TrainingPipeline.produceTrainingExamplesPrecomputed(
        imps.toDF(), hist, MaxHist)
      assertSameRows(direct, precomputed, s"path divergence in round $round")
    }
  }

  test("pipeline output equals the naive model on random datasets") {
    val rng = new Random(42)
    for (round <- 1 to 5) {
      val (imps, clicks, carts, orders) = randomDataset(rng)
      val spkRows = TrainingPipeline
        .produceTrainingExamples(
          imps.toDF(), clicks.toDF(), carts.toDF(), orders.toDF(), maxHistory = MaxHist)
        .collect()
        .map(asTuple)
        .toSet

      // Model + the documented defensive row for empty carousels
      // (posexplode_outer emits (null pos, null item, label 0)).
      val normActions = normalized(clicks, carts, orders)
      val expected = model(imps.filter(_.impressions.nonEmpty), normActions)
        .map(t => (t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8)) ++
        imps.filter(_.impressions.isEmpty).map { imp =>
          val cutoff = Timestamp.valueOf(imp.dt + " 00:00:00")
          val hist = normActions
            .filter(a => a.customer_id == imp.customer_id && a.action_time.before(cutoff))
            .sortBy(a => (-a.action_time.getTime, a.item_id, a.action_type))
            .take(MaxHist)
          val acts = (hist.map(_.item_id) ++ Seq.fill(MaxHist)(0L)).take(MaxHist)
          val tys = (hist.map(_.action_type) ++ Seq.fill(MaxHist)(0)).take(MaxHist)
          (imp.dt, imp.ranking_id, imp.customer_id, -1, -1L, 0, acts, tys)
        }

      assert(spkRows === expected.toSet, s"differential mismatch in round $round")
    }
  }

  test("fold edges: a hot customer's top-K is cut by the item/type tie-break") {
    val (imps, clicks, carts, orders) = hotFixture(5)
    val plan = TrainingPipeline.produceTrainingExamples(
      imps.toDF(), clicks.toDF(), carts.toDF(), orders.toDF(), maxHistory = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected the broadcast join:\n$plan")
    for (k <- Seq(1, 5, 1000)) checkFold(k, None)
  }

  test("fold edges: salted partial top-Ks truncate per salt and merge per row") {
    val k = 3
    val (imps, clicks, carts, orders) = hotFixture(k)
    val actions = TrainingPipeline.normalizeActions(clicks.toDF(), carts.toDF(), orders.toDF())
    // Every salt bucket of the hot customer holds more than k actions, so
    // each (row, salt) partial is truncated and the merge truncates again.
    val shares = actions.filter(col("customer_id") === 1L)
      .groupBy(pmod(hash(col("item_id"), col("action_time")), lit(4))).count()
      .collect().map(_.getLong(1))
    assert(shares.length === 4 && shares.min > k, shares.mkString(","))
    checkFold(k, Some(4))
    assertSameRows(
      TrainingPipeline.produceTrainingExamplesFromActions(imps.toDF(), actions, k,
        saltBuckets = Some(4), saltOnlyCustomers = Some(Seq(1L))),
      TrainingPipeline.produceTrainingExamplesFromActions(imps.toDF(), actions, k),
      "hot-only salting")
  }

  test("fold edges hold under a sort-merge join (broadcast disabled)") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val (imps, clicks, carts, orders) = hotFixture(5)
      val plan = TrainingPipeline.produceTrainingExamples(
        imps.toDF(), clicks.toDF(), carts.toDF(), orders.toDF(), maxHistory = 5)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
        s"expected a sort-merge join:\n$plan")
      checkFold(5, None)
      checkFold(3, Some(4))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
