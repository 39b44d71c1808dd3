package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Dedup

/** Task-metrics pin for [[Dedup.dedupClusters]]'s hub-skew posture: the
  * per-round label joins route hot keys (per-key row count ≥
  * `hotKeyThreshold`) through broadcast joins instead of relying on
  * AQE's skew split, which provably cannot fire here (the lookup side
  * reuses upstream partitioning, so it has no fresh shuffle stage — see
  * the operator's scaladoc). A star graph — one hub, every spoke paired
  * with it — is the worst case: all symmetrized edges into the hub
  * share one join key, and after round one every vertex shares one
  * label. With the threshold at test scale no task may read anything
  * close to the hub's degree. The fixture itself is the control: the
  * hub's degree is `Spokes`, so an unsplit join on its key puts all of
  * them in one task (a default-threshold run of this fixture sits below
  * the gate and clusters on the driver, so it can no longer show that).
  */
class DedupSkewSpec extends SparkSpec {

  private val Spokes = 100000L

  /** Star pairs (hub=0, spoke) spread over 16 input partitions. */
  private def starPairs: DataFrame = {
    import spark.implicits._
    spark.range(1L, Spokes + 1L).repartition(16)
      .select($"id".as("doc_b")).withColumn("doc_a", org.apache.spark.sql.functions.lit(0L))
      .select("doc_a", "doc_b")
  }

  private def maxTaskShuffleReadRows(body: => Unit): Long = {
    val maxRows = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) maxRows.getAndUpdate(l => math.max(l, m.shuffleReadMetrics.recordsRead))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // Task-end events post asynchronously; poll until the max is
      // stable rather than a blind sleep.
      var last = -1L
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val cur = maxRows.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      maxRows.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def runClusters(hotKeyThreshold: Long): Unit = {
    val (df, _) = Dedup.dedupClustersWithIters(starPairs, hotKeyThreshold = hotKeyThreshold)
    val out = df.collect()
    assert(out.length === Spokes + 1)
    assert(out.forall(_.getAs[Long]("canonical_id") === 0L))
    assert(out.forall(_.getAs[Long]("cluster_size") === Spokes + 1))
    assert(out.count(_.getAs[Boolean]("is_canonical")) === 1)
  }

  test("star-graph hub: hot/cold split bounds per-task join reads; control shows the pile-up") {
    // Disable auto-broadcast so the cold path is the sort-merge join it
    // would be at real scale (the test-sized label table would otherwise
    // broadcast and hide the skew), and scale AQE's coalesce advisory
    // down to the fixture: at defaults the whole ~3 MB cold join
    // coalesces into ONE partition (< 64 MB advisory), so a single task
    // reads both cold sides regardless of key distribution — a
    // small-data artifact that would mask what the metric measures. The
    // hot path's explicit broadcast() hints are unaffected.
    // 32 shuffle partitions (the suite default of 4 would put a uniform
    // quarter of all keys — 25k rows — in every task, indistinguishable
    // from a pile-up at this fixture size).
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // The skew this spec guards against: every spoke is an edge of the hub.
      val hubDegree = starPairs.filter(col("doc_a") === 0L || col("doc_b") === 0L).count()
      assert(hubDegree === Spokes, "the fixture no longer concentrates the hub; re-examine it")
      val bounded = maxTaskShuffleReadRows(runClusters(hotKeyThreshold = 10000L))
      // Hot/cold split: no task comes near the hub degree.
      assert(bounded < Spokes / 4,
        s"hot/cold split failed to bound the hub join: max task rows=$bounded " +
          s"vs degree=$Spokes")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
