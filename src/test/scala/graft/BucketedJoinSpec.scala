package graft

import org.apache.spark.sql.functions._

import graft.sources.Sinks

/** Pins the bucketing scale pattern: two tables bucketed on the join key
  * join WITHOUT any Exchange in the physical plan — at 100 TB this removes
  * the dominant shuffle of the daily impressions×actions join.
  */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed-by-key tables join with zero exchanges") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1") // force non-broadcast
    try {
      import spark.implicits._
      val actions = (1 to 1000)
        .map(i => (i.toLong % 50, i.toLong, i * 10L))
        .toDF("customer_id", "item_id", "t")
      val impressions = (1 to 200)
        .map(i => (i.toLong % 50, i.toLong))
        .toDF("customer_id", "impression_id")

      Sinks.writeBucketed(actions, "acts_b", "customer_id", 8)
      Sinks.writeBucketed(impressions, "imps_b", "customer_id", 8)

      val joined = spark.table("imps_b").join(spark.table("acts_b"), "customer_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() === 200L * 20L) // 4 customers-worth per impression

      // Contrast: the same join over plain (unbucketed) frames DOES shuffle.
      val plainPlan = impressions.join(actions, "customer_id")
        .queryExecution.executedPlan.toString
      assert(plainPlan.contains("Exchange"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS acts_b")
      spark.sql("DROP TABLE IF EXISTS imps_b")
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
