package graft

/** Mechanical enforcement of BASELINE.md's sweep-JVM cache convention:
  * every gate entry must hand the driver a frame that depends on NO
  * session-lifetime cache, releasing every persist its operators took
  * before returning (the `with…` bracket + `landed` pattern,
  * [[graft.operators.Dedup.withPrefixFilterPairs]]).
  *
  * VERDICT r17 found q139/q44 leaking; the r18 fix covered the symptom
  * list and VERDICT r18 caught q142 leaking the identical way (driver
  * 4.08 s vs 1.18 s committed). This spec closes the CLASS: it runs
  * every `SparkEntry.queries` entry end to end at sf0.001 and asserts
  * the session's CacheManager is empty afterwards, so no future gate
  * can return a lazy frame over an unreleased persist without failing
  * `sbt test`.
  */
class CacheLifecycleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val bridge = org.apache.spark.sql.graft.bridge

  test("every gate entry leaves the CacheManager empty (no session-lifetime cache leaks)") {
    val leaks = scala.collection.mutable.ListBuffer.empty[String]
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      spark.catalog.clearCache()
      try {
        // noop sink forces full evaluation of every output column — the
        // same action the bench sweep takes, so a cache that would leak
        // into the sweep JVM leaks here too.
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        if (bridge.anyPlanCached(spark)) leaks += name
      } catch {
        case e: Throwable =>
          failures += s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(200)}"
      }
    }
    spark.catalog.clearCache()
    assert(failures.isEmpty, s"gate entries failed at sf0.001:\n  ${failures.mkString("\n  ")}")
    assert(leaks.isEmpty,
      s"${leaks.size} gate entries left persisted plans in the CacheManager " +
        s"(bracket + land them — BASELINE.md sweep-JVM convention):\n  ${leaks.mkString("\n  ")}")
  }

  test("dedupClusters below its gate returns a frame that reads no cache") {
    import spark.implicits._
    spark.catalog.clearCache()
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b").persist()
    val (out, rounds) = graft.operators.Dedup.dedupClustersWithIters(pairs)
    assert(rounds === 0, "three pairs sit below the edge-count gate")
    pairs.unpersist()
    assert(!bridge.anyPlanCached(spark), "the driver path left a persisted plan behind")
    assert(out.count() === 5L)
  }
}
