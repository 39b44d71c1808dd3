package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a session: every entrypoint (Bench, Verify,
  * PlanDump, Probe, ScaleProbe) and every spec runs on this conf, so a
  * plan dump or a probe describes the session the bench times. The
  * repo benchmark (`perfbench`) builds the same conf and records it in
  * its provenance.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Whole-stage-codegen compile cache, sized for a SUITE instead of a
      // single query: Spark's default of 100 entries thrashes under
      // q240/q243's ~316 generated classes per run — every min-of-3 run
      // re-compiles (and re-JITs) ALL of them even though the generated
      // source is identical run to run (watch rows: cg_n ≈ 316, jit ≈ 4 s
      // on EVERY run). This is a JVM-level compile-artifact cache, not a
      // data-scale knob: a production driver/executor running a
      // heterogeneous query fleet wants the same headroom at any data
      // size, and the cost is bounded (cached GeneratedClass objects;
      // ~tens of MB at 4096 entries). Static conf — must be set before
      // the first session.
      .config("spark.sql.codegen.cache.maxEntries", 4096L)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warm-up so startup cost isn't attributed to whichever
    // query happens to run first.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }
}
