package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named gate queries to files — the
  * plans/rNN before/after evidence the optimization rounds commit
  * (guide §1: capture the plan shape — Exchange count, join strategy,
  * PushedFilters/ReadSchema — before and after every change).
  *
  * Usage: `runMain graft.PlanDump <outDir> <suffix> q139,q188,...`
  * writes `<outDir>/<query>_<suffix>.txt` for each name (prefix-matched
  * like SPARK_GRAFT_BENCH_ONLY).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <suffix> <names,csv>")
    val Array(outDir, suffix, namesCsv) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val spark = GraftSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // Dump the PRE-landed plan for landed/landedSwept gates (VERDICT r20
    // #4): without this the eager landed() evaluation happens before the
    // dump and the file shows only a LocalTableScan of the answer.
    SparkEntry.dumpInnerPlans = true
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        spark.catalog.clearCache()
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      }
    spark.stop()
  }
}
