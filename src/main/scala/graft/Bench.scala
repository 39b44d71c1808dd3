package graft

/** Per-run decomposition for the sweep's WATCH set (VERDICT r19 #2):
  * q139 has run ~5× slower under the driver's sweep than on the same
  * host committed-tree for three rounds, and the forced code-cache
  * starvation reproduction no longer finds the sensitivity — so the
  * gate now carries its own attribution. For each watched query, every
  * timed run records
  *   - Spark stage metrics (SparkListener): executor run/CPU time, JVM
  *     GC time, shuffle fetch-wait, task count, and the top stages by
  *     run time — separates "the operator did more work" from "the
  *     environment stalled it";
  *   - JVM counters (before/after deltas): JIT total compilation time
  *     (code-cache churn shows up as re-JIT), whole-stage-codegen
  *     compilation count + cumulative ms
  *     (`CodegenMetrics.METRIC_COMPILATION_TIME`), process GC time, and
  *     the CodeHeap pools' used bytes (starvation = pools pinned at
  *     capacity).
  * The decomposition is printed to stderr per run, embedded compactly
  * in the final summary JSON (the line that survives the harness'
  * stdout tail → `BENCH_r{N}.json`), and dumped in full next to
  * `bench_results.json` as `bench_watch.json`.
  */
private object BenchWatch {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

  case class StageRow(
      id: Int, name: String, runMs: Long, cpuMs: Long, gcMs: Long,
      fetchWaitMs: Long, tasks: Int)

  class StageAgg extends SparkListener {
    val stages = new scala.collection.mutable.ArrayBuffer[StageRow]
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.synchronized {
        stages += StageRow(
          i.stageId,
          i.name.takeWhile(_ != '\n').take(72),
          m.executorRunTime,
          m.executorCpuTime / 1000000L,
          m.jvmGCTime,
          m.shuffleReadMetrics.fetchWaitTime,
          i.numTasks)
      }
    }
    /** Stage-completed events post async; wait until the count is
      * stable (bounded — a missing event degrades the row, never hangs
      * the sweep).
      */
    def settle(): Seq[StageRow] = {
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 2 && waited < 2000) {
        Thread.sleep(100); waited += 100
        val cur = stages.synchronized(stages.size)
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      stages.synchronized(stages.toSeq)
    }
  }

  case class JvmSnap(
      jitMs: Long, gcMs: Long, codegenN: Long, codegenMs: Long,
      codeHeapUsed: Long, codeHeapMax: Long)

  def jvmSnap(): JvmSnap = {
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    val cgHist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    // Histogram carries count exactly; cumulative ms is approximated as
    // count × snapshot mean (the reservoir is corpus-sized at our
    // compile counts, so the approximation is tight).
    val cgN = cgHist.getCount
    val cgMs = (cgHist.getSnapshot.getMean * cgN).toLong
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
    val used = pools.map(_.getUsage.getUsed).sum
    val max = pools.map(p => math.max(0L, p.getUsage.getMax)).sum
    JvmSnap(jit, gc, cgN, cgMs, used, max)
  }

  case class RunDecomp(
      wallSec: Double, stageRunMs: Long, stageCpuMs: Long, stageGcMs: Long,
      fetchWaitMs: Long, jitMs: Long, procGcMs: Long, codegenN: Long,
      codegenMs: Long, codeHeapUsedMb: Double, codeHeapPct: Double,
      topStages: Seq[StageRow])

  def decompose(rows: Seq[StageRow], before: JvmSnap, after: JvmSnap,
                wallSec: Double): RunDecomp =
    RunDecomp(
      wallSec,
      rows.map(_.runMs).sum,
      rows.map(_.cpuMs).sum,
      rows.map(_.gcMs).sum,
      rows.map(_.fetchWaitMs).sum,
      after.jitMs - before.jitMs,
      after.gcMs - before.gcMs,
      after.codegenN - before.codegenN,
      after.codegenMs - before.codegenMs,
      after.codeHeapUsed / 1e6,
      if (after.codeHeapMax <= 0) 0.0
      else 100.0 * after.codeHeapUsed / after.codeHeapMax,
      rows.sortBy(-_.runMs).take(3))

  def runJson(d: RunDecomp): String = {
    val tops = d.topStages.map(s =>
      s"""{"stage":${s.id},"run_ms":${s.runMs},"cpu_ms":${s.cpuMs},"gc_ms":${s.gcMs},"tasks":${s.tasks},"name":"${s.name.replace("\"", "'")}"}""")
      .mkString("[", ",", "]")
    f"""{"wall_sec":${d.wallSec}%.3f,"stage_run_ms":${d.stageRunMs},"stage_cpu_ms":${d.stageCpuMs},"stage_gc_ms":${d.stageGcMs},"fetch_wait_ms":${d.fetchWaitMs},"jit_ms":${d.jitMs},"proc_gc_ms":${d.procGcMs},"codegen_compiles":${d.codegenN},"codegen_ms":${d.codegenMs},"codeheap_used_mb":${d.codeHeapUsedMb}%.1f,"codeheap_pct":${d.codeHeapPct}%.1f,"top_stages":$tops}"""
  }

  /** The compact per-query summary embedded in the tail-surviving
    * summary line: per-run wall + the decomposition fields as arrays.
    */
  def compactJson(runs: Seq[RunDecomp]): String = {
    def arr(f: RunDecomp => String): String = runs.map(f).mkString("[", ",", "]")
    s"""{"wall_sec":${arr(d => f"${d.wallSec}%.2f")},""" +
      s""""run_ms":${arr(_.stageRunMs.toString)},""" +
      s""""cpu_ms":${arr(_.stageCpuMs.toString)},""" +
      s""""gc_ms":${arr(_.stageGcMs.toString)},""" +
      s""""fetch_ms":${arr(_.fetchWaitMs.toString)},""" +
      s""""jit_ms":${arr(_.jitMs.toString)},""" +
      s""""cg_n":${arr(_.codegenN.toString)},""" +
      s""""cg_ms":${arr(_.codegenMs.toString)},""" +
      f""""codeheap_pct":${runs.lastOption.map(_.codeHeapPct).getOrElse(0.0)}%.1f}"""
  }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession(cpus)
    // Deeper warm-up, still untimed and uniform: drive one events-path
    // and one TPC-H-join-path query through the noop sink so parquet
    // footer reading, whole-stage codegen compilation, broadcast and
    // window machinery are all JIT-compiled before the FIRST timed
    // query. Without this the earliest sweep positions pay the
    // machinery bill — the r13 front-of-sweep artifact (driver q01
    // 1.33 s vs 0.54 s isolated, plan unchanged) that ISO_r14 pins.
    Seq("q01_normalize_actions", "q07_revenue_by_nation").foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    }
    // Runs per query, env-tunable (SPARK_GRAFT_BENCH_RUNS, default 3).
    // BOTH the min-of-N vector (the stable, round-comparable headline)
    // and the first-run single-pass vector (what a cold sweep would see)
    // are recorded, so a per-query swing can be attributed to noise vs
    // code from the sweep itself.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // Targeted local iteration: SPARK_GRAFT_BENCH_ONLY=q187,q216 times just
    // those queries (full sweep when unset — the driver never sets it).
    // Deliberately PREFIX-matched ("q22" selects every q22x query) for
    // quick family runs — unlike SPARK_GRAFT_PROBE_ONLY's exact names,
    // which gate which probe ROWS get emitted and must not over-select.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) =>
        names.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    // The WATCH set (VERDICT r19 #2): queries whose driver-sweep times
    // have diverged from same-host committed runs get a per-run
    // stage/codegen/GC/JIT decomposition recorded from INSIDE the sweep
    // (the environment that counts). Prefix-matched like BENCH_ONLY.
    val watch = sys.env.getOrElse("SPARK_GRAFT_BENCH_WATCH", "q139,q142,q188,q240")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val watchRuns =
      scala.collection.mutable.LinkedHashMap.empty[String, Seq[BenchWatch.RunDecomp]]
    val samples = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // noop sink: forces full evaluation of every output column (count()
      // would let Catalyst prune the computed columns away) without
      // attributing file-writing cost to the query. Cache clear + GC fence
      // first: operators persist intermediates that would otherwise pile
      // up across the alphabetical query sequence and squeeze execution
      // memory for later queries — each query block starts cold-cache
      // (runs 2+ still reuse within the block, which min() captures).
      // Min of N runs: single samples on a shared host swing ±25%
      // from GC/contention, and the first run amortizes per-query codegen
      // compilation.
      spark.catalog.clearCache()
      System.gc()
      val watched = watch.exists(name.startsWith)
      val decomps = scala.collection.mutable.ArrayBuffer.empty[BenchWatch.RunDecomp]
      val times = (1 to runs).map { r =>
        val agg = if (watched) Some(new BenchWatch.StageAgg) else None
        agg.foreach(spark.sparkContext.addSparkListener)
        val before = if (watched) Some(BenchWatch.jvmSnap()) else None
        val t0 = System.nanoTime()
        val wall = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            // A failed run must be visible and must not win the min as a
            // near-zero "time" — poison the sample instead.
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            Double.MaxValue
        }
        agg.foreach { a =>
          val rows = a.settle() // bounded async-event drain (≤ 2 s)
          spark.sparkContext.removeSparkListener(a)
          val d = BenchWatch.decompose(rows, before.get, BenchWatch.jvmSnap(),
            if (wall == Double.MaxValue) -1.0 else wall)
          decomps += d
          System.err.println(s"""[bench-watch] {"query":"$name","run":$r,${BenchWatch.runJson(d).drop(1)}""")
        }
        wall
      }
      if (watched) watchRuns(name) = decomps.toSeq
      name -> times
    }
    val results = samples.map { case (n, ts) => n -> ts.min }.toMap
    val firstRun = samples.map { case (n, ts) => n -> ts.head }.toMap
    def vec(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val totalFirst = if (firstRun.nonEmpty) firstRun.values.sum else 0.0
    // Queries with at least one failed run, listed in both summary lines
    // (a poisoned min alone only shows up as an absurd total).
    val failed = samples.collect { case (n, ts) if ts.contains(Double.MaxValue) => n }
      .sorted.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val watchJson = watchRuns.map { case (n, ds) =>
      s"\"$n\":${BenchWatch.compactJson(ds)}" }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${vec(results)},""" +
        s""""runs_per_query":$runs,"single_pass_total":$totalFirst,""" +
        s""""queries_single_pass":${vec(firstRun)},"watch":$watchJson,"sf":"$sfDir",""" +
        s""""failed":$failed}"""
    println(full)
    // Full per-run watch decomposition (every run, all fields, top
    // stages) next to bench_results.json — the judge-readable artifact.
    // Like the results vector below, ALSO written cpu-suffixed so the
    // driver's low-core scaling leg cannot clobber the 32-core detail.
    def persist(path: String, payload: String): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(path),
        payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch {
        case e: Exception =>
          System.err.println(s"[bench] could not persist $path: ${e.getMessage}")
      }
    val detail = watchRuns.map { case (n, ds) =>
      s"\"$n\":${ds.map(BenchWatch.runJson).mkString("[", ",", "]")}"
    }.mkString("{\"watch\":{", ",", "}}")
    val watchPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_WATCH_OUT", "bench_watch.json")
    persist(watchPath, detail)
    // The harness keeps only a bounded tail of stdout, which truncates the
    // full line above at ~80 queries — so ALSO persist the complete
    // per-query vector to a file (judge item: rounds must diff complete
    // vectors, not 2,000-char tails). Path overridable for local runs.
    // Round-over-round hygiene (VERDICT r20 #3/#7): the driver's low-core
    // scaling leg runs the same binary with a smaller $SPARK_GRAFT_CPUS and
    // used to OVERWRITE the 32-core per-query vector — so every vector is
    // ALSO written to a cpu-suffixed sibling, keeping both legs' complete
    // vectors diffable after a driver run. The unsuffixed default (and the
    // env override) stay exactly as before for driver compatibility.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json")
    persist(outPath, full)
    persist(cpuSuffixed(outPath, cpus), full)
    persist(cpuSuffixed(watchPath, cpus), detail)
    // The harness that collects this output keeps only a bounded tail of
    // stdout; with ~80 queries the full line above outgrows that window and
    // its leading {"metric":... gets truncated away. Emit a compact,
    // self-contained summary line LAST so a complete parseable JSON object
    // always survives inside the tail (slowest queries inline for triage).
    val slowest = results.toSeq.sortBy(-_._2).take(5)
      .map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"queries":$slowest,"watch":$watchJson,"sf":"$sfDir","failed":$failed}""")
    spark.stop()
  }

  /** `path` with `_c<cpus>` spliced before the file name's extension
    * (`bench_results.json` → `bench_results_c4.json`), or appended when
    * the last path segment has none — a dot in a directory name is not
    * an extension (`out.d/results` → `out.d/results_c4`).
    */
  private[graft] def cpuSuffixed(path: String, cpus: Int): String = {
    val dot = path.lastIndexOf('.')
    if (dot > path.lastIndexOf('/') + 1)
      s"${path.substring(0, dot)}_c$cpus${path.substring(dot)}"
    else s"${path}_c$cpus"
  }
}
