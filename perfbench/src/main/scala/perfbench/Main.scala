package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.TrainingPipeline
import graft.sources.Sinks

/** The benchmark's JVM side: builds the session, runs one workload
  * closed-loop from this (single) driver thread, and writes every raw
  * sample, span and counter as JSON for run.py to reduce and check.
  *
  * A pass runs the workload's whole query list once, in an order drawn
  * from the seed. The first pass is the cold pass; warm passes follow until
  * `--seconds` have elapsed and at least `--min-warm` warm passes exist.
  * Each query is timed as two calls: `build` (the call that returns the
  * DataFrame, including any eager loops inside it) and `sink` (the action
  * that consumes it). The sink's DataFrame carries a Spark observation of
  * its row count and an order-independent row hash, so every execution's
  * output is checked without running the query twice.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: String, out: String, data: String, queries: Seq[String],
      days: Seq[String], minWarm: Int)

  /** One query of a pass: `build` returns the DataFrame, `sink` consumes
    * it, `after` runs untimed once the outputs are checked.
    */
  final case class Query(
      name: String, build: () => DataFrame, sink: DataFrame => Unit,
      checks: DataFrame => Seq[Column], after: () => Unit = () => ())

  final case class Exec(
      pass: Int, query: String, span: Int, buildS: Double, sinkS: Double,
      wallS: Double, error: Option[String], observed: Map[String, String])

  /** The reference pipeline's default history depth. */
  val MaxHistory = 1000
  /** Warm passes stop early enough for the JVM to finish well inside 180 s. */
  val CapSeconds = 150.0

  val FlagshipCols = Seq("dt", "ranking_id", "customer_id", "impression_pos",
    "impression_item_id", "label", "actions", "action_types")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Locations only: keep every file the run writes inside its work dir.
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The untimed warm-up graft.Bench runs before its first query.
    spark.range(1000).selectExpr("sum(id)").collect()
    val readyMs = System.currentTimeMillis()

    val tracer = new Tracer(spark, a.trace)
    val queries = if (a.workload == "flagship") flagship(spark, a) else gates(spark, a)
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passSpans = mutable.ArrayBuffer.empty[Int]
    val harnessMs = mutable.ArrayBuffer.empty[Double]

    def runPass(p: Int): Double = {
      val order = new scala.util.Random(a.seed * 1000003L + p).shuffle(queries)
      var harness = 0.0
      val (ps, _) = tracer.span(-1, s"pass:$p", leaf = false) { ps =>
        order.foreach { q =>
          execs += execute(tracer, ps.id, p, q)
          // Untimed between queries, as graft.Bench does: drop intermediates
          // an operator cached, so each query starts without them.
          val t0 = tracer.nowMs()
          q.after()
          spark.catalog.clearCache()
          harness += tracer.nowMs() - t0
        }
      }
      passSpans += ps.id
      harnessMs += harness
      ps.seconds - harness / 1000.0
    }

    val elapsed = () => (System.currentTimeMillis() - jvmStartMs) / 1000.0
    var last = runPass(0)
    val warmStart = System.nanoTime()
    var p = 1
    def warmElapsed = (System.nanoTime() - warmStart) / 1e9
    while ((p <= a.minWarm || warmElapsed < a.seconds) && elapsed() + 1.5 * last < CapSeconds) {
      last = runPass(p)
      p += 1
    }
    tracer.stop()

    val reference =
      if (a.workload == "flagship") flagshipReference(spark, a) else Map.empty[String, Map[String, String]]
    val rssKb = peakRssKb()
    writeJson(a.out, Json.obj(
      "jvm_start_ms" -> Json.num(jvmStartMs.toDouble),
      "ready_ms" -> Json.num(readyMs.toDouble),
      "provenance" -> provenance(spark, a),
      "passes" -> Json.arr(passSpans.zip(harnessMs).map { case (id, h) =>
        Json.obj("span" -> Json.num(id), "harness_ms" -> Json.num(h)) }),
      "execs" -> Json.arr(execs.map(execJson)),
      "spans" -> Json.arr(tracer.spans.map(spanJson)),
      "jobs" -> Json.arr(tracer.jobs.map(j => Json.obj(
        "job" -> Json.num(j.jobId), "span" -> Json.num(j.span),
        "start_ms" -> Json.num(j.startMs.toDouble), "end_ms" -> Json.num(j.endMs.toDouble)))),
      "reference" -> Json.obj(reference.toSeq.map { case (k, m) =>
        k -> Json.obj(m.toSeq.map { case (f, v) => f -> Json.str(v) }: _*) }: _*),
      "peak_rss_kb" -> Json.num(rssKb.toDouble)))
    spark.stop()
  }

  /** Runs one query as a `query:<name>` span holding `build` and `sink`. */
  def execute(tracer: Tracer, passSpan: Int, pass: Int, q: Query): Exec = {
    var build, sink = Double.NaN
    var observed = Map.empty[String, String]
    val (qs, error) = tracer.span(passSpan, s"query:${q.name}", leaf = false) { qs =>
      try {
        val (bs, df) = tracer.span(qs.id, "build", leaf = true)(_ => q.build())
        build = bs.seconds
        val ob = new Observation()
        val checked = df.observe(ob, count(lit(1)).as("rows"), q.checks(df): _*)
        val (ss, _) = tracer.span(qs.id, "sink", leaf = true)(_ => q.sink(checked))
        sink = ss.seconds
        observed = ob.get.map { case (k, v) => k -> String.valueOf(v) }
        None
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] ${q.name} failed in pass $pass: $e")
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
      }
    }
    Exec(pass, q.name, qs.id, build, sink, qs.seconds, error, observed)
  }

  /** Order-independent hash of every output row: the sum of each row's
    * xxhash64 over all columns, widened so the sum cannot overflow.
    */
  def rowHash(df: DataFrame): Column =
    sum(xxhash64(df.columns.toIndexedSeq.map(c => df.col(s"`$c`")): _*).cast("decimal(20,0)")).as("hash")

  def gates(spark: SparkSession, a: Args): Seq[Query] = a.queries.map { name =>
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown gate query $name"))
    Query(name, () => fn(spark, a.data),
      _.write.format("noop").mode("overwrite").save(),
      df => Seq(rowHash(df)))
  }

  /** The paper's job as its users run it: one daily run per impression day,
    * reading the four inputs and writing dt-partitioned snappy parquet.
    */
  def flagship(spark: SparkSession, a: Args): Seq[Query] = a.days.map { day =>
    val out = s"${a.work}/flagship-out/$day"
    Query(day,
      () => {
        def read(t: String) = spark.read.parquet(s"${a.data}/$t.parquet")
        TrainingPipeline.produceTrainingExamples(
          read("impressions").filter(col("dt") === day),
          read("clicks"), read("add_to_carts"), read("orders"),
          maxHistory = MaxHistory).select(FlagshipCols.map(col): _*)
      },
      df => Sinks.writeTrainingExamples(df, out),
      df => Seq(rowHash(df),
        min(size(col("actions"))).as("min_actions"), max(size(col("actions"))).as("max_actions"),
        min(size(col("action_types"))).as("min_types"), max(size(col("action_types"))).as("max_types")),
      () => deleteTree(new File(out)))
  }

  /** Untimed, after the passes: the precomputed-history path's per-day row
    * count and hash on the same inputs, which every daily run must match.
    */
  def flagshipReference(spark: SparkSession, a: Args): Map[String, Map[String, String]] = {
    def read(t: String) = spark.read.parquet(s"${a.data}/$t.parquet")
    val imps = read("impressions")
    val actions = TrainingPipeline.normalizeActions(read("clicks"), read("add_to_carts"), read("orders"))
    val hist = TrainingPipeline.customerHistoryBeforeDt(actions, imps.select("dt").distinct(), MaxHistory)
    val ref = TrainingPipeline.produceTrainingExamplesPrecomputed(imps, hist, MaxHistory)
      .select(FlagshipCols.map(col): _*)
    ref.groupBy("dt").agg(count(lit(1)).as("rows"), rowHash(ref)).collect().map { r =>
      r.getString(0) -> Map("rows" -> r.get(1).toString, "hash" -> r.get(2).toString)
    }.toMap
  }

  def provenance(spark: SparkSession, a: Args): String = {
    val conf = spark.conf
    val rt = ManagementFactory.getRuntimeMXBean
    Json.obj(
      "workload" -> Json.str(a.workload),
      "seed" -> Json.num(a.seed.toDouble),
      "cores" -> Json.num(a.cores),
      "master" -> Json.str(spark.sparkContext.master),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "jvm_args" -> Json.arr(rt.getInputArguments.asScala.filter(_.startsWith("-X")).map(Json.str)),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "data_dir" -> Json.str(a.data),
      "conf" -> Json.obj(Seq(
        "spark.sql.shuffle.partitions", "spark.sql.codegen.cache.maxEntries",
        "spark.sql.adaptive.enabled", "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong").map(k =>
          k -> Json.str(scala.util.Try(conf.get(k)).getOrElse(""))): _*))
  }

  def execJson(e: Exec): String = Json.obj(
    "pass" -> Json.num(e.pass), "query" -> Json.str(e.query), "span" -> Json.num(e.span),
    "build_s" -> Json.num(e.buildS), "sink_s" -> Json.num(e.sinkS), "wall_s" -> Json.num(e.wallS),
    "error" -> e.error.map(Json.str).getOrElse("null"),
    "observed" -> Json.obj(e.observed.toSeq.map { case (k, v) => k -> Json.str(v) }: _*))

  def spanJson(s: Span): String = Json.obj(
    "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
    "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
    "counters" -> Json.obj(s.counters.toSeq.map { case (k, v) => k -> Json.num(v.toDouble) }: _*))

  /** Process peak resident memory (VmHWM), in kB. */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def writeJson(path: String, body: String): Unit =
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def list(k: String) = m.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    Args(
      workload = m("workload"), seed = m("seed").toLong, seconds = m("seconds").toDouble,
      trace = m.getOrElse("trace", "0") == "1", cores = m("cores").toInt,
      work = m("work"), out = m("out"), data = m("data"), queries = list("queries"),
      days = list("days"), minWarm = m("min-warm").toInt)
  }
}

/** Just enough JSON writing for the results file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(i: Int): String = i.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
