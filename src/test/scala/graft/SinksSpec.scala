package graft

import java.nio.file.Files

import graft.model.{Action, Schemas}
import graft.sources.Sinks

/** Source/sink format roundtrips: the engine's outputs must survive CSV and
  * JSON-lines roundtrips with explicit schemas (types intact, no inference).
  */
class SinksSpec extends SparkSpec {

  import spark.implicits._

  private def actions = Seq(
    Action(1L, 10L, ts("2025-08-13 12:00:00"), 1),
    Action(2L, 20L, ts("2025-08-13 13:30:45"), 3)).toDF()

  test("csv roundtrip preserves the actions schema and values") {
    val dir = Files.createTempDirectory("graft_csv").toString
    Sinks.writeCsv(actions, dir)
    val back = Sinks.readCsv(spark, dir, Schemas.actions)
    assert(back.schema === Schemas.actions)
    assert(back.orderBy("customer_id").collect().toSeq ===
      actions.orderBy("customer_id").collect().toSeq)
  }

  test("json roundtrip preserves the actions schema and values") {
    val dir = Files.createTempDirectory("graft_json").toString
    Sinks.writeJson(actions, dir)
    val back = Sinks.readJson(spark, dir, Schemas.actions)
    assert(back.schema === Schemas.actions)
    assert(back.orderBy("customer_id").collect().toSeq ===
      actions.orderBy("customer_id").collect().toSeq)
  }

  test("permissive json read quarantines malformed lines and keeps clean rows") {
    val dir = Files.createTempDirectory("graft_json_bad").toFile
    val f = new java.io.File(dir, "part-0.json")
    val w = new java.io.PrintWriter(f)
    w.println("""{"customer_id": 1, "item_id": 10, "action_time": "2025-08-13T12:00:00.000Z", "action_type": 1}""")
    w.println("""{"customer_id": "NOT_A_NUMBER_{", "item_id": 10""") // truncated + bad type
    w.println("""not json at all""")
    w.close()
    val df = Sinks.readJsonPermissive(spark, dir.toString, Schemas.actions)
    val clean = Sinks.clean(df)
    val bad = Sinks.quarantine(df).collect().map(_.getString(0))
    assert(clean.count() === 1L && clean.schema === Schemas.actions)
    assert(clean.collect().head.getAs[Long]("customer_id") === 1L)
    assert(bad.length === 2)
    assert(bad.exists(_.contains("not json at all"))) // raw line preserved for replay
  }

  test("withJsonPermissive releases the split cache after the action") {
    val dir = Files.createTempDirectory("graft_json_bracket").toFile
    val f = new java.io.File(dir, "part-0.json")
    val w = new java.io.PrintWriter(f)
    w.println("""{"customer_id": 2, "item_id": 20, "action_time": "2025-08-13T12:00:00.000Z", "action_type": 1}""")
    w.println("""broken line""")
    w.close()
    val before = spark.sparkContext.getPersistentRDDs.size
    val (nClean, nBad) = Sinks.withJsonPermissive(spark, dir.toString, Schemas.actions) { df =>
      (Sinks.clean(df).count(), Sinks.quarantine(df).count())
    }
    assert(nClean === 1L && nBad === 1L)
    assert(spark.sparkContext.getPersistentRDDs.size === before,
      "the bracket must unpersist the permissive frame's cache")
  }

  test("compaction rewrites a fragmented parquet dir into size-targeted files") {
    val src = Files.createTempDirectory("graft_frag").toString
    val dest = Files.createTempDirectory("graft_compact").toString
    // 50 tiny files.
    spark.range(10000).selectExpr("id", "id * 2 AS v").repartition(50)
      .write.mode("overwrite").parquet(src)
    def parquetFiles(d: String) =
      new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(src) === 50)
    Sinks.compactParquet(spark, src, dest, targetBytes = 64L * 1024)
    assert(parquetFiles(dest) < 10, s"still ${parquetFiles(dest)} files")
    // Content survives.
    assert(spark.read.parquet(dest).agg(org.apache.spark.sql.functions.sum("v"))
      .collect().head.getLong(0) === (0L until 10000L).map(_ * 2).sum)
  }

  test("writeTrainingExamples: dt-partitioned snappy parquet that a dt filter prunes to one day") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_training").toString
    val days = Seq("2025-08-13", "2025-08-14", "2025-08-15")
    val examples = days.flatMap(d => (1L to 4L).map(c => (d, c, Seq(c, c + 1))))
      .toDF("dt", "customer_id", "history")
    Sinks.writeTrainingExamples(examples, dir)
    val parts = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(parts.toSeq === days.map(d => s"dt=$d"))
    parts.foreach { p =>
      val files = new java.io.File(dir, p).listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      assert(files.nonEmpty && files.forall(_.endsWith(".snappy.parquet")),
        s"$p holds ${files.mkString(", ")}")
    }
    val day = spark.read.parquet(dir).filter(col("dt") === "2025-08-14")
    val plan = day.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*dt".r.findFirstIn(plan).isDefined,
      s"the dt filter is not a partition filter:\n$plan")
    // `Dataset.inputFiles` lists the relation's whole file index whether
    // or not the scan prunes, so read the scan's own file count instead.
    assert(day.collect().length === 4)
    val scan = day.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.isDefined, plan)
    val dayFiles = new java.io.File(dir, "dt=2025-08-14").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(scan.get.metrics("numFiles").value === dayFiles)
  }

  test("orc roundtrip preserves schema, values, and filter pushdown") {
    val dir = Files.createTempDirectory("graft_orc").toString
    Sinks.writeOrc(actions, dir)
    val back = Sinks.readOrc(spark, dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      actions.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("customer_id").collect().toSeq ===
      actions.orderBy("customer_id").collect().toSeq)
    val filtered = back.filter(back("customer_id") === 1L)
    assert(filtered.queryExecution.executedPlan.toString.contains("PushedFilters"))
    assert(filtered.count() === 1L)
  }

  test("zValue interleaves bits; z-order buckets bound BOTH axes where an x-sort cannot") {
    import org.apache.spark.sql.functions._
    // Bit-interleave anchors: z(0,0)=0, z(1,0)=1, z(0,1)=2, z(1,1)=3,
    // z(2,0)=4, z(3,5)=Morton(3,5)=39 (x bits at even positions).
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 0L), (3L, 5L))
      .toDF("zx", "zy").withColumn("z", Sinks.zValue("zx", "zy"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("z")).toMap
    assert(pts((0L, 0L)) === 0L && pts((1L, 0L)) === 1L && pts((0L, 1L)) === 2L)
    assert(pts((1L, 1L)) === 3L && pts((2L, 0L)) === 4L)
    assert(pts((3L, 5L)) === 39L) // x=011 even bits, y=101 odd bits -> 100111
    // A 16x16 grid in 4 z-buckets: every bucket's bounding box spans at
    // most half the range on EACH axis (the quadrant property). An
    // x-sorted layout would give y spans of the full 0..15 range.
    val grid = (for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b)).toDF("x", "y")
    val stats = Sinks.zOrderLayoutStats(grid, col("x"), col("y"), numBuckets = 4)
      .collect()
    assert(stats.map(_.getAs[Long]("n")).sum === 256L)
    stats.foreach { r =>
      assert(r.getAs[Long]("max_x") - r.getAs[Long]("min_x") <= 8L,
        s"bucket ${r.getAs[Int]("bucket")} x-span too wide for a z-order layout")
      assert(r.getAs[Long]("max_y") - r.getAs[Long]("min_y") <= 8L,
        s"bucket ${r.getAs[Int]("bucket")} y-span too wide for a z-order layout")
    }
  }

  test("z-order layout REALLY skips data: row-group stats prune a y-slab an x-sort cannot") {
    import org.apache.spark.sql.functions._
    // Not a simulation: write the same table twice — once sorted by the
    // Morton key, once lexicographically by x — as many small parquet
    // FILES (the min/max pruning unit a real lakehouse scan uses), then
    // run an identical 2-D box predicate against both and compare the
    // scans' filesRead metric. The Z-order layout must touch strictly
    // fewer files; file-level min/max stats ARE the bounding boxes the
    // q187/q224 audits report.
    val n = 1 << 14
    val grid = spark.range(n).select(
      (col("id") % 128).as("x"), expr("id div 128").as("y"))
    val zDir = java.nio.file.Files.createTempDirectory("graft_skip_z").toString
    val xDir = java.nio.file.Files.createTempDirectory("graft_skip_x").toString
    grid.withColumn("zv", Sinks.zValue("x", "y"))
      .repartitionByRange(16, col("zv")).sortWithinPartitions("zv")
      .drop("zv").write.mode("overwrite").parquet(zDir)
    grid.repartitionByRange(16, col("x"), col("y")).sortWithinPartitions("x", "y")
      .write.mode("overwrite").parquet(xDir)
    // The y-only slab is the case a lexicographic x-sort fundamentally
    // cannot prune (every file spans all y); the Z layout keeps y-local
    // cells together, so the parquet reader's row-group statistics skip
    // most of the table. Scan-node numOutputRows = rows the reader
    // actually surfaced AFTER row-group skipping — the real IO signal.
    def rowsScanned(dir: String): Long = {
      val df = spark.read.parquet(dir).filter(col("y").between(10, 20))
      // collect() executes the dataset's OWN QueryExecution, so the scan
      // metrics land on the plan inspected below (a .write would run a
      // separate execution and leave these metrics at zero).
      assert(df.collect().length === 11 * 128)
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def scan(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scan(a.executedPlan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scan)
      }
      scan(df.queryExecution.executedPlan)
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    }
    val zRows = rowsScanned(zDir)
    val xRows = rowsScanned(xDir)
    assert(zRows > 0, "the slab predicate must still match data")
    assert(zRows * 2 <= xRows,
      s"z-order must skip at least half the rows an x-sort reads: z=$zRows vs x=$xRows")
  }

  test("hilbert index: matches the reference walk; the 16x16 corner is a continuous bijection") {
    import org.apache.spark.sql.functions._
    // Plain-Scala twin of the unrolled Column walk — catches translation
    // bugs; the bijection/adjacency assertions below catch algorithm bugs.
    def ref(xIn: Long, yIn: Long): Long = {
      val n = 1L << 21
      var x = xIn; var y = yIn; var d = 0L; var s = n / 2
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
          val t = x; x = y; y = t
        }
        s /= 2
      }
      d
    }
    val grid = (for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b)).toDF("x", "y")
    val big = Seq((123456L, 654321L), (2097151L, 0L), (0L, 2097151L), (1048576L, 1L))
      .toDF("x", "y")
    val hv = Sinks.withHilbertValue(grid.unionByName(big), col("x"), col("y"))
      .collect()
      .map(r => (r.getAs[Long]("zx"), r.getAs[Long]("zy"), r.getAs[Long]("hv")))
    hv.foreach { case (x, y, d) => assert(d === ref(x, y), s"hilbert($x, $y)") }
    // The corner [0,16)^2 is the first-visited subsquare of the 21-bit
    // curve: its 256 indices are exactly 0..255 and consecutive indices
    // are Manhattan-adjacent cells — the continuity Z-order lacks.
    val corner = hv.filter(t => t._1 < 16L && t._2 < 16L).sortBy(_._3)
    assert(corner.map(_._3).toSeq === (0L until 256L).toSeq)
    corner.sliding(2).foreach { w =>
      val Seq((x1, y1, _), (x2, y2, _)) = w.toSeq
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"curve jumps from ($x1,$y1) to ($x2,$y2)")
    }
  }

  test("hilbertLayoutStats: equal-count buckets bound both axes on the grid") {
    import org.apache.spark.sql.functions._
    val grid = (for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b)).toDF("x", "y")
    val stats = Sinks.hilbertLayoutStats(grid, col("x"), col("y"), numBuckets = 4)
      .collect()
    assert(stats.map(_.getAs[Long]("n")).sum === 256L)
    assert(stats.map(_.getAs[Long]("n")).toSet === Set(64L))
    stats.foreach { r =>
      assert(r.getAs[Long]("max_x") - r.getAs[Long]("min_x") <= 8L,
        s"bucket ${r.getAs[Int]("bucket")} x-span too wide for a hilbert layout")
      assert(r.getAs[Long]("max_y") - r.getAs[Long]("min_y") <= 8L,
        s"bucket ${r.getAs[Int]("bucket")} y-span too wide for a hilbert layout")
    }
  }
}
