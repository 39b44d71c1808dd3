package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** The events loader must tolerate every `ts` encoding the upstream
  * generator has ever shipped (TESTDATA.md): TIMESTAMP(NANOS) — surfaced
  * as a nanosecond long under `nanosAsLong` — plus `timestamp[us]` with
  * and without UTC adjustment (TIMESTAMP / TIMESTAMP_NTZ). Round 11 lost
  * 25/109 queries because the loader was bound to a single vintage; this
  * spec writes all three encodings and asserts they load to identical
  * rows, so the loader can never again silently bind to one.
  */
class TablesSpec extends SparkSpec {

  private val micros: Seq[Long] = Seq(
    1735689600000000L, // 2025-01-01T00:00:00Z
    1735776000123456L, // 2025-01-02T00:00:00.123456Z
    1740000000999999L)

  private def writeAndLoad(encode: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Seq[Row] = {
    val dir = Files.createTempDirectory("tables-spec").toFile
    dir.deleteOnExit()
    import spark.implicits._
    val base = micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "us")
      .withColumn("user_id", col("event_id") * 7L)
      .withColumn("event_type", lit("click"))
      .withColumn("value", col("event_id").cast("double"))
      .withColumn("props", lit("{}"))
    encode(base).select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.events(spark, dir.toString)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .orderBy("event_id").collect().toSeq
  }

  test("events loader normalizes ns-long, timestamp_ntz, and timestamp encodings identically") {
    // TIMESTAMP(NANOS) parquet surfaces as LongType under nanosAsLong; a
    // plain long column exercises the identical dispatch path.
    val fromNanosLong = writeAndLoad(_.withColumn("ts", col("us") * lit(1000L)))
    val fromNtz       = writeAndLoad(_.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType)))
    val fromTz        = writeAndLoad(_.withColumn("ts", timestamp_micros(col("us"))))

    val expected = micros.zipWithIndex.map { case (us, i) => Row(i.toLong, us) }
    assert(fromNanosLong === expected)
    assert(fromNtz === expected)
    assert(fromTz === expected)
  }

  test("events loader raises on a long ts outside the plausible ns-epoch range (int64-micros vintage guard)") {
    // A future vintage shipping plain int64 MICROseconds (no nanos
    // annotation) surfaces as LongType just like TIMESTAMP(NANOS) — but
    // dividing by 1000 would silently collapse timestamps 1000x toward
    // epoch while DuckDB surfaces a BIGINT. The loader's range guard must
    // turn that silent asymmetry into a loud error.
    val ex = intercept[Exception] {
      writeAndLoad(_.withColumn("ts", col("us"))) // raw micros as long: ~1e15, far below ns range
    }
    assert(ex.getMessage.contains("ns-epoch range") ||
      Option(ex.getCause).exists(_.getMessage.contains("ns-epoch range")))
  }

  test("events loader rejects an unsupported ts type with a clear error") {
    val ex = intercept[IllegalArgumentException] {
      writeAndLoad(_.withColumn("ts", col("us").cast(StringType)))
    }
    assert(ex.getMessage.contains("events.ts"))
  }

  test("events loader passes non-ts columns through untouched (symmetric-drift contract)") {
    // The oracle reads the same file, so a generator drift in the other
    // columns (e.g. int64 → int32 ids) must degrade BOTH engines
    // symmetrically: the loader passes them through as-read — a
    // loader-side cast would break the symmetry and schema-mismatch the
    // oracle on exactly the drift it meant to absorb.
    val rows = writeAndLoad(df => df
      .withColumn("ts", timestamp_micros(col("us")))
      .withColumn("user_id", col("user_id").cast("int"))
      .withColumn("value", col("value").cast("float")))
    assert(rows === micros.zipWithIndex.map { case (us, i) => Row(i.toLong, us) })
    val dir = Files.createTempDirectory("tables-spec-int").toFile
    dir.deleteOnExit()
    import spark.implicits._
    micros.zipWithIndex.map { case (us, i) => (i, us) }.toDF("event_id", "us")
      .select(
        col("event_id").cast("int").as("event_id"),
        timestamp_micros(col("us")).as("ts"),
        col("event_id").cast("int").as("user_id"),
        lit("click").as("event_type"),
        col("event_id").cast("float").as("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val loaded = Tables.events(spark, dir.toString)
    assert(loaded.schema("event_id").dataType === org.apache.spark.sql.types.IntegerType)
    assert(loaded.schema("user_id").dataType === org.apache.spark.sql.types.IntegerType)
    assert(loaded.schema("value").dataType === org.apache.spark.sql.types.FloatType)
  }

  test("events loader requires nanosAsLong instead of setting it on the session") {
    // The loader must not write session-global conf: a session without
    // the conf gets a clear error naming it, and stays unset afterwards.
    val dir = Files.createTempDirectory("tables-spec-conf").toFile
    dir.deleteOnExit()
    spark.range(1).select(col("id").as("event_id"), lit(1735689600000000000L).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val cloned = spark.newSession()
    cloned.conf.unset(Tables.NanosAsLong)
    val ex = intercept[IllegalArgumentException](Tables.events(cloned, dir.toString))
    assert(ex.getMessage.contains(Tables.NanosAsLong))
    assert(cloned.conf.get(Tables.NanosAsLong) === "false")
    assert(spark.conf.get(Tables.NanosAsLong) === "true")
  }

  test("events loader reads the driver-generated sf0.001 table (current vintage)") {
    // Deliberately vintage-agnostic: only the POST-dispatch contract is
    // asserted (Tables.events always yields TimestampType ts), never which
    // raw encoding the current files happen to use — a regeneration to any
    // supported encoding keeps this green.
    val dir = "/root/testdata/sf0.001"
    if (new java.io.File(s"$dir/events.parquet").exists()) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType === TimestampType)
      assert(ev.limit(5).count() > 0)
    }
  }
}
