package graft

import graft.core.Tables
import org.apache.spark.sql.types.TimestampType

/** Schema-drift canary: the round-8 driver testdata regeneration changed
  * `events.ts` from TIMESTAMP(NANOS) to native timestamp[us] and silently
  * killed 14 queries for two rounds, because nothing exercised the real
  * parquet readers against the real files (operator specs use synthetic
  * frames; Verify/Bench failed soft). This spec opens every driver table
  * through `Tables.*` at every on-disk SF and runs ANALYSIS (plan only, no
  * execution) of every declared query, so the next regeneration fails the
  * suite in seconds instead of rounds.
  */
class TestdataCanarySpec extends SparkSpec {

  private val sfDirs =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d).isDirectory)

  test("every driver table opens through Tables.* at every SF") {
    for (dir <- sfDirs; name <- Tables.names) {
      val df = Tables.table(spark, dir, name)
      assert(df.schema.nonEmpty, s"$dir/$name has empty schema")
    }
  }

  test("events reader adapts to the on-disk ts dtype and yields TimestampType") {
    for (dir <- sfDirs) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType,
        s"$dir events.ts read as ${ev.schema("ts").dataType}, want TimestampType")
      // one cheap execution at the smallest SF proves the value path too
      if (dir.endsWith("sf0.001"))
        assert(ev.limit(1).count() == 1, s"$dir events unreadable at runtime")
    }
  }

  test("events reader yields identical values for both testdata generations") {
    import org.apache.spark.sql.functions._
    // write the same tiny events table in both on-disk shapes the
    // driver has shipped: ts as INT64 epoch-nanos (the nanosAsLong view
    // of the old TIMESTAMP(NANOS) files) and ts as timestamp_ntz (the
    // current native timestamp[us] files)
    val base = spark.range(5).select(
      col("id").as("event_id"),
      (lit(1700000000000000000L) + col("id") * 1000000000L).as("ts_ns"),
      (col("id") % 2).as("user_id"),
      concat(lit("e"), col("id")).as("event_type"),
      col("id").cast("double").as("value"),
      lit("{}").as("props"))
    val tmp = tempDir("graft-canary").toString
    base.withColumnRenamed("ts_ns", "ts")
      .write.mode("overwrite").parquet(s"$tmp/old/events.parquet")
    base.select(col("event_id"),
        timestamp_micros(expr("ts_ns div 1000")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$tmp/new/events.parquet")
    val a = Tables.events(spark, s"$tmp/old").orderBy("event_id").collect()
    val b = Tables.events(spark, s"$tmp/new").orderBy("event_id").collect()
    assert(a.toSeq == b.toSeq,
      "events reader diverges between nanos-as-long and timestamp_ntz inputs")
  }

  test("Verify fails loudly: a broken query lands in errors.json, good ones still dump") {
    import org.apache.spark.sql.functions._
    val out = tempDir("graft-verify").toString
    val queries = Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame](
      "ok_query" -> ((s, _) => s.range(3).select(col("id"))),
      "broken_query" -> ((_, _) => throw new IllegalStateException("boom")))
    val errors = Verify.run(spark, queries, Map("ok_query" -> "SELECT 1"),
      "/root/testdata/sf0.001", out)
    assert(errors.keySet == Set("broken_query"))
    assert(errors("broken_query").contains("boom"))
    val errJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/errors.json"))
    assert(errJson.contains("broken_query") && errJson.contains("boom"))
    // the good query's parquet landed; the broken one left no dir
    assert(new java.io.File(s"$out/ok_query").exists())
    assert(!new java.io.File(s"$out/broken_query").exists())
  }

  test("every declared query analyzes against current testdata") {
    // analysis only: resolving the logical plan catches schema drift
    // (missing columns, dtype mismatches) without paying execution
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try { fn(spark, sf0001).queryExecution.analyzed; None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(200)}") }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries fail analysis on current testdata:\n${failures.mkString("\n")}")
  }
}
