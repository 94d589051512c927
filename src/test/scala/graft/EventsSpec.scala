package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Events

class EventsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  test("rangeJoin pairs points with covering intervals, once each, boundaries inclusive") {
    val intervals = Seq(
      // user 1: a 4-minute window, which spans MANY 60 s buckets
      (100L, 1L, ts(10), ts(14)),
      // user 1: a second window overlapping the first
      (101L, 1L, ts(13), ts(15)),
      // user 2: same time range, different key
      (102L, 2L, ts(10), ts(14))
    ).toDF("interval_id", "user_id", "w_start", "w_end")
    val points = Seq(
      (1L, 1L, ts(10)),  // exactly on w_start -> inclusive
      (2L, 1L, ts(12)),  // inside interval 100 only
      (3L, 1L, ts(14)),  // on 100's end AND inside 101
      (4L, 1L, ts(16)),  // outside both
      (5L, 2L, ts(12))   // user 2: matches only 102
    ).toDF("point_id", "user_id", "p_ts")
    val got = Events.rangeJoin(intervals, points, "user_id",
        "w_start", "w_end", "p_ts", bucketSeconds = 60)
      .select("interval_id", "point_id").as[(Long, Long)].collect()
    // multi-bucket intervals must NOT duplicate pairs
    assert(got.length == got.distinct.length, "duplicate pairs from bucket explode")
    assert(got.toSet == Set((100L, 1L), (100L, 2L), (100L, 3L),
      (101L, 3L), (102L, 5L)))
    // a much coarser bucket gives the identical answer (bucketSeconds
    // is an execution knob, not a semantics knob)
    val coarse = Events.rangeJoin(intervals, points, "user_id",
        "w_start", "w_end", "p_ts", bucketSeconds = 3600)
      .select("interval_id", "point_id").as[(Long, Long)].collect()
    assert(coarse.toSet == got.toSet && coarse.length == got.length)
  }

  test("saltedJoin equals the plain join; hot-key rows spread across salts") {
    val fact = ((1 to 100).map(i => (i.toLong, 1L)) ++          // hot key
      (101 to 112).map(i => (i.toLong, (2 + i % 4).toLong)))    // cold keys
      .toDF("event_id", "user_id")
    val dim = fact.groupBy(col("user_id")).agg(count(lit(1)).as("u_events"))
    val salted = Events.saltedJoin(fact, dim, "user_id", "event_id",
        salts = 4, hotThreshold = 50)
      .select("event_id", "user_id", "u_events")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val plain = fact.join(dim, "user_id")
      .select("event_id", "user_id", "u_events")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(salted == plain && salted.size == 112)
    // the hot key's 100 rows really do land in more than one salt
    // bucket (same md5 formula the operator applies)
    val salts = (1 to 100).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(15), 16) % 4
    }.distinct
    assert(salts.size > 1)
  }

  test("volumeAnomaly z-scores daily counts; zero-variance types never flag") {
    def day(d: Int, i: Int) = Timestamp.valueOf(f"2024-02-$d%02d 0$i:00:00")
    // type a: 10,10,10,10,60 events/day -> mean 20, var 400, z(60)=2.0
    val a = (1 to 5).flatMap(d => (0 until (if (d == 5) 60 else 10))
      .map(i => (day(d, i % 10), "a")))
    // type b: constant 5/day -> var 0 -> NULL z, never anomalous
    val b = (1 to 3).flatMap(d => (0 until 5).map(i => (day(d, i), "b")))
    val df = (a ++ b).toDF("ts", "event_type")
    val out = Events.volumeAnomaly(df, "ts", "event_type")
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r).toMap
    val spike = out(("a", "2024-02-05"))
    assert(spike.getLong(2) == 60L && math.abs(spike.getDouble(3) - 2.0) < 1e-12)
    assert(spike.getBoolean(4))
    val quiet = out(("a", "2024-02-01"))
    assert(math.abs(quiet.getDouble(3) - (-0.5)) < 1e-12 && !quiet.getBoolean(4))
    val const = out(("b", "2024-02-02"))
    assert(const.isNullAt(3) && !const.getBoolean(4))
  }

  test("kmvDistinct: exact under k, close and partitioning-independent over k") {
    val rows = (1 to 200).map(u => ("big", u.toLong)) ++   // 200 distinct
      (1 to 5).flatMap(u => Seq(("small", u.toLong), ("small", u.toLong))) // 5 distinct, dup'd
    val df = rows.toDF("grp", "uid")
    val out = Events.kmvDistinct(df, Seq("grp"), "uid", k = 16, seed = "t")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // under k: the sketch holds every distinct hash -> exact
    assert(out("small") == ((5L, 5.0)))
    // over k: estimator lands near the truth (KMV stderr ~ 1/sqrt(k-1)
    // ≈ 26% at k=16; the seeded draw is deterministic, so the bound is
    // a fixed fact of this fixture, not a flaky tolerance)
    val (nSketch, est) = out("big")
    assert(nSketch == 16L)
    assert(est > 120.0 && est < 300.0, s"estimate $est")
    // the sketch is order/partitioning-insensitive: same result on a
    // reshuffled input
    val out2 = Events.kmvDistinct(df.repartition(7), Seq("grp"), "uid", 16, "t")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out2 == out)
  }

  test("asofJoin attaches the most recent prior right event per user") {
    val events = Seq(
      // user 1: view(10) < click(20) < view(11) < click(21)
      (10L, ts(1), 1L, "view", 1.0),
      (20L, ts(2), 1L, "click", 2.0),
      (11L, ts(3), 1L, "view", 3.0),
      (21L, ts(4), 1L, "click", 4.0),
      // user 2: click with no prior view
      (30L, ts(1), 2L, "click", 5.0),
      // an unrelated type that must not participate on either side
      (40L, ts(1), 1L, "purchase", 9.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.asofJoin(events, "ts", "user_id", "event_type",
        "event_id", "value", "click", "view")
      .select("event_id", "prior_id", "gap_us")
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(20L) == ((Some(10L), Some(60L * 1000000L))))
    assert(out(21L) == ((Some(11L), Some(60L * 1000000L))))
    assert(out(30L) == ((None, None)))
    assert(out.size == 3) // purchases never appear as left rows
  }

  test("operators read identically from both testdata ts generations") {
    // the round-8 driver regeneration changed events.ts from
    // TIMESTAMP(NANOS) to timestamp[us] and silently killed the
    // family for two rounds; this pins a REAL operator (asofJoin, the
    // (ts, id)-order-sensitive one) over Tables.events on both
    // on-disk shapes, not just the reader round-trip the canary pins
    val base = spark.range(40).select(
      col("id").as("event_id"),
      (lit(1700000000000000000L) + (col("id") % 13) * 3600000000000L).as("ts_ns"),
      (col("id") % 3).as("user_id"),
      when(col("id") % 2 === 0, "click").otherwise("view").as("event_type"),
      col("id").cast("double").as("value"), lit("{}").as("props"))
    val tmp = tempDir("graft-gen").toString
    base.withColumnRenamed("ts_ns", "ts")
      .write.mode("overwrite").parquet(s"$tmp/old/events.parquet")
    base.select(col("event_id"),
        timestamp_micros(expr("ts_ns div 1000")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$tmp/new/events.parquet")
    def run(dir: String) = Events.asofJoin(Tables.events(spark, dir),
        "ts", "user_id", "event_type", "event_id", "value", "click", "view")
      .collect().map(_.toString).sorted.toSeq
    assert(run(s"$tmp/old") == run(s"$tmp/new") && run(s"$tmp/old").nonEmpty)
  }

  test("asofJoin equals the brute-force range join on real events") {
    val ev = Tables.events(spark, sf0001)
    val out = Events.asofJoin(ev, "ts", "user_id", "event_type",
        "event_id", "value", "click", "view")
      .select("event_id", "prior_id")
      .as[(Long, Option[Long])].collect().toMap
    // brute force: every (click, earlier view) pair, keep the latest
    // view — the quadratic plan asofJoin avoids. The (ts, id) lex
    // condition mirrors asofJoin's window sort exactly: a view at the
    // SAME ts counts only when its id sorts before the click's
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("ts").as("cts"), col("user_id").as("cu"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("vid"), col("ts").as("vts"), col("user_id").as("vu"))
    val brute = clicks.join(views,
        col("cu") === col("vu") && (col("vts") < col("cts") ||
          (col("vts") === col("cts") && col("vid") < col("cid"))), "left")
      .groupBy(col("cid"))
      .agg(max_by(col("vid"), struct(col("vts"), col("vid"))).as("prior_id"))
      .as[(Long, Option[Long])].collect().toMap
    assert(out == brute)
    assert(out.valuesIterator.count(_.isDefined) > 0)
  }

  test("funnel requires steps strictly in order; counts roll up the curve") {
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, t(1), "view"), (1L, t(2), "click"), (1L, t(3), "purchase"),
      // user 2: click BEFORE the first view -> doesn't count; no later click
      (2L, t(1), "click"), (2L, t(2), "view"), (2L, t(3), "purchase"),
      // user 3: view only
      (3L, t(1), "view"),
      // user 4: never views -> absent from the per-user frame
      (4L, t(1), "click"), (4L, t(2), "purchase"),
      // user 5: click at the SAME ts as the view -> strictly-after excludes
      (5L, t(1), "view"), (5L, t(1), "click")
    ).toDF("user_id", "ts", "event_type")
    val per = Events.funnel(ev, "ts", "user_id", "event_type",
        Seq("view", "click", "purchase"))
      .select("user_id", "steps_reached").as[(Long, Long)].collect().toMap
    assert(per == Map(1L -> 3L, 2L -> 1L, 3L -> 1L, 5L -> 1L))
    val counts = Events.funnelCounts(ev, "ts", "user_id", "event_type",
        Seq("view", "click", "purchase"))
      .select("step_idx", "step", "n_users")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(counts.toSeq == Seq((1L, "view", 4L), (2L, "click", 1L), (3L, "purchase", 1L)))
  }

  test("retention cohorts users by first active day and counts offsets once") {
    import java.sql.Timestamp
    def d(day: Int, h: Int = 9) = Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val ev = Seq(
      // user 1: first seen day 1, active days 1, 2, 5 (two events day 2
      // must count once)
      (1L, d(1)), (1L, d(2)), (1L, d(2, 15)), (1L, d(5)),
      // user 2: first seen day 2, active days 2, 5
      (2L, d(2)), (2L, d(5)),
      // user 3: day 1 only
      (3L, d(1))
    ).toDF("user_id", "ts")
    val got = Events.retention(ev, "ts", "user_id")
      .select(col("cohort").cast("string"), col("day_offset"), col("n_users"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("2024-01-01", 0L, 2L), // users 1, 3
      ("2024-01-01", 1L, 1L), // user 1 on day 2 (deduped within the day)
      ("2024-01-01", 4L, 1L), // user 1 on day 5
      ("2024-01-02", 0L, 1L), // user 2
      ("2024-01-02", 3L, 1L)  // user 2 on day 5
    ))
  }

  test("asofJoin plans one user-partitioned window, no range join") {
    val ev = Tables.events(spark, sf0001)
    val plan = Events.asofJoin(ev, "ts", "user_id", "event_type",
      "event_id", "value", "click", "view").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("rollingDistinct counts trailing-window distinct values for observed days only") {
    def ts(d: String) = Timestamp.valueOf(s"$d 12:00:00")
    val ev = Seq(
      (ts("2024-01-01"), 1L), (ts("2024-01-01"), 2L),
      (ts("2024-01-02"), 2L), (ts("2024-01-02"), 3L),
      (ts("2024-01-03"), 4L),
      (ts("2024-01-05"), 9L)
    ).toDF("ts", "user_id")
    val got = Events.rollingDistinct(ev, "ts", "user_id",
        windowDays = 2, k = 64, seed = "t")
      .select(col("day").cast("string"), col("n_sketch"), col("est_distinct"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // only observed days appear (no 2024-01-04 row)
    assert(got.keySet ==
      Set("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-05"))
    assert(got("2024-01-01") == ((2L, 2.0)))            // {1,2}
    assert(got("2024-01-02") == ((3L, 3.0)))            // {1,2,3}
    assert(got("2024-01-03") == ((3L, 3.0)))            // {2,3,4}
    assert(got("2024-01-05") == ((1L, 1.0)))            // {9} — gap excluded
    // the overlap union is set-semantics exact under any partitioning
    val again = Events.rollingDistinct(ev.repartition(7), "ts", "user_id",
        windowDays = 2, k = 64, seed = "t")
      .select(col("day").cast("string"), col("n_sketch"), col("est_distinct"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(again == got)
  }

  test("forecast: Holt recurrence matches a local mirror, fills calendar gaps") {
    import java.sql.Timestamp
    // type "a": days 1,2,4 (day 3 is a gap -> 0); type "b": steady 2/day
    def ts(day: Int, k: Int) = Timestamp.valueOf(f"2024-01-$day%02d 0$k:00:00")
    val rows =
      (1 to 3).map(k => ("a", ts(1, k))) ++
      (1 to 2).map(k => ("a", ts(2, k))) ++
      (1 to 4).map(k => ("a", ts(4, k))) ++
      (1 to 2).flatMap(d => (1 to 2).map(k => ("b", ts(d, k))))
    val df = rows.toDF("event_type", "ts")
    val got = Events.forecast(df, "ts", "event_type", horizon = 3)
      .as[(String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    def holt(xs: Seq[Double]): (Double, Double) = {
      var l = xs.head; var b = 0.0
      xs.tail.foreach { x =>
        val ln = 0.5 * x + 0.5 * (l + b)
        b = 0.25 * (ln - l) + 0.75 * b
        l = ln
      }
      (l, b)
    }
    val (la, ba) = holt(Seq(3.0, 2.0, 0.0, 4.0)) // gap day counted as 0
    val (lb, bb) = holt(Seq(2.0, 2.0))
    (1 to 3).foreach { h =>
      assert(got(("a", h.toLong)) == la + h * ba, s"a h=$h")
      assert(got(("b", h.toLong)) == lb + h * bb, s"b h=$h")
    }
    val again = Events.forecast(df.repartition(5), "ts", "event_type", 3)
      .as[(String, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(again == got)
  }
}
