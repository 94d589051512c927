package graft
package registry

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Eval, Events}

/** Event-stream analytics plus the TPC-H style joins and the table profile. */
object EventQueries {

  val queries: Seq[Query] = Seq(
    Query("events_funnel", (s, dir) => {
      Events.funnel(Tables.events(s, dir), "ts", "user_id", "event_type",
          Seq("view", "click", "purchase"))
        .select(col("user_id"), col("ts_1"), col("ts_2"), col("ts_3"),
          col("steps_reached"))
    },
      // one min-agg per step chained on the user key, step i+1
      // strictly after the user's earliest step i — same formulation
      // as Events.funnel
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |t1 AS (SELECT user_id, min(ts) AS ts_1 FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(e.ts) AS ts_2 FROM ev e JOIN t1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > t1.ts_1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(e.ts) AS ts_3 FROM ev e JOIN t2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > t2.ts_2 GROUP BY 1)
        |SELECT t1.user_id, ts_1, ts_2, ts_3,
        |  CAST(1 + CASE WHEN ts_2 IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN ts_3 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS steps_reached
        |FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)""".stripMargin),

    Query("events_quantiles", (s, dir) => {
      // per-type value quantiles from a deterministic 256-row sample —
      // the bounded-shuffle replacement for exact percentiles, and
      // unlike t-digest/GK exactly engine-reproducible
      Events.quantiles(Tables.events(s, dir), Seq("event_type"), "value",
          "event_id", k = 256, qs = Seq(0.5, 0.9, 0.99), seed = "eq0")
        .select(col("event_type"), col("quantile"),
          round(col("value"), 5).as("value"))
    },
      // sample membership = the k smallest md5(seed, id) hashes per
      // type (double-cast hash rank, the sample_topk rule); quantile =
      // sorted sample value at floor(q*(n-1)) — identical index
      // arithmetic, identical IEEE doubles
      """WITH h AS (SELECT event_type, event_id, value,
        |    CAST(CAST('0x' || substr(md5('eq0_' || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) AS hv
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY hv, event_id) AS rn FROM h),
        |s AS (SELECT event_type, list(value ORDER BY value) AS vs FROM r WHERE rn <= 256 GROUP BY event_type),
        |q AS (SELECT event_type, unnest([0.5, 0.9, 0.99]) AS quantile, vs FROM s)
        |SELECT event_type, quantile,
        |  round(vs[CAST(floor(quantile * (len(vs) - 1)) AS INT) + 1], 5) AS value
        |FROM q""".stripMargin),

    Query("events_pmi", (s, dir) => {
      // event-type co-occurrence per user: integer counts, PMI/lift
      // derived in one fixed expression
      Events.typeCooccurrence(Tables.events(s, dir), "user_id", "event_type")
    },
      // integer counts everywhere; lift/pmi divide them in the same
      // fixed expression order as the Spark side
      """WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t FROM events),
        |nu AS (SELECT count(DISTINCT u) AS n_users FROM ut),
        |pt AS (SELECT t, count(*) AS n FROM ut GROUP BY t),
        |pr AS (SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_both
        |       FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t GROUP BY 1, 2)
        |SELECT type_a, type_b, pa.n AS n_a, pb.n AS n_b, n_both, n_users,
        |  round((CAST(n_both AS DOUBLE) * n_users) / (CAST(pa.n AS DOUBLE) * pb.n), 5) AS lift,
        |  round(ln((CAST(n_both AS DOUBLE) * n_users) / (CAST(pa.n AS DOUBLE) * pb.n)), 5) AS pmi
        |FROM pr JOIN pt pa ON pr.type_a = pa.t JOIN pt pb ON pr.type_b = pb.t, nu""".stripMargin),

    Query("events_paths", (s, dir) => {
      // top event-type transitions (from -> to) over each user's
      // (ts, id)-ordered stream
      Events.topPaths(Tables.events(s, dir), "user_id", "ts", "event_id",
        "event_type", k = 15)
    },
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events),
        |t AS (SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |      FROM e)
        |SELECT from_type, to_type, count(*) AS n FROM t WHERE to_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY n DESC, from_type, to_type LIMIT 15""".stripMargin),

    Query("table_profile", (s, dir) => {
      // per-column ANALYZE: row/null counts + KMV distinct estimate,
      // one aggregate pass over the scan
      Eval.tableProfile(Tables.documents(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
    }, tableProfileSql),

    Query("events_retention", (s, dir) => {
      Events.retention(Tables.events(s, dir), "ts", "user_id")
    },
      """WITH a AS (SELECT DISTINCT user_id,
        |             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
        |c AS (SELECT user_id, min(d) AS cohort FROM a GROUP BY 1)
        |SELECT c.cohort, CAST(a.d - c.cohort AS BIGINT) AS day_offset,
        |       count(*) AS n_users
        |FROM a JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin),

    Query("events_salted_join", (s, dir) => {
      // fact x per-user dim with hot keys salted 8 ways; the result is
      // row-identical to the plain join (which is what the oracle
      // states) — the machinery under test is the skew spreading
      val ev = Tables.events(s, dir)
      val dim = ev.groupBy(col("user_id")).agg(count(lit(1)).as("u_events"))
      Events.saltedJoin(ev.select(col("event_id"), col("user_id"), col("event_type")),
          dim, "user_id", "event_id", salts = 8, hotThreshold = 50)
        .select(col("event_id"), col("user_id"), col("event_type"), col("u_events"))
    },
      // the salting is pure execution strategy — the oracle is the
      // PLAIN join, so any row lost or duplicated by the salt
      // machinery (a replica mismatch, a wrong mod) hash-mismatches
      """WITH d AS (SELECT user_id, count(*) AS u_events FROM events GROUP BY 1)
        |SELECT e.event_id, e.user_id, e.event_type, d.u_events
        |FROM events e JOIN d USING (user_id)""".stripMargin),

    Query("events_anomaly", (s, dir) => {
      Events.volumeAnomaly(Tables.events(s, dir), "ts", "event_type")
        .select(col("event_type"), col("day"), col("n_events"),
          round(col("zscore"), 5).as("zscore"), col("is_anomaly"))
    },
      // moment arithmetic mirrors the Spark side op-for-op: integer
      // sums, then CAST(..)/n divisions in the same order — z-scores
      // come out bit-identical, rounded 5dp on both sides
      """WITH d AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |             count(*) AS n_events
        |           FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*) AS n, sum(n_events) AS s,
        |        sum(n_events * n_events) AS s2
        |      FROM d GROUP BY 1),
        |j AS (SELECT d.event_type, d.day, d.n_events,
        |        CAST(s.s AS DOUBLE) / s.n AS mean,
        |        (CAST(s.s2 AS DOUBLE) - CAST(s.s AS DOUBLE) * CAST(s.s AS DOUBLE) / s.n) / s.n AS var
        |      FROM d JOIN s USING (event_type))
        |SELECT event_type, day, n_events,
        |  round(CASE WHEN var > 0
        |    THEN (CAST(n_events AS DOUBLE) - mean) / sqrt(var) END, 5) AS zscore,
        |  coalesce(CASE WHEN var > 0
        |    THEN abs((CAST(n_events AS DOUBLE) - mean) / sqrt(var)) >= 2.0 END,
        |    FALSE) AS is_anomaly
        |FROM j""".stripMargin),

    Query("events_forecast", (s, dir) => {
      // next-week volume line per event type: Holt level+trend over
      // the gap-filled daily series, h = 1..7
      Events.forecast(Tables.events(s, dir), "ts", "event_type", horizon = 7)
        .select(col("event_type"), col("h"),
          round(col("forecast"), 5).as("forecast"))
    },
      // the same sequential recurrence unrolled as a RECURSIVE CTE
      // with SCALAR l/b columns — NOT a list_reduce struct fold:
      // DuckDB 1.0 mis-evaluates coupled struct fields in reduce
      // lambdas (minimal repro: (acc,x) -> {l: acc.l+x.l, b: acc.b +
      // 0.5*(acc.l+x.l)} over [1,2,3] returns b=7.5, correct 5.0).
      // l' is written out twice verbatim (as on the Spark side) so
      // both engines compute the identical doubles; 0.5/0.25/0.75
      // are exact binary fractions, literals e-noted so DuckDB parses
      // DOUBLE not DECIMAL
      """WITH RECURSIVE d AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |             count(*) AS n FROM events GROUP BY 1, 2),
        |rng AS (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1),
        |cal AS (SELECT event_type, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM rng),
        |f AS (SELECT c.event_type, c.day, CAST(coalesce(d.n, 0) AS DOUBLE) AS x
        |      FROM cal c LEFT JOIN d USING (event_type, day)),
        |s AS (SELECT event_type, list(x ORDER BY day) AS vs FROM f GROUP BY 1),
        |rec AS (
        |  SELECT event_type, vs, 1 AS i, vs[1] AS l, 0.0e0 AS b FROM s
        |  UNION ALL
        |  SELECT event_type, vs, i + 1,
        |    0.5e0 * vs[i + 1] + 0.5e0 * (l + b),
        |    0.25e0 * ((0.5e0 * vs[i + 1] + 0.5e0 * (l + b)) - l) + 0.75e0 * b
        |  FROM rec WHERE i < len(vs))
        |SELECT event_type, h.h AS h, round(r.l + h.h * r.b, 5) AS forecast
        |FROM rec r, (SELECT unnest(range(1, 8)) AS h) h
        |WHERE r.i = len(r.vs)""".stripMargin),

    Query("events_kmv", (s, dir) => {
      // daily distinct users per event type via the KMV sketch — the
      // bounded-shuffle replacement for count(DISTINCT …); exact for
      // groups under k=64 distinct, estimated (reproducibly) above
      val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
      Events.kmvDistinct(ev, Seq("event_type", "day"), "user_id", 64, "kmv0")
        .select(col("event_type"), col("day"), col("n_sketch"),
          round(col("est_distinct"), 4).as("est_distinct"))
    },
      // the sketch is exactly reproducible (k smallest distinct 60-bit
      // md5 hashes), so the oracle rebuilds it with DISTINCT +
      // row_number and states the SAME (k-1)/frac(h_k) estimate —
      // identical IEEE ops: long→double cast, /2^60, one division
      """WITH h AS (SELECT DISTINCT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST('0x' || substr(md5('kmv0_' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type, day ORDER BY hv) AS rn
        |      FROM h)
        |SELECT event_type, day, count(*) AS n_sketch,
        |  round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |    ELSE 63.0 / (CAST(max(CASE WHEN rn = 64 THEN hv END) AS DOUBLE)
        |                 / 1152921504606846976.0) END, 4) AS est_distinct
        |FROM r WHERE rn <= 64 GROUP BY event_type, day""".stripMargin),

    Query("events_rolling_distinct", (s, dir) => {
      // rolling 7-day distinct users per observed day (the WAU line):
      // each event fans out to the 7 target days it covers, one KMV
      // agg absorbs the overlap — never w overlapping count-distincts
      Events.rollingDistinct(Tables.events(s, dir), "ts", "user_id",
          windowDays = 7, k = 64, seed = "roll0")
        .select(col("day"), col("n_sketch"),
          round(col("est_distinct"), 4).as("est_distinct"))
    },
      // the events_kmv sketch rebuild, but per TARGET day over the
      // trailing window: day t covers event days [t-6, t]; same
      // 60-bit hash, same (k-1)/frac(h_k) arithmetic
      """WITH days AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |h AS (SELECT DISTINCT d.day,
        |    CAST('0x' || substr(md5('roll0_' || CAST(e.user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
        |  FROM events e JOIN days d
        |    ON CAST(CAST(e.ts AS TIMESTAMP) AS DATE) BETWEEN d.day - 6 AND d.day),
        |r AS (SELECT *, row_number() OVER (PARTITION BY day ORDER BY hv) AS rn FROM h)
        |SELECT day, count(*) AS n_sketch,
        |  round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |    ELSE 63.0 / (CAST(max(CASE WHEN rn = 64 THEN hv END) AS DOUBLE)
        |                 / 1152921504606846976.0) END, 4) AS est_distinct
        |FROM r WHERE rn <= 64 GROUP BY day""".stripMargin),

    Query("events_window", (s, dir) => {
      Events.windowedAgg(Tables.events(s, dir), "ts", "event_type", "value", "1 hour")
        .select(col("window_start"), col("event_type"), col("n_events"),
          round(col("sum_value"), 4).as("sum_value"))
    },
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
        |  count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    Query("events_sessionize", (s, dir) => {
      Events.sessionStats(Tables.events(s, dir), "ts", "user_id", "event_id", "value", 30)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), round(col("sum_value"), 4).as("sum_value"))
    },
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
        |f AS (SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
        |                     THEN 1 ELSE 0 END AS new_s FROM l),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                 ROWS UNBOUNDED PRECEDING) AS session_seq FROM f)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM s GROUP BY user_id, session_seq""".stripMargin),

    Query("q1_agg", (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          count(lit(1)).as("cnt"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    Query("events_asof", (s, dir) => {
      Events.asofJoin(Tables.events(s, dir), "ts", "user_id", "event_type",
          "event_id", "value", "click", "view")
        .select(col("event_id"), col("ts"), col("user_id"),
          round(col("value"), 4).as("value"), col("prior_id"), col("prior_ts"),
          round(col("prior_value"), 4).as("prior_value"), col("gap_us"))
    },
      // the same union-window formulation as the Spark side (NOT
      // DuckDB's ASOF JOIN, whose equal-ts tie choice is unspecified):
      // identical ordering + identical frame = identical pick
      """WITH f AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |             event_type, value
        |           FROM events WHERE event_type IN ('click', 'view')),
        |c AS (SELECT *,
        |  last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |    OVER w AS prior_id,
        |  last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
        |    OVER w AS prior_ts,
        |  last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
        |    OVER w AS prior_value
        |  FROM f
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING))
        |SELECT event_id, ts, user_id, round(value, 4) AS value,
        |  prior_id, prior_ts, round(prior_value, 4) AS prior_value,
        |  epoch_us(ts) - epoch_us(prior_ts) AS gap_us
        |FROM c WHERE event_type = 'click'""".stripMargin),

    Query("events_range_join", (s, dir) => {
      // attribution windows: views within the 2 hours before each
      // purchase, per user — the bucketized range join (7200 s buckets
      // ≈ the window length: ~2 bucket rows per interval)
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          (col("ts").cast("long") - 7200).cast("timestamp").as("w_start"),
          col("ts").as("w_end"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
      Events.rangeJoin(purchases, views, "user_id",
          "w_start", "w_end", "view_ts", bucketSeconds = 7200)
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_views"), min(col("view_id")).as("first_view"))
    },
      // DuckDB executes the plain non-equi formulation; the Spark
      // side's bucketization is an execution strategy, not a
      // semantics change, so the two must agree exactly (boundaries
      // inclusive on both ends)
      """WITH p AS (SELECT user_id, event_id AS purchase_id,
        |             CAST(ts AS TIMESTAMP) - INTERVAL 7200 SECOND AS w_start,
        |             CAST(ts AS TIMESTAMP) AS w_end
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id AS view_id, CAST(ts AS TIMESTAMP) AS view_ts
        |      FROM events WHERE event_type = 'view')
        |SELECT purchase_id, count(*) AS n_views, min(view_id) AS first_view
        |FROM p JOIN v ON p.user_id = v.user_id
        |             AND v.view_ts >= p.w_start AND v.view_ts <= p.w_end
        |GROUP BY 1""".stripMargin),

    Query("q3_join_bucketed", (s, dir) => {
      // q3 over CO-BUCKETED fact tables: orders and lineitem are
      // written once per dir as Hive-bucketed tables on their order
      // keys, so the join starts from the required distribution and
      // the two join-side shuffles vanish from the plan (SourcesSpec
      // pins the exchange count; the pay-the-shuffle-once posture
      // every repeated fact-fact join wants at 100 TB). Same rows as
      // q3_join — the shared-oracle path-equality contract
      val (ordT, liT) = Fixtures.of(s, dir).q3Tables
      val cutoff = lit("1998-06-01").cast("timestamp")
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = s.table(ordT)
        .filter(col("o_orderdate") < cutoff)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = s.table(liT)
        .filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("_rev"))
        .orderBy(col("_rev").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("o_orderdate"), round(col("_rev"), 2).as("revenue"))
    },
      // bucketing is a physical layout: the rows are q3_join's —
      // shared oracle is the path-equality contract
      q3JoinSql),

    Query("q3_join", (s, dir) => {
      val cutoff = lit("1998-06-01").cast("timestamp")
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < cutoff)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("_rev"))
        .orderBy(col("_rev").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("o_orderdate"), round(col("_rev"), 2).as("revenue"))
    }, q3JoinSql)
  )

  private val q3JoinSql: String =
    """SELECT l_orderkey, o_orderdate, round(rev, 2) AS revenue FROM (
        |  SELECT l_orderkey, o_orderdate,
        |    sum(l_extendedprice * (1.0 - l_discount)) AS rev
        |  FROM customer, orders, lineitem
        |  WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |    AND l_orderkey = o_orderkey
        |    AND o_orderdate < TIMESTAMP '1998-06-01'
        |    AND l_shipdate > TIMESTAMP '1998-06-01'
        |  GROUP BY l_orderkey, o_orderdate
        |  ORDER BY rev DESC, l_orderkey LIMIT 10)""".stripMargin

  /** Per-column profile oracle: one UNION ALL branch per column, each
    * rebuilding the KMV sketch with DISTINCT + row_number (the
    * events_kmv rule) over md5 of the value's string form. */
  private val tableProfileSql: String = {
    def branch(c: String): String =
      s"""SELECT '$c' AS "column",
         |  (SELECT count(*) FROM documents) AS n_rows,
         |  (SELECT count(*) FROM documents WHERE $c IS NULL) AS n_nulls,
         |  (SELECT round(CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
         |     ELSE 255.0 / (CAST(max(CASE WHEN rn = 256 THEN hv END) AS DOUBLE) / 1152921504606846976.0) END, 4)
         |   FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM (
         |     SELECT DISTINCT CAST('0x' || substr(md5('tp0_' || CAST($c AS VARCHAR)), 1, 15) AS BIGINT) AS hv
         |     FROM documents WHERE $c IS NOT NULL))
         |   WHERE rn <= 256) AS distinct_est""".stripMargin
    Seq("doc_id", "text", "lang", "source", "n_chars")
      .map(branch).mkString("", "\nUNION ALL\n", "")
  }
}
