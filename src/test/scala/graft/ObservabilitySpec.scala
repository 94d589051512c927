package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Eval, Events, Search}

/** Phrase search, deterministic sample quantiles, co-occurrence PMI,
  * and the per-column table profile (round 8 additions). */
class ObservabilitySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf001)
  private lazy val events = Tables.events(spark, sf0001)

  test("phraseSearch finds consecutive words only, counts occurrences") {
    val fixture = Seq(
      (1L, "a slow hash batch runs twice slow hash batch end"),
      (2L, "slow batch hash out of order"),
      (3L, "slow hash middle batch split"),
      (4L, null.asInstanceOf[String]),
      (5L, "tail ends with slow hash batch")).toDF("doc_id", "text")
    val res = Search.phraseSearch(fixture, "text", "doc_id",
        Seq("slow", "hash", "batch"), k = 10)
      .select("doc_id", "n_occurrences").as[(Long, Long)].collect().toMap
    assert(res == Map(1L -> 2L, 5L -> 1L), s"got $res")
  }

  test("phraseIndexed == phraseSearch over the positional index; pruned probe") {
    val dir = tempDir("graft-phrase").toFile
    dir.delete()
    val path = dir.getAbsolutePath
    Search.writeTextIndex(docs, "text", "doc_id", path, numBuckets = 16,
      positions = true)
    val phrase = Seq("slow", "hash", "batch")
    val mem = Search.phraseSearch(docs, "text", "doc_id", phrase, 10)
      .select("doc_id", "rank", "n_occurrences")
      .as[(Long, Int, Long)].collect().toSet
    val idx = Search.phraseIndexed(spark, path, "doc_id", phrase, 10,
      numBuckets = 16)
    val plan = idx.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*term_bucket#\\d+ IN".r.findFirstIn(plan).isDefined,
      s"expected term_bucket pruning in:\n$plan")
    assert(idx.select("doc_id", "rank", "n_occurrences")
      .as[(Long, Int, Long)].collect().toSet == mem)
    assert(mem.nonEmpty, "fixture phrase should occur at sf0.01")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(dir)
  }

  test("quantiles: small groups are exact; partitioning-independent") {
    // a group smaller than k samples everything: quantiles are exact
    // nearest-rank values of the full group
    val vals = (1 to 101).map(i => (i.toLong, "g", i.toDouble))
    val df = vals.toDF("id", "key", "v")
    val res = Events.quantiles(df, Seq("key"), "v", "id", k = 256,
        qs = Seq(0.0, 0.5, 1.0), seed = "s")
      .select("quantile", "value").as[(Double, Double)].collect().toMap
    assert(res == Map(0.0 -> 1.0, 0.5 -> 51.0, 1.0 -> 101.0), s"got $res")
    // bigger than k: deterministic sample — identical under reshuffling
    val big = Tables.events(spark, sf001)
    val a = Events.quantiles(big, Seq("event_type"), "value", "event_id",
        64, Seq(0.5, 0.9), "q")
      .collect().map(_.toString).sorted.toSeq
    val b = Events.quantiles(big.repartition(13), Seq("event_type"), "value",
        "event_id", 64, Seq(0.5, 0.9), "q")
      .collect().map(_.toString).sorted.toSeq
    assert(a == b, "sampled quantiles must not depend on partitioning")
  }

  test("typeCooccurrence counts distinct users and derives lift/pmi exactly") {
    val df = Seq(
      (1L, "a"), (1L, "b"), (1L, "a"), // user 1: a,b (dup a collapses)
      (2L, "a"), (2L, "c"),
      (3L, "b"), (3L, "c"),
      (4L, "a")).toDF("user_id", "event_type")
    val res = Events.typeCooccurrence(df, "user_id", "event_type")
      .select("type_a", "type_b", "n_a", "n_b", "n_both", "n_users", "lift")
      .as[(String, String, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(res(("a", "b"))._5 == 1L && res(("a", "c"))._5 == 1L &&
      res(("b", "c"))._5 == 1L)
    assert(res(("a", "b"))._3 == 3L && res(("a", "b"))._4 == 2L)
    assert(res(("a", "b"))._6 == 4L)
    // lift(a,b) = (1 * 4) / (3 * 2)
    assert(math.abs(res(("a", "b"))._7 - 4.0 / 6.0) < 1e-4)
  }

  test("topPaths counts consecutive same-user transitions in (ts, id) order") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    val df = Seq(
      (1L, t(10), 1L, "view"), (1L, t(20), 2L, "click"), (1L, t(30), 3L, "buy"),
      (2L, t(10), 4L, "view"), (2L, t(20), 5L, "click"),
      // same timestamp: id breaks the tie -> view(6) before click(7)
      (3L, t(50), 7L, "click"), (3L, t(50), 6L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val res = graft.operators.Events.topPaths(df, "user_id", "ts", "event_id",
        "event_type", 10)
      .as[(String, String, Long)].collect().toSet
    assert(res == Set(("view", "click", 3L), ("click", "buy", 1L)), s"got $res")
  }

  test("temporalSplit: eval/train/embargo partition the stream, map-side only") {
    import graft.operators.Sampling
    val res = Sampling.temporalSplit(events, "ts", "2024-01-24 00:00:00",
      embargoSeconds = 86400L)
    val byLabel = res.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(byLabel.keySet == Set("eval", "train", "embargo"))
    assert(byLabel.values.sum == events.count())
    // no shuffle: the split label rides the scan
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"temporalSplit should not shuffle:\n$plan")
    // boundary semantics: nothing in train is within the embargo of
    // the cutoff, nothing in eval is before it
    val bad = res.filter(
      (col("split") === "train" &&
        col("ts") > expr("TIMESTAMP '2024-01-24 00:00:00' - INTERVAL 1 DAY")) ||
      (col("split") === "eval" &&
        col("ts") < expr("TIMESTAMP '2024-01-24 00:00:00'"))).count()
    assert(bad == 0L)
  }

  test("tableProfile: exact small-cardinality distincts, null counts, one row per column") {
    val df = Seq(
      (1L, "x", null.asInstanceOf[String]),
      (2L, "y", "p"),
      (3L, "x", "q"),
      (4L, null.asInstanceOf[String], "q")).toDF("id", "s", "t")
    val res = Eval.tableProfile(df, Seq("id", "s", "t"), k = 256)
      .select("column", "n_rows", "n_nulls", "distinct_est")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(res.size == 3)
    assert(res("id") == ("id", 4L, 0L, 4.0))
    assert(res("s") == ("s", 4L, 1L, 2.0))
    assert(res("t") == ("t", 4L, 1L, 2.0))
  }

  test("embeddingDrift reports per-dim mean shift on the integer grid, drops other sides") {
    val rows = Seq(
      ("a", Seq(1.0, 0.0)), ("a", Seq(3.0, 0.0)),   // mean (2.0, 0.0)
      ("b", Seq(2.0, 4.0)),                          // mean (2.0, 4.0)
      ("c", Seq(99.0, 99.0))                         // not a side -> dropped
    ).toDF("grp", "embedding")
    val got = Eval.embeddingDrift(rows, "embedding", col("grp"), "a", "b")
      .select("dim", "n_a", "n_b", "mean_a", "mean_b", "drift")
      .as[(Int, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size == 2)
    assert(got(0) == ((0, 2L, 1L, 2.0, 2.0, 0.0)))
    assert(got(1) == ((1, 2L, 1L, 0.0, 4.0, 4.0)))
    // partitioning-independent: the quantized sums are integers
    val again = Eval.embeddingDrift(rows.repartition(7), "embedding",
        col("grp"), "a", "b")
      .select("dim", "n_a", "n_b", "mean_a", "mean_b", "drift")
      .as[(Int, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(again == got)
  }

  test("embeddingOutliers: planted outlier tops the ranking, values match a local mirror") {
    // 20 vectors near the origin + one far outlier + one mild one
    val rows = ((0L until 20L).map(i =>
      (i, Seq(0.001 * i, -0.001 * i, 0.5))) ++
      Seq((100L, Seq(5.0, 5.0, 5.0)), (101L, Seq(1.0, 1.0, 0.5)))
    ).toDF("vec_id", "embedding")
    val got = Eval.embeddingOutliers(rows, "embedding", "vec_id", k = 3)
      .as[(Long, Double, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(100L, 101L, 19L))
    // local mirror of the grid arithmetic
    val vecs = ((0L until 20L).map(i =>
      i -> Seq(0.001 * i, -0.001 * i, 0.5)) ++
      Seq(100L -> Seq(5.0, 5.0, 5.0), 101L -> Seq(1.0, 1.0, 0.5))).toMap
    val q = vecs.view.mapValues(_.map(x => math.round(x * 1e6))).toMap
    val n = q.size
    val mu = (0 until 3).map(d => (q.values.map(_(d)).sum.toDouble / n) / 1e6)
    val dq = q.view.mapValues { v =>
      val d2 = (0 until 3).foldLeft(0.0) { (a, d) =>
        val diff = v(d) / 1e6 - mu(d); a + diff * diff
      }
      math.round(d2 * 1e6)
    }.toMap
    val m1 = dq.values.sum.toDouble / n
    val m2 = dq.values.map(x => x.toDouble * x).sum / n
    def z(id: Long): Double = (dq(id) - m1) / math.sqrt(m2 - m1 * m1)
    def r(v: Double, p: Int): Double =
      BigDecimal(v).setScale(p, BigDecimal.RoundingMode.HALF_UP).toDouble
    got.foreach { case (id, dist2, zs) =>
      assert(dist2 == dq(id).toDouble / 1e6, s"dist2 of $id")
      assert(r(zs, 5) == r(z(id), 5), s"z of $id: $zs vs ${z(id)}")
    }
    // zero-variance corpus: z collapses to 0.0, no NaN/crash
    val flat = (0L until 5L).map(i => (i, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    val fz = Eval.embeddingOutliers(flat, "embedding", "vec_id", 5)
      .as[(Long, Double, Double)].collect()
    assert(fz.length == 5 && fz.forall(_._3 == 0.0))
    // partitioning-independent
    val again = Eval.embeddingOutliers(rows.repartition(7), "embedding",
      "vec_id", 3).as[(Long, Double, Double)].collect()
    assert(again.toSeq == got.toSeq)
  }
}
