package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** Fixed-point integer PageRank (operators/Graph.scala): bit-exact vs
  * a local mirror of the same integer recurrence, structurally sane,
  * and partitioning-independent. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  // star + chain: hub "h" linked bidirectionally to a,b,c; chain c->d->h
  private val rawEdges = Seq(
    ("h", "a"), ("a", "h"), ("h", "b"), ("b", "h"),
    ("h", "c"), ("c", "h"), ("c", "d"), ("d", "h"))

  private def localPagerank(edges: Seq[(String, String)], iters: Int,
                            scale: Long = 1000000000000L): Map[String, Long] = {
    val e = edges.distinct
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = deg.keySet
    val n = nodes.size
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val sums = e.groupBy(_._2).view
        .mapValues(_.map { case (s, _) => r(s) / deg(s) }.sum).toMap
      r = nodes.map(v =>
        v -> ((15L * (scale / n)) / 100 + (85L * sums.getOrElse(v, 0L)) / 100)).toMap
    }
    r
  }

  test("pagerank matches the local integer recurrence exactly") {
    val edges = rawEdges.toDF("src", "dst")
    for (iters <- Seq(1, 3, 5)) {
      val got = Graph.pagerank(edges, "src", "dst", iters)
        .as[(String, Long)].collect().toMap
      assert(got == localPagerank(rawEdges, iters), s"iters=$iters")
    }
  }

  test("hub of the star ranks highest; ranks are partitioning-independent") {
    val edges = rawEdges.toDF("src", "dst")
    val r5 = Graph.pagerank(edges, "src", "dst", 5).as[(String, Long)]
      .collect().toMap
    assert(r5("h") == r5.values.max, r5.toString)
    val again = Graph.pagerank(edges.repartition(7), "src", "dst", 5)
      .as[(String, Long)].collect().toMap
    assert(again == r5)
    // duplicate edges collapse before degree counting
    val dup = (rawEdges ++ rawEdges).toDF("src", "dst")
    assert(Graph.pagerank(dup, "src", "dst", 5).as[(String, Long)]
      .collect().toMap == r5)
  }

  test("dst-only sinks stay out of the node set (ADVICE r16)") {
    // "z" is reachable only as dst. Ranks are defined over the
    // src-node set (the contract on pagerank), so z must not appear —
    // the r16 spine-into-aggregate fold briefly let sink contribution
    // rows survive the groupBy. The sink edge still counts in a's
    // out-degree (its mass share drains, as in the local mirror).
    val withSink = rawEdges ++ Seq(("a", "z"))
    val got = Graph.pagerank(withSink.toDF("src", "dst"), "src", "dst", 5)
      .as[(String, Long)].collect().toMap
    assert(got.keySet == Set("h", "a", "b", "c", "d"), got.toString)
    assert(got == localPagerank(withSink, 5))
  }

  test("20-iteration chain: checkpointed == unchunked, plan stays flat") {
    val edges = rawEdges.toDF("src", "dst")
    // checkpointEvery 20 on a 20-round chain never cuts (i < iterations
    // guard) — the full nested plan; checkpointEvery 1 cuts every round.
    val full = Graph.pagerank(edges, "src", "dst", 20, checkpointEvery = 20)
      .as[(String, Long)].collect().toMap
    val cut = Graph.pagerank(edges, "src", "dst", 20, checkpointEvery = 1)
    assert(cut.as[(String, Long)].collect().toMap == full)
    assert(full == localPagerank(rawEdges, 20))
    // lineage truncation is visible in the plan: a checkpointed chain's
    // logical plan is rooted just above the last LogicalRDD scan, not
    // 20 nested join rounds deep
    val planLines = cut.queryExecution.optimizedPlan.toString()
      .linesIterator.size
    val fullLines = Graph.pagerank(edges, "src", "dst", 20,
      checkpointEvery = 20).queryExecution.optimizedPlan.toString()
      .linesIterator.size
    assert(planLines < fullLines / 4,
      s"checkpointed plan $planLines lines vs unchunked $fullLines")
  }

  test("reliable checkpointDir yields the same ranks as localCheckpoint") {
    // ADVICE r13: localCheckpoint stores rank blocks unreplicated —
    // on a real cluster an executor loss after a cut fails the job.
    // The reliable-dir escape hatch must change only durability,
    // never the integer arithmetic.
    val edges = rawEdges.toDF("src", "dst")
    val dir = tempDir("graft-pr-ckpt")
      .toString
    val reliable = Graph.pagerank(edges, "src", "dst", 12,
        checkpointEvery = 3, checkpointDir = Some(dir))
      .as[(String, Long)].collect().toMap
    val local = Graph.pagerank(edges, "src", "dst", 12, checkpointEvery = 3)
      .as[(String, Long)].collect().toMap
    assert(reliable == local)
    // the reliable path actually wrote checkpoint data to the dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .count() > 1
    assert(wrote, s"no checkpoint data under $dir")
  }

  test("noSinks fast path equals the semi-join path on a symmetric graph") {
    // r19 optimization: a both-directions edge set has no dst-only
    // sinks, so skipping the sink semi-join must change nothing —
    // and the declared queries feed exactly that shape.
    val sym = rawEdges ++ rawEdges.map(_.swap)
    val edges = sym.toDF("src", "dst")
    val fast = Graph.pagerank(edges, "src", "dst", 5, noSinks = true)
      .as[(String, Long)].collect().toMap
    val slow = Graph.pagerank(edges, "src", "dst", 5)
      .as[(String, Long)].collect().toMap
    assert(fast == slow)
    assert(fast == localPagerank(sym, 5))
  }

  test("the rank join is a hash join below the per-partition node bound, sort-merge above") {
    val b = Graph.MaxHashJoinNodesPerPartition
    assert(Graph.hashJoinRanks(b * 4 - 1, 4))
    assert(!Graph.hashJoinRanks(b * 4, 4))
    assert(Graph.hashJoinRanks(b - 1, 1) && !Graph.hashJoinRanks(b, 1))
    // the small test graph takes the hash join
    val plan = Graph.pagerank(rawEdges.toDF("src", "dst"), "src", "dst", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") && !plan.contains("SortMergeJoin"), plan)
  }

  test("total mass stays within the floor-division leak bound") {
    val edges = rawEdges.toDF("src", "dst")
    val scale = 1000000000000L
    val total = Graph.pagerank(edges, "src", "dst", 5)
      .agg(sum("rank")).as[Long].head()
    // each iteration can leak at most (n + edges + 1 per division site)
    // micro-units to floors; anything beyond a few thousand off scale
    // would mean broken arithmetic, not rounding
    assert(math.abs(total - scale) < 10000L, s"total=$total")
  }
}
