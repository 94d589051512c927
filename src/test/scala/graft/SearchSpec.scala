package graft

import org.apache.spark.sql.functions._
import graft.operators.Search

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "spark shuffle join join join"),          // tf(join)=3, short
    (2L, "join " + ("filler " * 50).trim),         // tf(join)=1, long
    (3L, "scan scan broadcast"),                   // tf(scan)=2
    (4L, "nothing relevant here at all"),          // no query terms
    (5L, "join scan"),                             // both terms, shortest
    (6L, null.asInstanceOf[String])                // NULL text
  ).toDF("doc_id", "text")

  test("bm25 ranks term-dense short docs first and excludes zero-score docs") {
    val got = Search.bm25(docs, "text", "doc_id", Seq("join", "scan"), k = 10)
      .as[(Long, Int, Double)].collect().sortBy(_._2)
    // docs 4 and 6 match no term -> excluded
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L, 5L))
    // ranks are dense 1..n and scores non-increasing
    assert(got.map(_._2).toSeq == (1 to got.length))
    assert(got.sliding(2).forall(p => p.head._3 >= p.last._3))
    // doc 5 (both terms, 2 tokens) outranks doc 2 (one hit in 51 tokens)
    val rank = got.map(r => r._1 -> r._2).toMap
    assert(rank(5L) < rank(2L))
    // deterministic across runs
    val again = Search.bm25(docs, "text", "doc_id", Seq("join", "scan"), k = 10)
      .as[(Long, Int, Double)].collect().sortBy(_._2)
    assert(again.toSeq == got.toSeq)
  }

  test("bm25 idf weights rare terms above ubiquitous ones") {
    // 'common' is in every doc, 'rare' in one; equal tf, equal dl
    val corpus = (0L until 20L).map { i =>
      (i, if (i == 0) "rare common pad" else "word common pad")
    }.toDF("doc_id", "text")
    val scored = Search.bm25Scored(corpus, "text", "doc_id", Seq("rare", "common"))
      .as[(Long, Double)].collect().toMap
    // doc 0 holds both terms; its rare contribution dominates: score(0)
    // must far exceed any common-only doc
    assert(scored(0L) > scored(1L) * 2)
  }

  test("bm25Batch matches per-query bm25 in one corpus pass, partitioning-independent") {
    val qs = Seq((0L, "join"), (0L, "scan"), (1L, "scan")).toDF("qid", "term")
    val got = Search.bm25Batch(docs, "text", "doc_id", qs, k = 10)
      .select("qid", "doc_id", "rank", "score")
      .as[(Long, Long, Int, Double)].collect().toSet
    // each qid's slice equals the single-query operator's result
    for ((qid, terms) <- Seq(0L -> Seq("join", "scan"), 1L -> Seq("scan"))) {
      val single = Search.bm25(docs, "text", "doc_id", terms, k = 10)
        .as[(Long, Int, Double)].collect()
        .map { case (d, r, s) => (qid, d, r, s) }.toSet
      assert(got.filter(_._1 == qid) == single, s"qid $qid diverges")
    }
    // the fold order is pinned: a reshuffled corpus scores identically
    val again = Search.bm25Batch(docs.repartition(5), "text", "doc_id", qs, k = 10)
      .select("qid", "doc_id", "rank", "score")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(again == got)
  }

  test("bm25Indexed probes pruned postings partitions, matches the from-scratch scores") {
    val dir = tempDir("graft-bm25idx").toFile
    dir.delete()
    val path = dir.getAbsolutePath
    Search.writeTextIndex(docs, "text", "doc_id", path, numBuckets = 16)
    val res = Search.bm25Indexed(spark, path, "doc_id",
      Seq("join", "scan"), k = 10, numBuckets = 16)
    // the probe must prune to the query terms' bucket partitions
    val plan = res.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*term_bucket#\\d+ IN".r.findFirstIn(plan).isDefined,
      s"expected term_bucket partition pruning in:\n$plan")
    // same docs, same order as the from-scratch batch path (both fold
    // in sorted term order)
    val qs = Seq((0L, "join"), (0L, "scan")).toDF("qid", "term")
    val scratch = Search.bm25Batch(docs, "text", "doc_id", qs, k = 10)
      .select("doc_id", "rank", "score").as[(Long, Int, Double)].collect().toSet
    val indexed = res.select("doc_id", "rank", "score")
      .as[(Long, Int, Double)].collect().toSet
    assert(indexed == scratch, s"indexed $indexed vs scratch $scratch")
    // the index stores postings + stats, never the text
    assert(!spark.read.parquet(path).columns.contains("text"))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(dir)
  }

  test("maxsimSearch rewards a dedicated matching chunk over a diluted mention") {
    val corpus = Seq(
      // chunk 2 is pure signal: per-chunk normalization keeps its
      // weight at the target bucket ~1.0 regardless of the rest
      (1L, ("alpha beta " * 16).trim + " target target target target"),
      // one mention diluted inside a 32-word chunk
      (2L, "target " + ("gamma delta " * 15).trim + " end"),
      (3L, "epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val got = Search.maxsimSearch(corpus, "text", "doc_id",
        queryTokens = Seq("target"), k = 10,
        chunkTokens = 8, strideTokens = 8, dim = 16)
      .select("doc_id", "rank", "score")
      .as[(Long, Int, Double)].collect().sortBy(_._2)
    assert(got.take(2).map(_._1).toSeq == Seq(1L, 2L),
      s"expected the dedicated-chunk doc first: ${got.toSeq}")
    assert(got.head._3 > got(1)._3)
    // multi-token score is the sum of per-token maxes: querying a
    // second token present only in doc 2 lifts doc 2's score by that
    // token's max similarity ('delta' — hash bucket 1, which none of
    // doc 1's words share; 'gamma' would alias doc 1's alpha/beta
    // bucket under the 16-bucket hash embedder)
    val two = Search.maxsimSearch(corpus, "text", "doc_id",
        Seq("target", "delta"), k = 10, 8, 8, 16)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val one = got.map(r => r._1 -> r._3).toMap
    assert(two(2L) > one(2L))
    assert(math.abs(two(1L) - one(1L)) < 1e-9) // doc 1 has no 'delta' bucket
  }

  test("hybridSearch fuses keyword and vector ranks by RRF") {
    val corpus = graft.core.Tables.documents(spark, sf0001)
    val got = Search.hybridSearch(corpus, "text", "doc_id",
        terms = Seq("join", "scan", "merge"), queryText = "join scan merge",
        k = 10, dim = 16, poolK = 20, fusionK = 60)
      .as[(Long, Int, Double, Option[Int], Option[Int])].collect().sortBy(_._2)
    assert(got.length == 10)
    assert(got.map(_._2).toSeq == (1 to 10))
    got.foreach { case (_, _, rrf, rt, rv) =>
      // a fused doc appeared in at least one arm, and its score is
      // exactly the RRF of its arm ranks
      assert(rt.isDefined || rv.isDefined)
      val expected = rt.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        rv.map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(math.abs(rrf - expected) < 1e-12)
    }
    // fused order is non-increasing in rrf
    assert(got.sliding(2).forall(p => p.head._3 >= p.last._3))
    // a doc present in BOTH arms outranks one with only a worse single
    // arm: top fused doc must beat the score of any single-arm doc
    val single = got.filter(r => r._4.isEmpty || r._5.isEmpty).map(_._3)
    if (single.nonEmpty) assert(got.head._3 >= single.max)
  }

  test("moreLikeThis ranks planted near-dups first, excludes self, bounds k, skips matchless seeds") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, base),                                   // seed
      (101L, base + " iota"),                       // superset near-dup
      (102L, base),                                 // exact copy -> jaccard 1.0
      (2L, "one two three four five six"),          // seed with no match
      (3L, "unrelated totally different words here now")
    ).toDF("doc_id", "text")
    val seeds = Seq(1L, 2L).toDF("doc_id")
    val got = Search.moreLikeThis(docs, "text", "doc_id", seeds, k = 5,
        numHashes = 16, bands = 4, shingleN = 3, minJaccard = 0.2)
      .select("qid", "rank", "doc_id", "jaccard")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    // seed 2 has no near-dup above 0.2 -> contributes no rows
    assert(got.forall(_._1 == 1L))
    // exact copy outranks the superset; self never appears
    assert(got.map(_._3).toSeq == Seq(102L, 101L))
    assert(got.head._4 == 1.0 && got(1)._4 < 1.0 && got(1)._4 >= 0.2)
    // k bound: ask for 1, get only the best
    val top1 = Search.moreLikeThis(docs, "text", "doc_id", seeds, k = 1,
        numHashes = 16, bands = 4, shingleN = 3, minJaccard = 0.2)
      .select("doc_id").as[Long].collect().toSeq
    assert(top1 == Seq(102L))
  }

  test("moreLikeThisIndexed equals the scan path and honors tombstones") {
    import graft.operators.{Dedup, IndexMaintenance}
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val seeds = corpus.filter(col("doc_id") % 25 === 0)
    val scan = Search.moreLikeThis(corpus, "text", "doc_id",
        seeds.select("doc_id"), k = 4, minJaccard = 0.1)
      .select("qid", "rank", "doc_id", "jaccard")
      .as[(Long, Int, Long, Double)].collect().toSet
    val path = tempDir("graft-mlt").toString + "/idx"
    Dedup.writeMinhashIndex(corpus, "text", "doc_id", path)
    val indexed = Search.moreLikeThisIndexed(spark, path, seeds,
        "text", "doc_id", k = 4, minJaccard = 0.1)
      .select("qid", "rank", "doc_id", "jaccard")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(indexed == scan && scan.nonEmpty)
    // tombstone a returned corpus doc: it must vanish from results
    val victim = scan.head._3
    IndexMaintenance.appendTombstones(spark, path, Seq(victim))
    val after = Search.moreLikeThisIndexed(spark, path, seeds,
        "text", "doc_id", k = 4, minJaccard = 0.1)
      .select("doc_id").as[Long].collect().toSet
    assert(!after.contains(victim))
  }
}
