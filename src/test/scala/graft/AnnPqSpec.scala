package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.BinaryExprs
import graft.operators.{AnnPq, Knn}

class AnnPqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf0001)
  private lazy val q = emb.filter(col("vec_id") === 1)
    .select(col("embedding").as("qvec"))
  private lazy val model =
    AnnPq.seedCodebook(emb, "embedding", "vec_id", 8, "pqspec", 16)
  private lazy val coded = AnnPq.encode(emb, "embedding", model)

  test("seeded codebook is deterministic and data-sampled") {
    val m2 = AnnPq.seedCodebook(emb, "embedding", "vec_id", 8, "pqspec", 16)
    assert(model.codebook.toSeq == m2.codebook.toSeq)
    assert(model.m == 8 && model.k == 16 && model.dsub == 8 && model.dim == 64)
    // centroids are real corpus subvectors, not synthetic noise
    val all = emb.select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].collect().map(_.toArray)
    val c0 = Array.tabulate(8)(i => model.codebook(i)) // subspace 0, centroid 0
    assert(all.exists(v => v.take(8).sameElements(c0)))
  }

  test("encode emits m codes in [0, k), deterministically") {
    val codes = coded.select(col("vec_id"), col("pq_code")).as[(Long, Seq[Int])].collect()
    assert(codes.length == emb.count())
    assert(codes.forall(_._2.length == 8))
    assert(codes.forall(_._2.forall(c => c >= 0 && c < 16)))
    val again = AnnPq.encode(emb, "embedding", model)
      .select(col("vec_id"), col("pq_code")).as[(Long, Seq[Int])].collect()
    assert(codes.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("adc top-k orders by table-lookup distance; rerank restores exact order") {
    val adc = AnnPq.knnAdc(coded, "pq_code", q, 10, model, "vec_id")
      .select("dist_adc").as[Double].collect().toSeq
    assert(adc.size == 10 && adc == adc.sorted)
    // rerank: ADC candidates, exact ordering — distances are TRUE
    // metric distances, ascending
    val rr = AnnPq.knnRerank(coded, "embedding", "pq_code", q, 10, 50,
      model, Knn.Cosine, "vec_id")
    val rrd = rr.select("dist").as[Double].collect().toSeq
    assert(rrd.size == 10 && rrd == rrd.sorted)
    // the query row itself survives to rank 1 at distance ~0
    assert(rrd.head < 1e-6)
  }

  test("rerank recall@10 beats raw ADC recall on worst-case uniform data") {
    val k = 10
    val exact = Knn.knn(emb, "embedding", q, k, Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].collect().toSet
    val adc = AnnPq.knnAdc(coded, "pq_code", q, k, model, "vec_id")
      .select("vec_id").as[Long].collect().toSet
    val rr = AnnPq.knnRerank(coded, "embedding", "pq_code", q, k, 50,
      model, Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].collect().toSet
    val rAdc = adc.intersect(exact).size.toDouble / k
    val rRr = rr.intersect(exact).size.toDouble / k
    assert(rRr >= rAdc, s"rerank $rRr should not trail ADC $rAdc")
    // 50-candidate rerank over 500 rows: 10% of the corpus scanned at
    // full width; floor pinned from measurement (uniform embeddings,
    // no cluster structure = PQ's worst case)
    assert(rRr >= 0.5, s"rerank recall too low: $rRr")
  }

  test("packed codes are 64x narrower than the float vectors") {
    val widths = coded
      .select(
        sum(length(BinaryExprs.packCodes(col("pq_code"), 4))).as("code_bytes"),
        sum(lit(64) * 4).as("vec_bytes"))
      .as[(Long, Long)].head()
    assert(widths._1 * 64 == widths._2,
      s"4-bit PQ codes should be 64x narrower: $widths")
  }

  test("lloyd training reduces mean ADC reconstruction error") {
    def meanAdcSelfError(m: AnnPq.Model): Double = {
      // ADC distance of every row to ITS OWN encoding approximates
      // the quantization error; the mean over the corpus is the
      // standard PQ distortion measure
      val c = AnnPq.encode(emb, "embedding", m)
      val vecs = c.select(col("embedding").cast("array<double>"), col("pq_code"))
        .as[(Seq[Double], Seq[Int])].collect()
      vecs.map { case (v, codes) =>
        codes.zipWithIndex.map { case (code, j) =>
          val base = (j * m.k + code) * m.dsub
          (0 until m.dsub).map { i =>
            val d = v(j * m.dsub + i) - m.codebook(base + i)
            d * d
          }.sum
        }.sum
      }.sum / vecs.length
    }
    val trained = AnnPq.train(emb, "embedding", model, 2)
    val e0 = meanAdcSelfError(model)
    val e1 = meanAdcSelfError(trained)
    assert(e1 < e0, s"training should reduce distortion: $e0 -> $e1")
  }

  test("ivfpq index probe prunes cell partitions and never stores vectors") {
    import graft.operators.AnnIvf
    val dir = tempDir("graft-ivfpq").toFile
    dir.delete()
    val centroids = AnnIvf.seedCentroids(emb, "embedding", "vec_id", 0L to 7L)
    AnnPq.writeIvfPqIndex(emb, "embedding", "vec_id", centroids, Knn.Cosine,
      model, dir.getAbsolutePath, keepCols = Seq("label"))
    val res = AnnPq.knnIvfPq(spark, dir.getAbsolutePath, q, 10, centroids,
      nprobe = 2, Knn.Cosine, model, "vec_id")
    val plan = res.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cell#\\d+ IN \\(".r.findFirstIn(plan).isDefined,
      s"expected cell partition pruning in:\n$plan")
    assert(res.count() == 10)
    // the stored schema is id + label + packed code — no vector column
    val stored = spark.read.parquet(dir.getAbsolutePath)
    assert(stored.schema.fieldNames.toSet == Set("vec_id", "label", "cell", "pq_packed"))
    // 8 codes x 4 bits = 4 bytes per row
    val bytes = stored.agg(sum(length(col("pq_packed")))).as[Long].head()
    assert(bytes == stored.count() * 4)
    // probed-cell ADC results agree with brute-force ADC restricted to
    // those cells (pack/unpack round-trip is lossless)
    val probeCells = AnnIvf.rankCells(centroids, q, 2, Knn.Cosine)
    val assigned = AnnIvf.assign(emb, "embedding", "vec_id", centroids, Knn.Cosine)
      .filter(col("cell").isin(probeCells: _*))
    val mem = AnnPq.knnAdc(AnnPq.encode(assigned, "embedding", model),
      "pq_code", q, 10, model, "vec_id")
      .select("vec_id").as[Long].collect().toSeq
    val disk = res.select("vec_id").as[Long].collect().toSeq
    assert(mem == disk)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(dir)
  }

  test("residual IVFPQ: per-cell pruned probe; residual codes cut distortion") {
    import graft.operators.AnnIvf
    val dir = tempDir("graft-ivfpqres").toFile
    dir.delete()
    val centroids = AnnIvf.seedCentroids(emb, "embedding", "vec_id", 0L to 7L)
    val resModel = AnnPq.seedResidualCodebook(emb, "embedding", "vec_id",
      centroids, Knn.Cosine, 8, "pqspec", 16)
    AnnPq.writeIvfPqResidualIndex(emb, "embedding", "vec_id", centroids,
      Knn.Cosine, resModel, dir.getAbsolutePath, keepCols = Seq("label"))
    val res = AnnPq.knnIvfPqResidual(spark, dir.getAbsolutePath, q, 10,
      centroids, nprobe = 2, Knn.Cosine, resModel, "vec_id")
    // each arm of the union is a single-cell scan -> static partition
    // pruning on every file source in the plan
    val plan = res.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*cell#\\d+ = ".r.findFirstIn(plan).isDefined,
      s"expected single-cell partition pruning in:\n$plan")
    assert(res.count() == 10)
    // distortion: mean squared quantization error of the residual
    // codebook over residuals vs the raw codebook over raw vectors
    // (same seed, same m x k budget). Residual coding wins exactly
    // when cells capture structure (the IVFADC contract) — so the
    // comparison runs on a deterministic CLUSTERED corpus: 8 tight
    // clusters, the seeded centroids being one member of each. On
    // structure-free uniform data (the sf0.001 embeddings) residuals
    // against a data-point centroid do NOT shrink — measured here,
    // documented on the operator.
    def distortion(frame: org.apache.spark.sql.DataFrame, vecCol: String,
                   m: AnnPq.Model): Double = {
      val c = AnnPq.encode(frame, vecCol, m, "_code")
      val vecs = c.select(col(vecCol).cast("array<double>"), col("_code"))
        .as[(Seq[Double], Seq[Int])].collect()
      vecs.map { case (v, codes) =>
        codes.zipWithIndex.map { case (code, j) =>
          val base = (j * m.k + code) * m.dsub
          (0 until m.dsub).map { i =>
            val d = v(j * m.dsub + i) - m.codebook(base + i)
            d * d
          }.sum
        }.sum
      }.sum / vecs.length
    }
    val clustered = (0 until 400).map { n =>
      val cl = n % 8
      val v = Array.tabulate(64)(i =>
        math.sin(cl * 64.0 + i) + 0.05 * math.sin(n * 97.0 + i * 13.0))
      (100L + n, v.toSeq)
    }.toDF("vec_id", "embedding")
    val cCents = AnnIvf.seedCentroids(clustered, "embedding", "vec_id", 100L to 107L)
    val cRes = AnnPq.seedResidualCodebook(clustered, "embedding", "vec_id",
      cCents, Knn.Cosine, 8, "pqspec", 16)
    val cRaw = AnnPq.seedCodebook(clustered, "embedding", "vec_id", 8, "pqspec", 16)
    val residuals = AnnIvf.assign(clustered, "embedding", "vec_id", cCents, Knn.Cosine)
      .withColumn("_rv", AnnPq.residualCol(col("embedding"), col("cell"), cCents))
    val eRes = distortion(residuals, "_rv", cRes)
    val eRaw = distortion(clustered, "embedding", cRaw)
    assert(eRes < eRaw / 10,
      s"residual codes should cut clustered distortion >=10x: raw $eRaw -> res $eRes")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(dir)
  }

  test("null vectors yield null codes and fall out of top-k") {
    val withNull = emb.select(col("vec_id"),
      when(col("vec_id") === 2, lit(null).cast("array<float>"))
        .otherwise(col("embedding")).as("embedding"))
    val c = AnnPq.encode(withNull, "embedding", model)
    assert(c.filter(col("pq_code").isNull).count() == 1)
    val top = AnnPq.knnAdc(c, "pq_code", q, 10, model, "vec_id")
      .select("vec_id").as[Long].collect()
    assert(!top.contains(2L))
  }
}
