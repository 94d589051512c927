package graft

import org.apache.spark.sql.functions._
import graft.operators.{Crud, Knn}

class KnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val data = Seq(
    (1L, Array(0.0f, 0.0f)),
    (2L, Array(1.0f, 0.0f)),
    (3L, Array(0.0f, 2.0f)),
    (4L, Array(3.0f, 3.0f))
  ).toDF("id", "vec")

  private lazy val origin = Seq(Tuple1(Array(0.1f, 0.0f))).toDF("qvec")

  test("knn euclidean returns nearest ids in order") {
    val got = Knn.knn(data, "vec", origin, 2, Knn.Euclidean, "id")
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L))
  }

  test("radius returns only points within r") {
    val got = Knn.radius(data, "vec", origin, 1.0, Knn.Euclidean)
      .select("id").as[Long].collect().toSorted
    assert(got == Seq(1L, 2L))
  }

  test("knnBatch ranks per query") {
    val qs = Seq((10L, Array(0.0f, 0.0f)), (20L, Array(3.0f, 3.0f)))
      .toDF("qid", "qvec")
    val got = Knn.knnBatch(data, "vec", qs, 1, Knn.Euclidean, "id")
      .select("qid", "id").as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 1L, 20L -> 4L))
  }

  test("listRecords paginates in id order with filter") {
    val docs = (1L to 100L).map(i => (i, i * 10)).toDF("id", "len")
    val got = Knn.listRecords(docs, "id", Some(col("len") >= 200), 3, 2)
      .select("id").as[Long].collect().toSeq
    // filter keeps ids 20..100; offset 2 -> start at 22
    assert(got == Seq(22L, 23L, 24L))
  }

  test("upsert keeps latest version; delete drops tombstoned keys") {
    val base = Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("id", "v", "version")
    val changes = Seq((2L, "b2", 1L), (3L, "c", 1L)).toDF("id", "v", "version")
    val merged = Crud.upsert(base, changes, "id", "version")
    val got = merged.select("id", "v").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    val afterDelete = Crud.delete(merged, Seq(Tuple1(2L)).toDF("id"), "id")
    assert(afterDelete.select("id").as[Long].collect().toSorted == Seq(1L, 3L))
  }

  test("knn over 8-bit quantized storage: near-exact neighbors, narrower scan") {
    import graft.functions.Quantization
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val exact = Knn.knn(emb, "embedding", qv, 10, Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].collect().toSet
    // search on dequantized 8-bit codes — the reference's stored-
    // quantized / search-dequantized contract (quantization.go,
    // collection.go:569); max per-element error 1/255 barely moves
    // angular distances, so top-10 stays essentially exact
    val stored = emb.select(col("vec_id"),
      Quantization.quantize(col("embedding"), 8).as("codes"))
    val deq = stored.withColumn("vec", Quantization.dequantize(col("codes"), 8))
    val approx = Knn.knn(deq, "vec", qv, 10, Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].collect().toSet
    assert(approx.intersect(exact).size >= 9, s"quantized knn drifted: $approx vs $exact")
    // the storage win that justifies the contract: 8-bit codes scan
    // materially narrower than the raw float vectors
    def dirSize(d: java.io.File): Long =
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val tmp = tempDir("graft-quant").toFile
    emb.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$tmp/raw")
    stored.write.mode("overwrite").parquet(s"$tmp/codes")
    val (raw, codes) = (dirSize(new java.io.File(tmp, "raw")), dirSize(new java.io.File(tmp, "codes")))
    info(s"raw=$raw bytes codes=$codes bytes ratio=${codes.toDouble / raw}")
    assert(codes < raw * 0.7, s"quantized parquet not narrower: $codes vs $raw")
  }

  test("knnClassify: majority vote with nearest-neighbor tie-break, brute-force checked") {
    import spark.implicits._
    // planted geometry: two tight clusters on orthogonal axes with
    // known labels, plus one query per cluster and one equidistant probe
    def v(x: Double, y: Double): Array[Float] =
      Array(x.toFloat, y.toFloat, 0f, 0f)
    val labeled = (
      (0 until 5).map(i => (i.toLong, v(1.0, 0.01 * i), 7)) ++   // cluster A, label 7
      (0 until 5).map(i => (100L + i, v(0.01 * i, 1.0), 3))      // cluster B, label 3
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq(
      (1000L, v(1.0, 0.02), -1),   // deep in A
      (1001L, v(0.02, 1.0), -1),   // deep in B
      (1002L, v(1.0, 1.0), -1)     // equidistant: 5 votes each side
    ).toDF("vec_id", "embedding", "label")
    val got = Knn.knnClassify(labeled, queries, "embedding", "vec_id",
        "label", k = 10, Knn.Cosine)
      .select("qid", "pred_label", "votes").as[(Long, Int, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1000L)._1 == 7 && got(1001L)._1 == 3)
    // k=10 over a 10-row labeled set: every query sees all labels,
    // 5 votes each; the equidistant probe must break the tie by the
    // single nearest neighbor, deterministically
    assert(got(1002L)._2 == 5)
    val nn = Knn.knnBatch(labeled, "embedding",
        queries.filter(col("vec_id") === 1002L)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        1, Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].head()
    val nnLabel = if (nn < 100L) 7 else 3
    assert(got(1002L)._1 == nnLabel, s"tie must go to nearest ($nn)")
    // partitioning independence
    val again = Knn.knnClassify(labeled.repartition(5), queries, "embedding",
        "vec_id", "label", k = 10, Knn.Cosine)
      .select("qid", "pred_label", "votes").as[(Long, Int, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(again == got)
  }

  implicit class SortedSeq(s: Seq[Long]) { def toSorted: Seq[Long] = s.sorted }
  implicit class SortedArr(s: Array[Long]) { def toSorted: Seq[Long] = s.toSeq.sorted }

  test("centroidClassify: planted clusters recovered, ties to smaller label, partition-proof") {
    // two tight clusters on orthogonal axes; labels follow clusters
    val tr = ((0L until 20L).map(i => (i, Seq(1.0 + 0.001 * i, 0.0, 0.0, 0.0), 1)) ++
      (20L until 40L).map(i => (i, Seq(0.0, 1.0 + 0.001 * i, 0.0, 0.0), 2)))
      .toDF("vec_id", "embedding", "label")
    val te = Seq(
      (100L, Seq(0.9, 0.1, 0.0, 0.0)),   // near cluster 1
      (101L, Seq(0.1, 0.9, 0.0, 0.0)),   // near cluster 2
      (102L, Seq(0.0, 0.0, 1.0, 0.0))    // equidistant -> smaller label
    ).toDF("vec_id", "embedding")
    val got = Knn.centroidClassify(tr, te, "embedding", "vec_id", "label")
      .select("vec_id", "pred").as[(Long, Int)].collect().toMap
    assert(got(100L) == 1 && got(101L) == 2)
    assert(got(102L) == 1, s"tie should break to the smaller label: $got")
    val again = Knn.centroidClassify(tr.repartition(7), te.repartition(3),
        "embedding", "vec_id", "label")
      .select("vec_id", "pred").as[(Long, Int)].collect().toMap
    assert(again == got)
  }
}
