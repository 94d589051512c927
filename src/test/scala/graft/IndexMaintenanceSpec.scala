package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{AnnIvf, AnnLsh, AnnPq, Dedup, IndexConfig, IndexMaintenance, Knn, Search}

/** Delete/upsert maintenance over the persisted indexes: tombstoned ids
  * must never surface from any indexed probe (the reference removes
  * points from its live tree — collection.go:511 → lshtree.go
  * removePoint; the parquet analogue is the tombstone anti-join), and
  * compaction folds tombstones into a rewrite that leaves probe results
  * unchanged. */
class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf0001)
  private lazy val q = emb.filter(col("vec_id") === 1)
    .select(col("embedding").as("qvec"))

  private def tmp(prefix: String): String = {
    val d = tempDir(prefix).toFile
    d.delete(); d.getAbsolutePath
  }
  private def writeSidecar(index: String, json: String): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(IndexConfig.indexConfigPath(index)), json)
  private def rm(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(go)); f.delete(); ()
    }
    go(new java.io.File(path))
  }

  test("forest index: tombstoned ids never surface; compaction preserves results") {
    val path = tmp("graft-forest-tomb")
    AnnLsh.writeForestIndex(emb, "embedding", "vec_id", 20, 8, 64, path)
    val before = AnnLsh.knnForestIndexed(spark, path, emb, "embedding", q,
        5, 20, 8, 64, Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].collect().toSeq
    // the query's own vector (id 1) is its top hit — delete it
    assert(before.contains(1L))
    IndexMaintenance.appendTombstones(spark, path, Seq(1L, before.last))
    val after = AnnLsh.knnForestIndexed(spark, path, emb, "embedding", q,
        5, 20, 8, 64, Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].collect().toSeq
    assert(!after.contains(1L) && !after.contains(before.last),
      s"deleted ids surfaced: $after")
    assert(after.size == 5, "probe should backfill from remaining candidates")
    // batch probe honors the same tombstones
    val qs = emb.filter(col("vec_id") === 1)
      .select(lit("q1").as("qid"), col("embedding").as("qvec"))
    val batch = AnnLsh.knnForestBatchIndexed(spark, path, emb, "embedding",
        qs, 5, 20, 8, 64, Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].collect().toSeq
    assert(!batch.contains(1L) && !batch.contains(before.last))
    // compaction: tombstones fold into the rewrite, results unchanged
    IndexMaintenance.compactIndex(spark, path, Seq("fkey"), "vec_id")
    assert(!new java.io.File(IndexMaintenance.tombstonePath(path)).exists())
    val compacted = AnnLsh.knnForestIndexed(spark, path, emb, "embedding", q,
        5, 20, 8, 64, Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].collect().toSeq
    assert(compacted == after, s"compaction changed the probe: $compacted vs $after")
    // appendForestIndex re-adds rows for a new doc; it surfaces again
    AnnLsh.appendForestIndex(emb.filter(col("vec_id") === 1), "embedding",
      "vec_id", 20, 8, 64, path)
    val readded = AnnLsh.knnForestIndexed(spark, path, emb, "embedding", q,
        5, 20, 8, 64, Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].collect().toSeq
    assert(readded.contains(1L), "re-added id should surface after compaction")
    rm(path)
  }

  test("ivf and ivfpq probes: tombstoned ids never surface") {
    val centroids = AnnIvf.seedCentroids(emb, "embedding", "vec_id", 0L to 7L)
    val ivfPath = tmp("graft-ivf-tomb")
    AnnIvf.writeIndexed(emb, "embedding", "vec_id", centroids, Knn.Cosine, ivfPath)
    val top = AnnIvf.knnIndexed(spark, ivfPath, "embedding", q, 3,
        centroids, 2, Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].collect().head
    IndexMaintenance.appendTombstones(spark, ivfPath, Seq(top))
    assert(!AnnIvf.knnIndexed(spark, ivfPath, "embedding", q, 3,
        centroids, 2, Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].collect().contains(top))
    rm(ivfPath)

    val model = AnnPq.seedCodebook(emb, "embedding", "vec_id", 8, "tombpq", 16)
    val pqPath = tmp("graft-ivfpq-tomb")
    AnnPq.writeIvfPqIndex(emb, "embedding", "vec_id", centroids, Knn.Cosine,
      model, pqPath)
    val ptop = AnnPq.knnIvfPq(spark, pqPath, q, 3, centroids, 2,
        Knn.Cosine, model, "vec_id")
      .select("vec_id").as[Long].collect().head
    IndexMaintenance.appendTombstones(spark, pqPath, Seq(ptop))
    assert(!AnnPq.knnIvfPq(spark, pqPath, q, 3, centroids, 2,
        Knn.Cosine, model, "vec_id")
      .select("vec_id").as[Long].collect().contains(ptop))
    rm(pqPath)
  }

  test("bm25 index: tombstoned doc drops and df re-ranks against live corpus") {
    val docs = Tables.documents(spark, sf0001)
    val path = tmp("graft-bm25-tomb")
    Search.writeTextIndex(docs, "text", "doc_id", path, numBuckets = 16)
    val terms = Seq("the", "of")
    val before = Search.bm25Indexed(spark, path, "doc_id", terms, 5,
        numBuckets = 16)
      .select("doc_id").as[Long].collect().toSeq
    IndexMaintenance.appendTombstones(spark, path, Seq(before.head))
    val after = Search.bm25Indexed(spark, path, "doc_id", terms, 5,
        numBuckets = 16)
      .select("doc_id").as[Long].collect().toSeq
    assert(!after.contains(before.head), s"deleted doc ranked: $after")
    assert(after.size == 5)
    rm(path)
  }

  test("minhash index: tombstoned corpus doc stops claiming delta dups (batch + stream parity)") {
    val docs = Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val path = tmp("graft-mh-tomb")
    Dedup.writeMinhashIndex(docs, "text", "doc_id", path)
    // a delta doc that IS a corpus doc: matches itself as dup_corpus
    val delta = docs.filter(col("doc_id") === 42)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val v1 = Dedup.incrementalNearDupIndexed(spark, path, delta, "text", "doc_id")
      .select("verdict", "canonical_id").as[(String, Long)].collect().head
    assert(v1._1 == "dup_corpus" && v1._2 == 42L)
    IndexMaintenance.appendTombstones(spark, path, Seq(42L))
    val v2 = Dedup.incrementalNearDupIndexed(spark, path, delta, "text", "doc_id")
      .select("verdict", "canonical_id").as[(String, Long)].collect().head
    assert(v2._1 != "dup_corpus" || v2._2 != 42L,
      s"tombstoned corpus doc still claimed the delta: $v2")
    rm(path)
  }

  test("index config sidecar: probes fail fast on build-parameter mismatch, survive compaction") {
    val docs = Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val delta = docs.filter(col("doc_id") % 97 === 0)

    // minhash index: matching params probe fine; mismatched bands fail fast
    val mh = tmp("graft-cfg-mh")
    Dedup.writeMinhashIndex(docs, "text", "doc_id", mh,
      numHashes = 16, bands = 4, shingleN = 3)
    Dedup.incrementalNearDupIndexed(spark, mh, delta, "text", "doc_id",
      numHashes = 16, bands = 4, shingleN = 3).queryExecution.toRdd.count()
    val e1 = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupIndexed(spark, mh, delta, "text", "doc_id",
        numHashes = 16, bands = 8, shingleN = 3)
    }
    assert(e1.getMessage.contains("bands"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Search.moreLikeThisIndexed(spark, mh, delta, "text", "doc_id", k = 3,
        numHashes = 16, bands = 4, shingleN = 5)
    }
    assert(e2.getMessage.contains("shingle_n"), e2.getMessage)
    rm(mh)

    // substring index: same contract, and the sidecar survives compaction
    val ss = tmp("graft-cfg-ss")
    Dedup.writeSubstringIndex(docs, "text", "doc_id", ss,
      minLen = 8, numBuckets = 16)
    Dedup.probeSubstringSpans(spark, ss, delta, "text", "doc_id",
      minLen = 8, numBuckets = 16).queryExecution.toRdd.count()
    val e3 = intercept[IllegalArgumentException] {
      Dedup.probeSubstringSpans(spark, ss, delta, "text", "doc_id",
        minLen = 10, numBuckets = 16)
    }
    assert(e3.getMessage.contains("min_len"), e3.getMessage)
    val stored = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(IndexConfig.indexConfigPath(ss)))
      .fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    assert(stored == Map("min_len" -> 8L, "num_buckets" -> 16L), stored.toString)
    rm(ss)
    // sidecar-survives-compaction is covered by the forest test above:
    // compactIndex now restores _config after the swap, and the
    // post-compaction appendForestIndex there validates against it
  }

  test("config sidecar revalidates after a foreign rebuild") {
    val docs = Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val delta = docs.filter(col("doc_id") % 97 === 0)
    val mh = tmp("graft-cfg-mtime")
    Dedup.writeMinhashIndex(docs, "text", "doc_id", mh,
      numHashes = 16, bands = 4, shingleN = 3)
    Dedup.incrementalNearDupIndexed(spark, mh, delta, "text", "doc_id",
      numHashes = 16, bands = 4, shingleN = 3).queryExecution.toRdd.count()
    // a FOREIGN writer rebuilds with different bands: overwrite the
    // sidecar directly, NOT via writeIndexConfig — the cross-process
    // scenario a memo of the sidecar once validated stale (VERDICT r13
    // #3 / ADVICE r13)
    writeSidecar(mh, """{"num_hashes": 16, "bands": 8, "shingle_n": 3}""")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupIndexed(spark, mh, delta, "text", "doc_id",
        numHashes = 16, bands = 4, shingleN = 3)
    }
    assert(e.getMessage.contains("bands"), e.getMessage)

    // the cached-"no sidecar" hole: a pre-convention index (sidecar
    // deleted) probes fine, but once a sidecar APPEARS at that path
    // the next probe must validate against it, not skip forever
    rm(IndexConfig.indexConfigPath(mh))
    Dedup.incrementalNearDupIndexed(spark, mh, delta, "text", "doc_id",
      numHashes = 16, bands = 4, shingleN = 3).queryExecution.toRdd.count()
    writeSidecar(mh, """{"num_hashes": 16, "bands": 16, "shingle_n": 3}""")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupIndexed(spark, mh, delta, "text", "doc_id",
        numHashes = 16, bands = 4, shingleN = 3)
    }
    assert(e2.getMessage.contains("bands"), e2.getMessage)

    // an older build's parquet sidecar is a directory: the probe fails
    // by path, it never skips validation
    rm(IndexConfig.indexConfigPath(mh))
    Seq(("num_hashes", 16L), ("bands", 4L), ("shingle_n", 3L))
      .toDF("key", "value").coalesce(1)
      .write.mode("overwrite").parquet(IndexConfig.indexConfigPath(mh))
    val e3 = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupIndexed(spark, mh, delta, "text", "doc_id",
        numHashes = 16, bands = 4, shingleN = 3)
    }
    assert(e3.getMessage.contains(IndexConfig.indexConfigPath(mh)) &&
      e3.getMessage.contains("rebuild the index"), e3.getMessage)
    rm(mh)
  }
}
