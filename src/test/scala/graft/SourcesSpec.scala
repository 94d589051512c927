package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.{Collection, CollectionOptions, SearchArgs}
import graft.operators.Knn
import graft.sources.Sources

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("jsonRecords ingests vector and text records; text gets embedded") {
    val dir = tempDir("graft-src")
    Files.writeString(dir.resolve("records.json"),
      """{"id": 1, "vector": [0.1, 0.2], "metadata": "{\"k\":1}"}
        |{"id": 2, "text": "hello world hello", "metadata": "{\"k\":2}"}
        |""".stripMargin)
    val got = Sources.jsonRecords(spark, dir.toString, embedDim = 2)
    val byId = got.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(byId(1L) == Seq(0.1, 0.2))
    // embedded vector is L2-normalized and non-degenerate
    val v2 = byId(2L)
    assert(v2.size == 2 && math.abs(math.sqrt(v2.map(x => x * x).sum) - 1.0) < 1e-9)
  }

  test("jsonRecords emits one row per input row when a vector and a text record share an id") {
    val dir = tempDir("graft-src-dup")
    Files.writeString(dir.resolve("records.json"),
      """{"id": 7, "vector": [0.1, 0.2], "metadata": "{\"k\":1}"}
        |{"id": 7, "text": "hello world", "metadata": "{\"k\":2}"}
        |{"id": 8, "metadata": "{\"k\":3}"}
        |""".stripMargin)
    val got = Sources.jsonRecords(spark, dir.toString, embedDim = 4)
      .as[(Long, Option[Seq[Double]], String)].collect()
    assert(got.length == 3, got.toSeq)
    assert(got.toSet == Set(
      (7L, Some(Seq(0.1, 0.2)), """{"k":1}"""),
      (7L, Some(HashEmbedRef.embed("hello world", 4)), """{"k":2}"""),
      (8L, None, """{"k":3}""")))
  }

  test("collection round-trip: ingest -> search -> dump") {
    val src = tempDir("graft-src2")
    Files.writeString(src.resolve("r.json"),
      """{"id": 1, "vector": [1.0, 0.0], "metadata": "{\"tag\":\"a\"}"}
        |{"id": 2, "vector": [0.0, 1.0], "metadata": "{\"tag\":\"b\"}"}
        |""".stripMargin)
    val cdir = tempDir("graft-coll2").toFile
    cdir.delete()
    val c = Collection.create(spark,
      CollectionOptions("rt", 2, Knn.Euclidean), cdir.getAbsolutePath)
    c.addDocuments(Sources.jsonRecords(spark, src.toString, 2))
    assert(c.documentCount() == 2)
    assert(c.getDocument(1L).map(_._1) == Some(Seq(1.0, 0.0)))
    assert(c.averageDistance(10) > 1.0) // sqrt(2) between the two
    val hit = c.search(SearchArgs(vector = Some(Seq(0.9, 0.1)), k = 1, precision = "exact"))
      .select("id").as[Long].head()
    assert(hit == 1L)
    val out = tempDir("graft-dump").toFile
    out.delete()
    c.dump(out.getAbsolutePath)
    assert(spark.read.json(out.getAbsolutePath).count() == 2)
  }

  test("dump -> importDump restores an identical collection (dump.go:138)") {
    val cdir = tempDir("graft-imp-src").toFile
    cdir.delete()
    val c = Collection.create(spark,
      CollectionOptions("backup-me", 3, Knn.Cosine), cdir.getAbsolutePath)
    c.addDocuments(Seq(
      (1L, Seq(1.0, 0.0, 0.5), """{"tag":"a"}"""),
      (2L, Seq(0.0, 1.0, -0.5), """{"tag":"b"}"""),
      (3L, Seq(0.3, 0.3, 0.3), """{"tag":"c"}""")
    ).toDF("id", "vector", "metadata"))
    c.removeDocuments(Seq(2L)) // dump captures the current view only
    val dumpDir = tempDir("graft-imp-dump").toFile
    dumpDir.delete()
    c.dump(dumpDir.getAbsolutePath)

    val rdir = tempDir("graft-imp-dst").toFile
    rdir.delete()
    val restored = Collection.importDump(spark,
      CollectionOptions("restored", 3, Knn.Cosine),
      rdir.getAbsolutePath, dumpDir.getAbsolutePath)
    def snapshot(x: Collection): Seq[(Long, Seq[Double], String)] =
      x.current().orderBy(col("id"))
        .as[(Long, Seq[Double], String)].collect().toSeq
    assert(snapshot(restored) == snapshot(c))
    assert(restored.getAllIds() == Seq(1L, 3L))
  }

  test("writeTrainingShards lays out loader-ready shards in shuffle order") {
    val docs = (0L until 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val dir = tempDir("graft-shards").toFile
    dir.deleteOnExit()
    Sources.writeTrainingShards(docs, "doc_id", "s1", 4, dir.getAbsolutePath)
    // shard=N partition dirs exist
    val shardDirs = dir.listFiles().filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(shardDirs.toSeq == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    val back = spark.read.parquet(dir.getAbsolutePath)
    assert(back.count() == 400)
    // assignment matches the deterministic shuffleShards contract
    val expected = graft.operators.Sampling.shuffleShards(docs, "doc_id", "s1", 4)
      .select(col("doc_id"), col("shard"), col("shard_pos"))
      .as[(Long, Int, Long)].collect().toSet
    val got = back.select(col("doc_id"), col("shard"), col("shard_pos"))
      .as[(Long, Int, Long)].collect().toSet
    assert(got == expected)
    // within each shard the positions are dense 1..n — a loader can
    // stream shard=N sequentially with no index
    got.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3).toSeq.sorted == (1L to rows.size).toSeq, s"shard $sh")
    }
  }

  test("co-bucketed tables join without the join-side shuffles") {
    import graft.sources.Sources
    val dirb = tempDir("graft-bk").toFile.getAbsolutePath
    val ord = graft.core.Tables.orders(spark, sf0001)
    val li = graft.core.Tables.lineitem(spark, sf0001)
    Sources.writeBucketed(ord, "bk_ord_spec", s"$dirb/ord", "o_orderkey", 4)
    Sources.writeBucketed(li, "bk_li_spec", s"$dirb/li", "l_orderkey", 4)
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    }
    def joined(o: org.apache.spark.sql.DataFrame, l: org.apache.spark.sql.DataFrame) =
      l.select("l_orderkey", "l_extendedprice")
        .join(o.select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
    val plain = joined(ord, li)
    val bucketed = joined(spark.table("bk_ord_spec"), spark.table("bk_li_spec"))
    // same rows either way; the bucketed plan needs strictly fewer
    // hash-partitioning exchanges (the two join-side shuffles vanish;
    // bucketing even satisfies the groupBy's l_orderkey distribution)
    assert(bucketed.collect().toSet == plain.collect().toSet)
    val (ep, eb) = (exchanges(plain), exchanges(bucketed))
    assert(eb < ep, s"bucketed=$eb plain=$ep")
  }
}
