package graft

import org.apache.spark.sql.SaveMode
import graft.registry.Fixtures

/** The fixtures' content keying (VERDICT r16 #3): a long-lived
  * session that mutates the corpus under the SAME path — exactly what
  * upsert_crud/compact model — must re-train, not serve a stale model
  * forever. A directory's fixture set carries the tableToken of its
  * source tables, each folding the parquet directory's (name, length,
  * mtime) listing, re-derived on every lookup (one FS listing, no
  * Spark job). */
class ModelCacheSpec extends SparkSpec {

  private def writeDocs(dir: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
  }

  test("token is stable on identical content, shifts on rewrite") {
    val dir = tempDir("graft-tok").toString
    // missing table: a well-defined (empty-listing) token, no throw
    val absent = Fixtures.tableToken(spark, dir, "documents")
    writeDocs(dir, Seq((1L, "hello world")))
    val t1 = Fixtures.tableToken(spark, dir, "documents")
    assert(t1 != absent)
    // re-derived, not memoized: same content, same token
    assert(Fixtures.tableToken(spark, dir, "documents") == t1)
    // a rewrite (fresh part files) is a new snapshot
    writeDocs(dir, Seq((1L, "hello world")))
    assert(Fixtures.tableToken(spark, dir, "documents") != t1)
  }

  test("a corpus mutated under one path re-trains the gate " +
      "(VERDICT r16 #3)") {
    val dir = tempDir("graft-mc").toString
    // >=30 words with stopwords -> y=1 under the graded label rule
    val good = Seq.fill(5)("the is a and of to in it you that").mkString(" ")
    val bad = "qq ww"
    writeDocs(dir, (1L to 40L).map(i =>
      (i, if (i % 2 == 0) good else bad)))
    val m1 = Fixtures.of(spark, dir).boost
    // unchanged corpus: the set serves the SAME instance (no re-train)
    assert(Fixtures.of(spark, dir).boost eq m1)
    // mutate under the same path: the gate must re-train
    writeDocs(dir, (1L to 40L).map(i =>
      (i, if (i % 2 == 0) bad else good)))
    val m2 = Fixtures.of(spark, dir).boost
    assert(!(m2 eq m1), "stale model served after a corpus rewrite")
  }

  test("a rewritten corpus replaces its fixture set and reclaims the " +
      "old set's index files") {
    val dir = tempDir("graft-fx").toString
    writeDocs(dir, Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta")))
    val f1 = Fixtures.of(spark, dir)
    val idx = new java.io.File(f1.bm25Index)
    assert(idx.exists())
    assert(Fixtures.of(spark, dir) eq f1)
    writeDocs(dir, Seq((1L, "alpha beta gamma")))
    val f2 = Fixtures.of(spark, dir)
    assert(!(f2 eq f1))
    assert(!idx.exists(), s"superseded index left on disk: $idx")
    assert(new java.io.File(f2.bm25Index).exists())
  }

  test("token sees a rewrite INSIDE a partition subdir " +
      "(VERDICT r17 what's-wrong #3: recursive listing)") {
    import spark.implicits._
    val dir = tempDir("graft-part").toString
    def writePartitioned(text: String): Unit =
      Seq((1L, text, "en"), (2L, text, "de")).toDF("doc_id", "text", "lang")
        .write.mode(SaveMode.Overwrite).partitionBy("lang")
        .parquet(s"$dir/documents.parquet")
    writePartitioned("hello world")
    val t1 = Fixtures.tableToken(spark, dir, "documents")
    // same content, re-derived: stable
    assert(Fixtures.tableToken(spark, dir, "documents") == t1)
    // rewrite ONE partition subdir in place: the lang=en subdir keeps
    // its name (and often its mtime at coarse granularity) — a flat
    // listing missed this; the recursive fold must not
    Seq((1L, "changed body", "en")).toDF("doc_id", "text", "lang")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet/lang=en")
    assert(Fixtures.tableToken(spark, dir, "documents") != t1,
      "partition-subdir rewrite produced the same token")
  }
}
