package graft

import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import graft.core.{Collection, CollectionOptions, SearchArgs, SearchResults}
import graft.operators.Knn

/** A collection's snapshot is held on the driver below its bound and
  * checkpointed at or above it. Both paths must answer every read the
  * same: the same ids in the same order, the same distance bits and the
  * same percentSearched. Each case reads one log through two instances,
  * one on each side of the bound. */
class SnapshotPathsSpec extends SparkSpec {
  import spark.implicits._

  private val labels = Seq("a", "b", "c")

  private def record(r: Random, dim: Int, pool: Seq[Seq[Double]]): (Seq[Double], String) = {
    // some vectors repeat, so distances tie and ids break the ties
    val vec = if (pool.nonEmpty && r.nextInt(4) == 0) pool(r.nextInt(pool.size))
              else Seq.fill(dim)(math.round(r.nextGaussian() * 4) / 4.0)
    val fields = Seq(
      Some(s""""tag": "${labels(r.nextInt(3))}""""),
      Option.when(r.nextInt(4) != 0)(s""""score": ${r.nextInt(100)}"""),
      Option.when(r.nextBoolean())(s""""tags": [${Seq.fill(r.nextInt(3))(s""""${labels(r.nextInt(3))}"""").mkString(", ")}]"""))
    (vec, fields.flatten.mkString("{", ", ", "}"))
  }

  private def filter(r: Random): String = {
    def atom: String = r.nextInt(6) match {
      case 0 => s"""tag == "${labels(r.nextInt(3))}""""
      case 1 => s"score > ${r.nextInt(100)}"
      case 2 => s"score <= ${r.nextInt(100)}"
      case 3 => s"""tag IN ["${labels(r.nextInt(3))}", "${labels(r.nextInt(3))}"]"""
      case 4 => "score EXISTS"
      case _ => s"""ANY(tags[*] == "${labels(r.nextInt(3))}")"""
    }
    r.nextInt(4) match {
      case 0 => s"$atom AND $atom"
      case 1 => s"$atom OR NOT ($atom)"
      case _ => atom
    }
  }

  private def args(r: Random, dim: Int, vectors: Seq[Seq[Double]], metric: Knn.Metric): SearchArgs = {
    val q = if (vectors.nonEmpty && r.nextBoolean()) vectors(r.nextInt(vectors.size))
            else Seq.fill(dim)(r.nextGaussian())
    val f = Option.when(r.nextInt(3) == 0)(filter(r))
    val precision = if (r.nextBoolean()) "exact" else "medium"
    r.nextInt(3) match {
      case 0 => SearchArgs(vector = Some(q), k = 1 + r.nextInt(vectors.size + 3),
        precision = precision, filter = f)
      case 1 => SearchArgs(vector = Some(q), precision = precision, filter = f,
        radius = (if (metric == Knn.Cosine) 0.1 else 1.0) + r.nextDouble() * (if (metric == Knn.Cosine) 0.5 else 4.0))
      case _ => SearchArgs(limit = if (r.nextBoolean()) 0 else 1 + r.nextInt(8),
        offset = if (r.nextBoolean()) 0 else r.nextInt(vectors.size + 3), filter = f)
    }
  }

  /** (id, vector, metadata, distance bits) of each result row, in order. */
  private def rows(df: DataFrame): Seq[(Long, Seq[Double], String, Option[Long])] = {
    val dist = df.columns.contains("dist")
    df.collect().toSeq.map { (row: Row) =>
      (row.getLong(0), row.getSeq[Double](1), row.getString(2),
        Option.when(dist)(java.lang.Double.doubleToRawLongBits(row.getDouble(3))))
    }
  }

  private def same(what: String, a: SearchResults, b: SearchResults, ordered: Boolean): Unit = {
    assert(a.results.schema.map(f => (f.name, f.dataType)) ==
      b.results.schema.map(f => (f.name, f.dataType)), what)
    val (ra, rb) = (rows(a.results), rows(b.results))
    if (ordered) assert(ra == rb, what) else assert(ra.toSet == rb.toSet && ra.size == rb.size, what)
    assert(a.percentSearched == b.percentSearched, what)
  }

  /** One random log, read through a checkpointing and a holding instance. */
  private def check(seed: Long): Unit = {
    val r = new Random(seed)
    val dim = 3 + r.nextInt(4)
    val metric = if (r.nextBoolean()) Knn.Cosine else Knn.Euclidean
    val options = CollectionOptions("prop", dim, metric, quantization = if (r.nextBoolean()) 64 else 8,
      lshPlanes = 2 + r.nextInt(2), lshTables = if (r.nextBoolean()) 1 else 3)
    val path = tempDir("prop").toString + "/prop"
    val checkpointed = Collection.create(spark, options, path, 0L)
    val held = Collection.open(spark, path, Long.MaxValue)
    val empty = seed % 5 == 0
    var vectors = Seq.empty[Seq[Double]]
    if (!empty) {
      val n = 10 + r.nextInt(50)
      val recs = (0 until n).map { i =>
        val (v, m) = record(r, dim, vectors)
        vectors :+= v
        (i.toLong, v, m)
      }
      recs.grouped(1 + n / (1 + r.nextInt(3))).foreach(b => held.addDocuments(b.toDF("id", "vector", "metadata")))
      val ids = recs.map(_._1)
      checkpointed.removeDocuments(Seq.fill(r.nextInt(5))(ids(r.nextInt(n))).distinct)
      Seq.fill(r.nextInt(4))(ids(r.nextInt(n))).foreach { id =>
        held.updateMetadata(id, s"""{"tag": "${labels(r.nextInt(3))}", "score": ${r.nextInt(100)}}""")
      }
      if (r.nextBoolean()) checkpointed.compact()
      val (v, m) = record(r, dim, vectors)
      held.addDocuments(Seq((ids(r.nextInt(n)), v, m)).toDF("id", "vector", "metadata"))
    }
    val what = s"seed $seed, $options"
    assert(checkpointed.documentCount() == held.documentCount(), what)
    assert(checkpointed.getAllIds() == held.getAllIds(), what)
    (-1L +: Seq.fill(6)(r.nextInt(vectors.size + 2).toLong)).foreach { id =>
      assert(checkpointed.getDocument(id) == held.getDocument(id), s"$what, document $id")
    }
    (0 until 8).foreach { _ =>
      val a = args(r, dim, vectors, metric)
      val ordered = a.vector.isEmpty || a.k != 0
      same(s"$what, $a", checkpointed.searchWithStats(a), held.searchWithStats(a), ordered)
      assert(rows(checkpointed.search(a)).toSet == rows(held.search(a)).toSet, s"$what, $a")
    }
    // the held side answered without a Spark job
    val listing = SearchArgs(limit = 3, filter = Some("tag EXISTS"))
    assert(jobsOf(held.searchWithStats(listing).results.collect()).isEmpty, what)
  }

  test("the driver path equals the checkpoint path: random logs, filters and search modes") {
    (1L to 10L).foreach(check)
  }

  test("a collection that crosses the bound between two commits changes path and answers the same") {
    val path = tempDir("cross").toString + "/cross"
    val options = CollectionOptions("cross", 4, Knn.Euclidean)
    val reference = Collection.create(spark, options, path, 0L)
    def batch(from: Int) = (from until from + 20).map(i =>
      (i.toLong, Seq(i.toDouble, 1.0, -i.toDouble, 0.5), s"""{"tag": "${labels(i % 3)}"}"""))
      .toDF("id", "vector", "metadata")
    reference.addDocuments(batch(0))
    def logBytes = scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get(path)))(
      _.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(_.toFile.length).sum)
    // held while the log is one batch, checkpointed once it is two
    val c = Collection.open(spark, path, logBytes + 1)
    val q = SearchArgs(vector = Some(Seq(3.0, 1.0, -3.0, 0.5)), k = 5, filter = Some("""tag != "b""""))
    assert(c.documentCount() == 20)
    assert(jobsOf(c.searchWithStats(q).results.collect()).isEmpty, "below the bound a search ran a job")
    same("crossing", reference.searchWithStats(q), c.searchWithStats(q), ordered = true)
    reference.addDocuments(batch(20))
    assert(c.documentCount() == 40 && c.getAllIds() == reference.getAllIds())
    assert(jobsOf(c.searchWithStats(q).results.collect()).nonEmpty, "above the bound a search ran no job")
    same("crossing", reference.searchWithStats(q), c.searchWithStats(q), ordered = true)
    assert(c.getDocument(25L) == reference.getDocument(25L) && c.getDocument(25L).nonEmpty)
  }

  test("the bound scales a quantized collection's parquet bytes by 64 / quantization") {
    val path = tempDir("quant").toString + "/quant"
    val writer = Collection.create(spark, CollectionOptions("quant", 4, Knn.Euclidean, quantization = 8),
      path, 0L)
    writer.addDocuments((0 until 30).map(i => (i.toLong, Seq(i.toDouble, 1.0, 0.0, 0.5), "{}"))
      .toDF("id", "vector", "metadata"))
    val bytes = scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get(path)))(
      _.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(_.toFile.length).sum)
    val q = SearchArgs(vector = Some(Seq(3.0, 1.0, 0.0, 0.5)), k = 3)
    def jobs(bound: Long) = {
      val c = Collection.open(spark, path, bound)
      assert(c.documentCount() == 30)
      jobsOf(c.searchWithStats(q).results.collect())
    }
    assert(jobs(bytes * 8 + 8).isEmpty, "held: 8 times the files' bytes is below the bound")
    assert(jobs(bytes * 8).nonEmpty, "checkpointed: 8 times the files' bytes is at the bound")
  }
}
