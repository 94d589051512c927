package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.core.{Collection, CollectionOptions, SearchArgs}
import graft.operators.{AnnLsh, Knn}

class CollectionSpec extends SparkSpec {
  import spark.implicits._

  /** A collection at `<a private directory>/<name>`: nothing else is
    * listed beside it. `heldBytes` is its held-snapshot bound. */
  private def newCollectionAt(name: String, heldBytes: Long = Collection.HeldBytes,
                              quantization: Int = 64): (Collection, String) = {
    val path = tempDir(name).resolve(name).toString
    (Collection.create(spark, CollectionOptions(name, dimensionCount = 4,
      distanceMethod = Knn.Euclidean, quantization = quantization), path, heldBytes), path)
  }

  private def newCollection(quantization: Int = 64,
                            heldBytes: Long = Collection.HeldBytes): Collection =
    newCollectionAt("test", heldBytes, quantization)._1

  private def docs3 = Seq(
    (1L, Seq(0.0, 0.0, 0.0, 0.0), """{"tag": "a"}"""),
    (2L, Seq(1.0, 0.0, 0.0, 0.0), """{"tag": "b"}"""),
    (3L, Seq(0.0, 5.0, 0.0, 0.0), """{"tag": "a"}""")
  ).toDF("id", "vector", "metadata")

  /** The snapshot builds among `jobs`, on either path. */
  private def builds(jobs: Seq[SparkSpec.Job]): Int =
    jobs.count(_.description.exists(_.startsWith("Collection.snapshot ")))

  /** The stages of snapshot builds among `jobs` whose names do not
    * start with `site`. */
  private def buildStagesNot(site: String, jobs: Seq[SparkSpec.Job]): Int =
    jobs.filter(_.description.exists(_.startsWith("Collection.snapshot ")))
      .flatMap(_.stages).count(!_.startsWith(site))

  /** Both sides of the held-snapshot bound, as a test-name suffix and a
    * bound: the default, below which these small collections are held
    * on the driver, and 0, at which every snapshot is checkpointed. */
  private val bothPaths = Seq("" -> Collection.HeldBytes, " (checkpointed)" -> 0L)

  /** (path, length, modification time) of each parquet file under `dir`. */
  private def parquetFiles(dir: String): Set[(String, Long, Long)] =
    if (!new java.io.File(dir).exists) Set.empty
    else scala.util.Using.resource(Files.walk(new java.io.File(dir).toPath))(
      _.iterator().asScala.map(_.toFile).filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.length, f.lastModified)).toSet)

  /** The commit numbers in the log of the collection at `path`. */
  private def commitsAt(path: String): Seq[Long] =
    Option(new java.io.File(s"$path._log").list()).toSeq.flatten
      .filter(_.endsWith(".json")).flatMap(_.stripSuffix(".json").toLongOption).sorted

  private def commitAt(path: String, v: Long): Collection.Commit =
    Collection.Commit.parse(new String(
      Files.readAllBytes(new java.io.File(s"$path._log/$v.json").toPath), "UTF-8"))

  /** The `version` values in the files commit `v` names. */
  private def versionsOf(path: String, v: Long): Set[Long] =
    spark.read.parquet(commitAt(path, v).files.map(f => s"${new java.io.File(path).getParent}/$f"): _*)
      .select("version").as[Long].collect().toSet

  test("add / count / ids / remove round-trip (reference CRUD surface)") {
    val c = newCollection()
    c.addDocuments(docs3)
    assert(c.documentCount() == 3)
    assert(c.getAllIds() == Seq(1L, 2L, 3L))
    c.removeDocuments(Seq(2L))
    assert(c.getAllIds() == Seq(1L, 3L))
    // re-adding a removed id resurrects it (latest version wins)
    c.addDocuments(Seq((2L, Seq(9.0, 9.0, 9.0, 9.0), "{}")).toDF("id", "vector", "metadata"))
    assert(c.getAllIds() == Seq(1L, 2L, 3L))
  }

  test("dumpFile/importDumpFile: self-describing single-file round-trip") {
    val c = newCollection(quantization = 32)
    c.addDocuments(docs3)
    c.removeDocuments(Seq(2L)) // the dump is the CURRENT view
    val f = tempDir("dump").toString + "/coll.jsonl"
    c.dumpFile(f)
    // deterministic shape: line 1 is the options header, then one
    // record line per live id, in id order
    val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
    assert(lines.head.contains("\"dimensionCount\": 4") &&
      lines.head.contains("euclidean"))
    assert(lines.tail.size == 2 &&
      lines.tail.forall(_.startsWith("{\"id\":")))
    // and dumping again is byte-identical (ordered, no randomness)
    val f2 = f + ".again"
    c.dumpFile(f2)
    assert(scala.io.Source.fromFile(f2, "UTF-8").mkString ==
      scala.io.Source.fromFile(f, "UTF-8").mkString)
    // the import twin needs NO options argument: the dump describes
    // itself, and the restored collection serves the same view
    val c2 = Collection.importDumpFile(spark, tempDir("imp").toString + "/c", f)
    assert(c2.options.quantization == 32 &&
      c2.options.distanceMethod == Knn.Euclidean)
    assert(c2.getAllIds() == Seq(1L, 3L))
    val got = c2.current().orderBy("id")
      .select("id", "vector", "metadata")
      .as[(Long, Seq[Double], String)].collect().toSeq
    val want = c.current().orderBy("id")
      .select("id", "vector", "metadata")
      .as[(Long, Seq[Double], String)].collect().toSeq
    assert(got == want)
    // a header-only dump (empty collection) is a legal state the
    // round-trip must be total over (review r19: the first cut threw
    // UNRESOLVED_COLUMN on import because no record line ever
    // contributed an `id` to the inferred schema)
    c.removeDocuments(Seq(1L, 3L))
    val f3 = f + ".empty"
    c.dumpFile(f3)
    val c3 = Collection.importDumpFile(spark, tempDir("imp-e").toString + "/c", f3)
    assert(c3.documentCount() == 0 && c3.options.quantization == 32)
  }

  test("updateMetadata keeps vector, swaps metadata") {
    val c = newCollection()
    c.addDocuments(docs3)
    c.updateMetadata(1L, """{"tag": "z"}""")
    val row = c.current().filter(col("id") === 1L)
      .select("metadata", "vector").as[(String, Seq[Double])].head()
    assert(row._1 == """{"tag": "z"}""")
    assert(row._2 == Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("exact knn search with DSL filter") {
    val c = newCollection()
    c.addDocuments(docs3)
    val got = c.search(SearchArgs(vector = Some(Seq(0.1, 0.0, 0.0, 0.0)),
        k = 2, precision = "exact", filter = Some("tag == 'a'")))
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(1L, 3L)) // id 2 filtered out despite being closer
  }

  test("radius search and exhaustive listing with pagination") {
    val c = newCollection()
    c.addDocuments(docs3)
    val near = c.search(SearchArgs(vector = Some(Seq(0.0, 0.0, 0.0, 0.0)),
        radius = 2.0, precision = "exact"))
      .select("id").as[Long].collect().toSeq.sorted
    assert(near == Seq(1L, 2L))
    // default (medium) radius probes LSH buckets: a SUBSET of exact,
    // every hit within the radius (reference collection.go:690)
    val medium = c.search(SearchArgs(vector = Some(Seq(0.0, 0.0, 0.0, 0.0)), radius = 2.0))
      .select("id").as[Long].collect().toSeq.sorted
    assert(medium.toSet.subsetOf(near.toSet))
    val page = c.search(SearchArgs(limit = 2, offset = 1))
      .select("id").as[Long].collect().toSeq
    assert(page == Seq(2L, 3L))
  }

  test("searchWithStats reports PercentSearched per search mode") {
    val c = newCollection()
    // enough spread that the 16 LSH buckets are not all one bucket
    val many = (0 until 64).map(i =>
      (i.toLong, Seq(math.sin(i * 1.7), math.cos(i * 2.3),
        math.sin(i * 0.9) - 0.5, math.cos(i * 1.1) - 0.5), "{}"))
    c.addDocuments(many.toDF("id", "vector", "metadata"))
    val qv = Some(Seq(1.0, 0.2, -0.3, 0.1))
    val exact = c.searchWithStats(SearchArgs(vector = qv, k = 3, precision = "exact"))
    assert(exact.percentSearched == 100.0)
    assert(exact.results.count() == 3)
    val medium = c.searchWithStats(SearchArgs(vector = qv, k = 3))
    assert(medium.percentSearched > 0.0 && medium.percentSearched < 100.0,
      s"medium search should touch a strict subset, got ${medium.percentSearched}%")
    val listing = c.searchWithStats(SearchArgs(limit = 5))
    assert(listing.percentSearched == 100.0)
  }

  test("addDocuments rejects a null vector or one of the wrong length, storing nothing") {
    val c = newCollection()
    c.addDocuments(docs3)
    val ok = (4L, Seq(1.0, 2.0, 3.0, 4.0), "{}")
    Seq[Seq[Double]](Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0, 4.0, 5.0), null).foreach { v =>
      val e = intercept[Exception](
        c.addDocuments(Seq(ok, (5L, v, "{}")).toDF("id", "vector", "metadata")))
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(messages.contains("record 5: vector must have 4 dimensions"), messages)
      // the whole batch failed: not even the valid record was stored
      assert(c.documentCount() == 3)
      assert(c.getAllIds() == Seq(1L, 2L, 3L))
    }
  }

  test("one-table medium search is exact search over locally computed reference buckets") {
    // the reference buckets and distances are plain loops over
    // AnnLsh.planes, independent of any bucketing expression
    val (dim, numPlanes, k) = (8, 4, 5)
    val planes = AnnLsh.planes(numPlanes, dim)
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def refBucket(v: Seq[Double]): Long =
      (0 until numPlanes).map(h => if (dot(v, planes(h).toSeq) > 0.0) 1L << h else 0L).sum
    def dist(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x - y }
      math.sqrt(dot(d, d))
    }
    val rng = new scala.util.Random(7)
    def gaussian(): Seq[Double] = Seq.fill(dim)(rng.nextGaussian())
    val records = (0L until 300L).map(i => i -> gaussian())
    val queries = Seq.fill(20)(gaussian())
    val bucket = records.map { case (i, v) => i -> refBucket(v) }.toMap
    val n = records.size.toDouble

    val c = Collection.create(spark, CollectionOptions("one", dimensionCount = dim,
      distanceMethod = Knn.Euclidean, lshPlanes = numPlanes), tempDir("onetable").toString + "/one")
    c.addDocuments(records.map { case (i, v) => (i, v, "{}") }.toDF("id", "vector", "metadata"))

    assert(c.current().select(col("id"), AnnLsh.bucketCol(col("vector"), numPlanes, dim))
      .as[(Long, Long)].collect().toMap == bucket)
    assert(queries.toDF("qvec").select(AnnLsh.bucketCol(col("qvec"), numPlanes, dim))
      .as[Long].collect().toSeq == queries.map(refBucket))

    queries.zipWithIndex.foreach { case (q, qi) =>
      val b = refBucket(q)
      // k-NN: exact top-k inside the query's bucket, ties by id
      val inBucket = records.filter { case (i, _) => bucket(i) == b }
      val want = inBucket.map { case (i, v) => (dist(q, v), i) }.sorted.take(k)
      val knn = c.searchWithStats(SearchArgs(vector = Some(q), k = k))
      val got = knn.results.select("id", "dist").as[(Long, Double)].collect().toSeq
      assert(got.map(_._1) == want.map(_._2), s"query $qi")
      got.zip(want).foreach { case ((_, d), (e, _)) => assert(math.abs(d - e) < 1e-9, s"query $qi") }
      assert(math.abs(knn.percentSearched - inBucket.size / n * 100.0) < 1e-9, s"query $qi")
      // radius: the bucket and its Hamming-1 neighbors, distance <= r;
      // r sits between two corpus distances, never on one
      val probed = (b +: (0 until numPlanes).map(h => b ^ (1L << h))).toSet
      val candidates = records.filter { case (i, _) => probed(bucket(i)) }
      val ds = records.map { case (_, v) => dist(q, v) }.sorted
      val r = (ds(30) + ds(31)) / 2
      val radius = c.searchWithStats(SearchArgs(vector = Some(q), radius = r))
      assert(radius.results.select("id").as[Long].collect().toSet ==
        candidates.collect { case (i, v) if dist(q, v) <= r => i }.toSet, s"query $qi")
      assert(math.abs(radius.percentSearched - candidates.size / n * 100.0) < 1e-9, s"query $qi")
    }
  }

  test("registry: list finds created collections, drop removes them (rest.go:67)") {
    val root = tempDir("registry").toString
    val c1 = Collection.create(spark, CollectionOptions("alpha", 4), s"$root/alpha")
    Collection.create(spark, CollectionOptions("beta", 4), s"$root/beta")
    c1.addDocuments(docs3)
    assert(Collection.list(spark, root).map(_._1) == Seq("alpha", "beta"))
    assert(Collection.drop(spark, s"$root/alpha"))
    assert(Collection.list(spark, root).map(_._1) == Seq("beta"))
    // dropped collection's data is gone, not just unlisted
    assert(Collection.open(spark, s"$root/beta").documentCount() == 0)
  }

  test("open() restores a created collection from persisted options") {
    val dir = new java.io.File(tempDir("open").toFile, "reopen-me")
    val c = Collection.create(spark,
      CollectionOptions("reopen-me", 4, Knn.Euclidean, quantization = 8),
      dir.getAbsolutePath)
    c.addDocuments(docs3)
    val reopened = Collection.open(spark, dir.getAbsolutePath)
    assert(reopened.options == c.options)
    assert(reopened.documentCount() == 3)
    val hit = reopened.search(SearchArgs(vector = Some(Seq(0.9, 0.0, 0.0, 0.0)),
        k = 1, precision = "exact"))
      .select("id").as[Long].head()
    assert(hit == 2L)
    // a sidecar written while multiprobe was an option: 1 opens as
    // before, any other value fails by name
    val sidecar = new java.io.File(dir.getAbsolutePath + ".options.json").toPath
    val json = new String(Files.readAllBytes(sidecar), "UTF-8")
    def withProbes(n: Int) = {
      Files.write(sidecar, json.replace("}", s""", "lshProbes": $n}""").getBytes("UTF-8"))
      // the checksum Hadoop wrote beside it no longer matches
      Files.deleteIfExists(sidecar.resolveSibling(s".${sidecar.getFileName}.crc"))
    }
    withProbes(1)
    assert(Collection.open(spark, dir.getAbsolutePath).options == c.options)
    withProbes(2)
    val e = intercept[IllegalArgumentException](Collection.open(spark, dir.getAbsolutePath))
    assert(e.getMessage.contains("lshProbes"), e.getMessage)
  }

  test("compact collapses the log and preserves the current view") {
    val c = newCollection()
    c.addDocuments(docs3)
    c.removeDocuments(Seq(2L))
    c.updateMetadata(1L, """{"tag": "z"}""")
    val before = c.current().orderBy(col("id"))
      .select("id", "metadata").as[(Long, String)].collect().toSeq
    c.compact()
    val after = c.current().orderBy(col("id"))
      .select("id", "metadata").as[(Long, String)].collect().toSeq
    assert(before == after)
    assert(c.getAllIds() == Seq(1L, 3L))
    // mutations keep working on the compacted log
    c.addDocuments(Seq((9L, Seq(1.0, 1.0, 1.0, 1.0), "{}")).toDF("id", "vector", "metadata"))
    assert(c.getAllIds() == Seq(1L, 3L, 9L))
  }

  test("precision medium searches the LSH forest when lshTables > 1") {
    val path = tempDir("forest").toString + "/forest"
    val c = Collection.create(spark,
      CollectionOptions("forest", dimensionCount = 4, distanceMethod = Knn.Cosine,
        lshPlanes = 3, lshTables = 6), path)
    // 40 deterministic unit-ish vectors around 4 directions
    val bases = Seq(Seq(1.0, 0.1, 0.0, 0.0), Seq(0.0, 1.0, 0.1, 0.0),
      Seq(0.0, 0.1, 1.0, 0.0), Seq(0.1, 0.0, 0.0, 1.0))
    val docs = (0L until 40L).map { i =>
      val base = bases(i.toInt % 4)
      (i, base.zipWithIndex.map { case (v, d) => v + 0.01 * ((i + d) % 5).toDouble },
        "{}")
    }.toDF("id", "vector", "metadata")
    c.addDocuments(docs)
    val q = docs.filter(col("id") === 0).select(col("vector"))
      .as[Seq[Double]].head()
    val res = c.searchWithStats(SearchArgs(vector = Some(q), k = 5))
    val ids = res.results.select("id").as[Long].collect().toSeq
    assert(ids.size == 5 && ids.head == 0L, s"self vector not nearest: $ids")
    assert(res.percentSearched > 0.0 && res.percentSearched <= 100.0)
    // persisted options round-trip the forest config
    val reopened = Collection.open(spark, path)
    assert(reopened.options.lshTables == 6 && reopened.options.lshPlanes == 3)
  }

  test("compact is crash-safe: no step leaves current() without data") {
    val path = tempDir("crash").toString + "/cr"
    val c = Collection.create(spark,
      CollectionOptions("cr", dimensionCount = 4, distanceMethod = Knn.Euclidean), path)
    c.addDocuments(docs3)
    c.removeDocuments(Seq(2L))
    assert(c.getAllIds() == Seq(1L, 3L))

    // crash A: a compaction died mid-write — a partial generation dir
    // exists without _SUCCESS. Readers must keep serving the old log.
    val partial = new java.io.File(path + ".gen1")
    partial.mkdirs()
    Files.write(new java.io.File(partial, "part-00000.parquet").toPath,
      "not a parquet file".getBytes("UTF-8"))
    assert(c.getAllIds() == Seq(1L, 3L), "partial generation leaked into reads")

    // retrying over the leftover partial dir succeeds; the original
    // log stays on disk as the ONE retained superseded generation
    // (the read-during-compact window, VERDICT r12 #8)
    c.compact()
    assert(c.getAllIds() == Seq(1L, 3L))
    assert(new java.io.File(path + ".gen1/_SUCCESS").exists())
    assert(new java.io.File(path).exists(),
      "previous generation must stay inside the retention window")

    // crash B: a later compaction completed a new generation but died
    // before deleting the old one — both complete, readers take newest
    c.addDocuments(Seq((9L, Seq(1.0, 1.0, 1.0, 1.0), "{}")).toDF("id", "vector", "metadata"))
    c.compact() // -> gen2; window keeps gen1, retires the bare log
    assert(c.getAllIds() == Seq(1L, 3L, 9L))
    assert(!new java.io.File(path).exists(),
      "bare log must fall out of the retention window")
    assert(new java.io.File(path + ".gen1").exists())
    // resurrect a STALE but complete gen1 (simulates delete-not-run)
    Seq((111L, Seq(0.0, 0.0, 0.0, 0.0), "{}", 0L, false))
      .toDF("id", "vector", "metadata", "version", "deleted")
      .write.mode("overwrite").parquet(path + ".gen1")
    assert(c.getAllIds() == Seq(1L, 3L, 9L), "stale lower generation shadowed the newest")
    // the next compaction keeps only the newest superseded generation
    c.compact() // -> gen3; window keeps gen2, retires gen1
    assert(c.getAllIds() == Seq(1L, 3L, 9L))
    assert(!new java.io.File(path + ".gen1").exists())
    assert(new java.io.File(path + ".gen2").exists())
    // retainGenerations = 0 reclaims everything immediately
    c.compact(retainGenerations = 0) // -> gen4
    assert(!new java.io.File(path + ".gen2").exists())
    assert(!new java.io.File(path + ".gen3").exists())
    assert(Collection.drop(spark, path))
    assert(!new java.io.File(path + ".gen4").exists(), "drop must delete generations")
  }

  test("a plan resolved before compact still reads after it (retention window)") {
    val c = newCollection()
    c.addDocuments(docs3)
    c.removeDocuments(Seq(2L))
    // resolve a plan against the CURRENT generation, then compact
    // twice-minus-one: one compaction must never invalidate it (the
    // reference serves reads across its rewrite via RWMutex,
    // collection.go; the parquet analogue is the retention window)
    val plan = c.current().select("id")
    c.compact()
    assert(plan.as[Long].collect().sorted.toSeq == Seq(1L, 3L),
      "reader plan over the pre-compact generation must survive one compact")
    // new reads resolve to the compacted generation and agree
    assert(c.getAllIds() == Seq(1L, 3L))
  }

  for ((side, heldBytes) <- bothPaths) {
    test(s"snapshot: reads with no write between them build the view once$side") {
      val c = newCollection(heldBytes = heldBytes)
      c.addDocuments(docs3)
      val first = jobsOf(assert(c.getAllIds() == Seq(1L, 2L, 3L)))
      val second = jobsOf(assert(c.getAllIds() == Seq(1L, 2L, 3L)))
      assert(builds(first) >= 1, s"first read built no view: $first")
      assert(builds(second) == 0, s"second read rebuilt the view: $second")
      assert(second.size < first.size)
      // the row count is memoized on the snapshot
      jobsOf(assert(c.documentCount() == 3))
      assert(jobsOf(assert(c.documentCount() == 3)).isEmpty)
      assert(jobsOf(assert(c.stats()._1 == 3)).isEmpty)
      // an exact search runs its own jobs only: no build, no count
      val q = SearchArgs(vector = Some(Seq(0.0, 0.0, 0.0, 0.0)), k = 2, precision = "exact")
      val exact = jobsOf(assert(c.searchWithStats(q).percentSearched == 100.0))
      assert(exact.isEmpty, s"percentSearched ran jobs: $exact")
    }

    test(s"snapshot: every kind of write is visible to the next read$side") {
      val (c, path) = newCollectionAt("inval", heldBytes)
      assert(c.documentCount() == 0 && c.getAllIds().isEmpty)
      c.addDocuments(docs3)
      assert(c.documentCount() == 3 && c.getAllIds() == Seq(1L, 2L, 3L))
      c.removeDocuments(Seq(2L))
      assert(c.documentCount() == 2 && c.getAllIds() == Seq(1L, 3L))
      c.updateMetadata(3L, """{"tag": "m"}""")
      assert(c.getDocument(3L).map(_._2).contains("""{"tag": "m"}"""))
      c.compact()
      assert(c.getAllIds() == Seq(1L, 3L))
      c.addDocuments(Seq((4L, Seq(1.0, 1.0, 1.0, 1.0), "{}")).toDF("id", "vector", "metadata"))
      assert(c.getAllIds() == Seq(1L, 3L, 4L))
      // a second instance on the same path writes; the first one sees it
      Collection.open(spark, path)
        .addDocuments(Seq((5L, Seq(2.0, 2.0, 2.0, 2.0), "{}")).toDF("id", "vector", "metadata"))
      assert(c.documentCount() == 4 && c.getAllIds() == Seq(1L, 3L, 4L, 5L))
      val hits = c.search(SearchArgs(vector = Some(Seq(2.0, 2.0, 2.0, 2.0)), k = 1,
        precision = "exact")).select("id").as[Long].collect().toSeq
      assert(hits == Seq(5L))
    }
  }

  test("a parquet file that no commit names is never read") {
    val (c, path) = newCollectionAt("unnamed")
    c.addDocuments(docs3)
    // a file in the data directory that no commit names, as a writer
    // that died before its commit leaves it, with a version above
    // every commit: a newer row for id 1 and a new id 7
    val src = tempDir("stray").toString + "/out"
    Seq((1L, Seq(9.0, 9.0, 9.0, 9.0), """{"tag": "stray"}""", 99L, false),
        (7L, Seq(7.0, 7.0, 7.0, 7.0), """{"tag": "stray"}""", 99L, false))
      .toDF("id", "vector", "metadata", "version", "deleted").coalesce(1).write.parquet(src)
    val file = new java.io.File(src).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(file.toPath, new java.io.File(path, "part-stray.parquet").toPath)
    assert(c.getAllIds() == Seq(1L, 2L, 3L))
    assert(c.getDocument(1L).map(_._2).contains("""{"tag": "a"}"""))
    // nor by an instance opened after it landed, nor after a write
    val other = Collection.open(spark, path)
    assert(other.getAllIds() == Seq(1L, 2L, 3L))
    assert(other.updateMetadata(2L, """{"tag": "w"}"""))
    assert(c.getAllIds() == Seq(1L, 2L, 3L))
    assert(c.getDocument(2L).map(_._2).contains("""{"tag": "w"}"""))
  }

  test("snapshot: superseded snapshots are reclaimed without unpersist") {
    val c = newCollection(heldBytes = 0L)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    (0 until 20).foreach { i =>
      c.addDocuments(Seq((i.toLong, Seq(i.toDouble, 0.0, 0.0, 0.0), "{}"))
        .toDF("id", "vector", "metadata"))
      assert(c.documentCount() == i + 1)
    }
    def held = sc.getPersistentRDDs.keySet.diff(before).size
    assert(held > 0)
    val deadline = System.nanoTime() + 60000000000L
    while (held > 2 && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(held <= 2, s"$held snapshots still persisted after 20 writes")
    assert(c.getAllIds() == (0L until 20L))
  }

  test("snapshot: superseded held snapshots are reclaimed by the GC; results outlive them") {
    val c = newCollection()
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    def add(i: Int) = {
      c.addDocuments(Seq((i.toLong, Seq(i.toDouble, 0.0, 0.0, 0.0), "{}"))
        .toDF("id", "vector", "metadata"))
      assert(c.documentCount() == i + 1)
    }
    // a weak reference to a row of each snapshot's held view, which
    // `current()` shares: the collection keeps no superseded snapshot
    val rows = (0 until 20).map { i =>
      add(i)
      val held = c.current().queryExecution.analyzed.collectFirst { case l: LocalRelation => l.data.head }
      new java.lang.ref.WeakReference(held.get)
    }
    def live = rows.count(_.get != null)
    val deadline = System.nanoTime() + 60000000000L
    while (live > 1 && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(live <= 1, s"$live held snapshots still reachable after 20 writes")
    assert(sc.getPersistentRDDs.keySet == persisted, "a held snapshot persisted an RDD")
    // a plan over a result still reads after its snapshot is superseded
    val plans = (20 until 30).map { i =>
      add(i)
      c.search(SearchArgs(limit = 100)).select("id")
    }
    c.compact()
    plans.zipWithIndex.foreach { case (p, i) => assert(p.as[Long].collect().toSeq == (0L to 20L + i)) }
    assert(c.getAllIds() == (0L until 30L))
  }

  /** Two writers and four readers on `instances` of one collection
    * (writer w and reader r use instance w and r modulo their count).
    * Every read must see the initial ids plus whole batches. Returns
    * the initial ids and the batches. */
  private def writersAndReaders(instances: Seq[Collection]): (Set[Long], Seq[Set[Long]]) = {
    def on(i: Int) = instances(i % instances.size)
    val initial = (0L until 20L).toSet
    def batch(w: Int, b: Int): Seq[Long] = (0 until 10).map(i => 1000L + 100 * w + 10 * b + i)
    // four partitions, so four files per batch; partition p finishes
    // 40*p ms late, so they do not land at one instant
    def frame(ids: Seq[Long]) =
      spark.createDataFrame(spark.sparkContext.parallelize(
          ids.map(i => (i, Seq(i.toDouble, 1.0, 0.0, 0.0), "{}")), 4)
        .mapPartitionsWithIndex { (p, rows) => Thread.sleep(40L * p); rows })
        .toDF("id", "vector", "metadata")
    on(0).addDocuments(frame(initial.toSeq))
    val batches = for (w <- 0 until 2; b <- 0 until 8) yield batch(w, b).toSet
    val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def check(what: String, ids: Set[Long]): Unit = {
      val rest = ids -- initial
      val whole = batches.filter(_.subsetOf(rest))
      if (!initial.subsetOf(ids) || whole.flatten.toSet != rest)
        problems.add(s"$what saw ${ids.size} ids, not the initial ones plus whole batches")
    }
    @volatile var writing = true
    val writers = (0 until 2).map { w =>
      new Thread(() => (0 until 8).foreach(b => on(w).addDocuments(frame(batch(w, b)))))
    }
    val readers = (0 until 4).map { r =>
      val c = on(r)
      new Thread(() => {
        var rounds = 0
        try while (writing || rounds == 0) {
          val n = c.documentCount()
          if ((n - initial.size) % 10 != 0) problems.add(s"documentCount $n")
          check("getAllIds", c.getAllIds().toSet)
          val view = c.current()
          val ids = view.select("id").as[Long].collect().toSet
          check("current", ids)
          if (view.count() != ids.size) problems.add(s"count != ids of one snapshot")
          check("search", c.search(SearchArgs(vector = Some(Seq(0.0, 0.0, 0.0, 0.0)),
            k = 1000, precision = "exact")).select("id").as[Long].collect().toSet)
          rounds += 1
        } catch { case e: Exception => problems.add(s"reader $r failed: $e") }
      })
    }
    // the v2 committer moves each task's file into place as the task
    // commits, so a batch's files land over the whole write job
    withSQLConf("mapreduce.fileoutputcommitter.algorithm.version" -> "2") {
      (writers ++ readers).foreach(_.start())
      writers.foreach(_.join())
      writing = false
      readers.foreach(_.join())
    }
    assert(problems.isEmpty, problems.asScala.take(5).mkString("; "))
    val all = initial ++ batches.flatten
    instances.foreach(c => assert(c.getAllIds().toSet == all && c.documentCount() == all.size))
    (initial, batches)
  }

  test("concurrent writers and readers: every read sees whole batches") {
    writersAndReaders(Seq(newCollection()))
  }

  test("two instances on one path: whole batches, distinct versions") {
    val (c, path) = newCollectionAt("two")
    val (initial, batches) = writersAndReaders(Seq(c, Collection.open(spark, path)))
    // every batch landed once, at a version no other batch has
    val byVersion = spark.read.parquet(parquetFiles(path).map(_._1).toSeq: _*)
      .groupBy("version").agg(collect_set("id")).as[(Long, Seq[Long])].collect()
    assert(byVersion.map(_._2.toSet).toSet == batches.toSet + initial, byVersion.toSeq)
    assert(byVersion.length == batches.size + 1)
  }

  test("publishing one commit number: exactly one writer wins") {
    val (c, path) = newCollectionAt("publish")
    (0L until 200L).foreach { v =>
      val start = new java.util.concurrent.CyclicBarrier(2)
      val won = new Array[Boolean](2)
      val writers = (0 until 2).map(w => new Thread(() => {
        start.await()
        won(w) = c.publish(Collection.Commit(v, None, Seq(s"writer-$w")))
      }))
      writers.foreach(_.start())
      writers.foreach(_.join())
      assert(won.count(identity) == 1, s"commit $v: ${won.toSeq}")
      // the commit is the winner's, whole
      assert(commitAt(path, v).files == Seq(s"writer-${won.indexOf(true)}"))
    }
  }

  test("a log without commits is adopted once; the next write wins") {
    val path = tempDir("adopt").toString + "/coll"
    Collection.create(spark,
      CollectionOptions("adopt", dimensionCount = 4, distanceMethod = Knn.Euclidean), path)
    def rows(rs: (Long, String, Long, Boolean)*) =
      rs.map { case (i, m, v, d) => (i, Seq(i.toDouble, 0.0, 0.0, 0.0), m, v, d) }
        .toDF("id", "vector", "metadata", "version", "deleted")
    // the layout written before the commit log: appends into one
    // directory per generation, the live one the highest with a
    // _SUCCESS marker; footer statistics off, so only an aggregate
    // can tell the max version
    withSQLConf("parquet.column.statistics.enabled" -> "false") {
      rows((1L, "bare", 0L, false), (8L, "bare", 0L, false)).write.parquet(path)
      rows((1L, """{"v": 0}""", 0L, false), (2L, "{}", 0L, false), (3L, "{}", 0L, false))
        .write.parquet(s"$path.gen1")
      rows((1L, """{"v": 5}""", 5L, false), (3L, null, 5L, true))
        .write.mode("append").parquet(s"$path.gen1")
      // a compaction that died before its marker
      rows((9L, "partial", 0L, false)).write.parquet(s"$path.gen2")
      assert(new java.io.File(s"$path.gen2/_SUCCESS").delete())
    }
    val c = Collection.open(spark, path)
    assert(c.getAllIds() == Seq(1L, 2L))
    assert(c.getDocument(1L).map(_._2).contains("""{"v": 5}"""))
    // one commit, numbered from the max version, names .gen1's files
    assert(commitsAt(path) == Seq(5L))
    assert(commitAt(path, 5L).generation.contains(1))
    assert(commitAt(path, 5L).files.size == parquetFiles(s"$path.gen1").size)
    assert(c.generations == Seq(1))
    // the next write wins, and an instance opened later does not adopt again
    assert(c.updateMetadata(1L, """{"v": 6}"""))
    val other = Collection.open(spark, path)
    assert(other.getDocument(1L).map(_._2).contains("""{"v": 6}"""))
    assert(commitsAt(path) == Seq(5L, 6L) && versionsOf(path, 6L) == Set(6L))
    // compaction goes on from the adopted generation: .gen2 replaces
    // the partial directory, and the bare log leaves the window
    c.compact()
    assert(c.generations == Seq(1, 2) && other.getAllIds() == Seq(1L, 2L))
    assert(!new java.io.File(path).exists())
  }

  test("snapshot: the first count after a write runs one job besides the build") {
    val c = newCollection(heldBytes = 0L)
    def add(id: Long) =
      c.addDocuments(Seq((id, Seq(id.toDouble, 0.0, 0.0, 0.0), "{}")).toDF("id", "vector", "metadata"))
    add(1L)
    val build = jobsOf(c.current())
    assert(builds(build) >= 1, s"current() built no view: $build")
    val count = jobsOf(assert(c.documentCount() == 1))
    assert(count.size == 1, s"counting a built view ran ${count.size} jobs: $count")
    // a build of the same shape, then the count
    add(2L)
    val both = jobsOf(assert(c.documentCount() == 2))
    assert(both.size == build.size + 1, s"build: $build; build and count: $both")
  }

  test("a snapshot build names all its jobs' stages and restores the caller's call site") {
    val c = newCollection(heldBytes = 0L)
    c.addDocuments(docs3)
    val read = jobsOf(assert(c.documentCount() == 3))
    // AQE's shuffle-map job runs on another thread; unlabelled, its
    // stage is named after that thread's frame
    assert(!read.flatMap(_.stages).exists(_.contains("withThreadLocalCaptured")), s"$read")
    // every job but the count is the build's, and names its stages
    assert(builds(read) == read.size - 1, s"$read")
    assert(buildStagesNot("localCheckpoint", read) == 0, s"$read")
    c.removeDocuments(Seq(3L))
    val sc = spark.sparkContext
    sc.setCallSite("caller site")
    try {
      assert(c.documentCount() == 2)
      assert(sc.getLocalProperty("callSite.short") == "caller site")
    } finally sc.clearCallSite()
  }

  test("a held snapshot build names all its jobs' stages") {
    val c = newCollection()
    c.addDocuments(docs3)
    val read = jobsOf(assert(c.documentCount() == 3))
    assert(!read.flatMap(_.stages).exists(_.contains("withThreadLocalCaptured")), s"$read")
    // every job is the build's: the count is the held row count
    assert(read.nonEmpty && builds(read) == read.size, s"$read")
    assert(buildStagesNot("executeCollect", read) == 0, s"$read")
  }

  test("empty writes append nothing and keep the snapshot") {
    val (c, path) = newCollectionAt("empty")
    c.addDocuments(docs3)
    assert(c.getAllIds() == Seq(1L, 2L, 3L))
    val files = parquetFiles(path)
    val empties = Seq[(String, () => Unit)](
      "removeDocuments(Nil)" -> (() => c.removeDocuments(Nil)),
      "addDocuments of no local rows" -> (() => c.addDocuments(
        Seq.empty[(Long, Seq[Double], String)].toDF("id", "vector", "metadata"))),
      "updateMetadata of an absent id" -> (() => assert(!c.updateMetadata(99L, """{"tag": "z"}"""))))
    empties.foreach { case (what, write) =>
      write()
      assert(commitsAt(path) == Seq(0L), s"$what committed")
      assert(parquetFiles(path) == files, s"$what wrote a file")
      val read = jobsOf(assert(c.getAllIds() == Seq(1L, 2L, 3L)))
      assert(builds(read) == 0, s"the read after $what rebuilt the view: $read")
    }
    // the next write is commit 1, right after the first batch's 0
    c.removeDocuments(Seq(2L))
    assert(commitsAt(path) == Seq(0L, 1L) && versionsOf(path, 1L) == Set(1L))
    assert(c.getAllIds() == Seq(1L, 3L))
  }

  test("a driver-held write lands as one parquet file; a distributed frame keeps its partitions") {
    val (c, path) = newCollectionAt("onefile")
    def rows(from: Int) =
      (from until from + 10).map(i => (i.toLong, Seq(i.toDouble, 0.0, 0.0, 0.0), "{}"))
    /** The files of the one commit `write` adds. */
    def added(write: => Unit): Int = {
      val before = commitsAt(path)
      write
      val now = commitsAt(path)
      assert(now.init == before)
      commitAt(path, now.last).files.size
    }
    assert(added(c.addDocuments(rows(0).toDF("id", "vector", "metadata"))) == 1)
    assert(added(c.removeDocuments(Seq(3L))) == 1)
    assert(added(c.removeDocuments(Seq(5L, 6L, 7L))) == 1)
    assert(added(c.updateMetadata(4L, """{"tag": "u"}""")) == 1)
    assert(added(c.addDocuments(spark.createDataFrame(
      spark.sparkContext.parallelize(rows(10), 4)).toDF("id", "vector", "metadata"))) == 4)
    assert(c.getAllIds() == (0L until 20L).filterNot(Set(3L, 5L, 6L, 7L)))
    assert(c.getDocument(4L).map(_._2).contains("""{"tag": "u"}"""))
  }

  test("the next write wins after a second instance and a compaction") {
    val (c, path) = newCollectionAt("versions")
    def meta(id: Long) = c.getDocument(id).map(_._2)
    c.addDocuments(docs3)
    c.updateMetadata(1L, """{"v": 1}""")
    // an append through a second instance on the same path
    Collection.open(spark, path).updateMetadata(1L, """{"v": "other"}""")
    c.updateMetadata(1L, """{"v": 3}""")
    assert(meta(1L).contains("""{"v": 3}"""))
    // a compaction: its base commit, then the next write
    c.compact()
    c.updateMetadata(2L, """{"v": "compacted"}""")
    assert(meta(2L).contains("""{"v": "compacted"}"""))
    // every batch's version is its commit number
    assert(commitsAt(path) == (0L to 5L) && commitAt(path, 4L).generation.contains(1))
    commitsAt(path).foreach(v => assert(versionsOf(path, v) == Set(v), s"commit $v"))
  }

  test("lossy quantization stores dequantized grid values (ref quantization.go)") {
    val c = newCollection(quantization = 8)
    c.addDocuments(Seq((1L, Seq(0.5, -0.25, 0.1, 0.77), "{}")).toDF("id", "vector", "metadata"))
    val v = c.current().select("vector").as[Seq[Double]].head()
    v.zip(Seq(0.5, -0.25, 0.1, 0.77)).foreach { case (q, orig) =>
      assert(math.abs(q - orig) <= 1.0 / 255 + 1e-9)
    }
    val (n, dims, bytes) = c.stats()
    assert(n == 1 && dims == 4 && bytes == 4)
  }
}
