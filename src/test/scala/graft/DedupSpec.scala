package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Embed, Eval}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"),    // near dup of 1
    (4L, "completely different words appear in this one here"),
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exactGroups finds exact duplicates with min-id canonical") {
    val groups = Dedup.exactGroups(docs, "text", "doc_id")
      .filter(col("dup_count") > 1)
      .select("canonical_id", "dup_count").as[(Long, Long)].collect().toSeq
    assert(groups == Seq((1L, 2L)))
    assert(Dedup.exactDedup(docs, "text", "doc_id").count() == 4)
  }

  test("shingles builds word n-grams; short docs yield none") {
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).head == "the quick brown" && sh(1L).size == 7)
    assert(sh(5L).isEmpty)
  }

  test("minhashPairs finds exact and near duplicates, skips unrelated") {
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id", 16, 4, 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("paragraphDedup keeps the globally earliest copy of each chunk only") {
    val corpus = Seq(
      (1L, "a b c d a b c d"), // chunk "a b" and "c d" repeat in-doc
      (2L, "a b c d x y"),     // repeats doc 1's chunks, adds "x y"
      (3L, "x y")              // repeats doc 2's tail chunk
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(corpus, "text", "doc_id", chunkWords = 2)
      .select("doc_id", "n_chunks", "n_dropped", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 4L, 2L, "a b c d"))) // in-doc repeats drop
    assert(out(2L) == ((2L, 3L, 2L, "x y")))     // cross-doc copies drop
    assert(out(3L) == ((3L, 1L, 1L, "")))        // all-dup doc survives, empty
    assert(out.size == 3)
    // NULL text yields one empty chunk; first NULL/empty doc keeps it
    val withNull = Seq((10L, null: String), (11L, null: String)).toDF("doc_id", "text")
    val nOut = Dedup.paragraphDedup(withNull, "text", "doc_id", 2)
      .select("doc_id", "n_dropped").as[(Long, Long)].collect().toMap
    assert(nOut == Map(10L -> 0L, 11L -> 1L))
  }

  test("simhash: identical docs get identical hashes, hamming 0") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 8)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 0)
  }

  test("pairQuality normalizes orientation and reports exact tp/fp/fn ratios") {
    import graft.operators.Eval
    val predicted = Seq((1L, 2L), (3L, 4L), (4L, 3L)).toDF("id_a", "id_b") // dup + flipped
    val truth = Seq((2L, 1L), (5L, 6L)).toDF("id_a", "id_b")               // (1,2) flipped
    val r = Eval.pairQuality(predicted, truth)
      .select("tp", "fp", "fn", "precision", "recall", "f1")
      .as[(Long, Long, Long, Double, Double, Double)].head()
    // predicted normalizes to {(1,2),(3,4)}, truth to {(1,2),(5,6)}
    assert(r == ((1L, 1L, 1L, 0.5, 0.5, 0.5)))
    // empty prediction: all ratios 0, never NaN
    val empty = Eval.pairQuality(predicted.limit(0), truth)
      .select("precision", "recall", "f1").as[(Double, Double, Double)].head()
    assert(empty == ((0.0, 0.0, 0.0)))
  }

  test("containmentPairs flags subset docs that Jaccard misses") {
    val big = ((1 to 40).map(i => s"w$i")).mkString(" ")
    val corpus = Seq(
      (1L, big),                                     // 40-word source
      (2L, (5 to 12).map(i => s"w$i").mkString(" ")), // excerpt of 1
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")         // unrelated
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(corpus, "text", "doc_id",
        n = 3, threshold = 0.8)
      .select("id_a", "id_b", "containment", "jaccard")
      .as[(Long, Long, Double, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    val (_, _, c, j) = pairs.head
    // all 6 excerpt shingles appear in the source: containment 1.0,
    // while Jaccard = 6/38 would never clear a dedup threshold
    assert(c == 1.0 && j < 0.2)
    // symmetric Jaccard at the same threshold sees nothing
    assert(Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
      n = 3, threshold = 0.8).count() == 0)
  }

  test("ngramJaccardPairs ranks exact above near dup") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.3, 100)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.3 && pairs((1L, 3L)) < 1.0)
  }

  test("embeddingPairs only compares within buckets and respects tau") {
    val vecs = Seq(
      (1L, Array(1.0, 0.0), 0),
      (2L, Array(0.999, 0.01), 0),  // same bucket, near-identical
      (3L, Array(0.0, 1.0), 0),     // same bucket, orthogonal
      (4L, Array(1.0, 0.0), 1)      // identical to 1 but other bucket
    ).toDF("id", "vec", "bucket")
    val pairs = Dedup.embeddingPairs(vecs, "vec", "id", col("bucket"), 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("canonicalNearDup collapses exact copies before the near-dup stage") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),  // exact copy of 1
      (5L, "the quick brown fox jumps over the lazy dog"),  // exact copy of 1
      (3L, "the quick brown fox jumps over the lazy cat"),  // near-dup of 1
      (4L, "completely unrelated text goes right here now")
    ).toDF("doc_id", "text")
    val (membership, pairs) = Dedup.canonicalNearDup(corpus, "text", "doc_id")(
      canon => Dedup.ngramJaccardPairs(canon, "text", "doc_id", n = 3, threshold = 0.5))
    val m = membership.as[(Long, Long)].collect().toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 3L -> 3L, 4L -> 4L))
    val p = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // ONE canonical pair, not the 3x3 copy blowup
    assert(p == Set((1L, 3L)))
  }

  test("decontaminate flags docs sharing >= minHits shingles with the benchmark") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // heavy overlap
      (2L, "the quick brown cat sits still"),              // 1 shared shingle
      (3L, "completely different words entirely here now") // clean
    ).toDF("doc_id", "text")
    val bench = Seq(
      Tuple1("the quick brown fox jumps over a fence")
    ).toDF("text")
    val byId = Dedup.decontaminate(corpus, "text", "doc_id", bench, "text",
        n = 3, minHits = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // doc 1 shares "the quick brown", "quick brown fox", "fox jumps over"...
    assert(byId(1L)._1 >= 2 && byId(1L)._2)
    assert(byId(2L)._1 == 1 && !byId(2L)._2)
    assert(byId(3L)._1 == 0 && !byId(3L)._2)
    assert(byId.size == 3) // every corpus doc present, clean ones included
  }

  test("decontaminateBloom: superset of exact hits, deterministic, NULL text survives") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown cat sits still"),
      (3L, "completely different words entirely here now"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val bench = Seq(
      Tuple1("the quick brown fox jumps over a fence")
    ).toDF("text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.decontaminateBloom(df, "text", "doc_id", bench, "text",
          n = 3, minHits = 2, mBits = 1 << 16)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val bloom = run(corpus)
    val exact = Dedup.decontaminate(corpus, "text", "doc_id", bench, "text",
        n = 3, minHits = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // no false negatives: every exact gram hit is a bloom hit
    exact.foreach { case (id, hits) =>
      assert(bloom(id)._1 >= hits, s"doc $id: bloom ${bloom(id)._1} < exact $hits") }
    assert(bloom(1L)._2 && bloom(1L)._1 >= 2)
    assert(bloom(4L) == ((0L, false)), "NULL text must report 0 hits and survive")
    assert(bloom.size == 4)
    // pure function of the inputs: partitioning cannot move a verdict
    assert(run(corpus.repartition(7)) == bloom)
  }

  test("decontaminateBloom corpus side never shuffles (bitmap broadcast only)") {
    val corpus = (0L until 200L).map(i => (i, s"doc $i body word${i % 9} tail"))
      .toDF("doc_id", "text")
    val bench = Seq(Tuple1("doc 3 body word3 tail")).toDF("text")
    val df = Dedup.decontaminateBloom(corpus, "text", "doc_id", bench, "text",
      n = 2, minHits = 1, mBits = 1 << 16)
    // planning-pass plan (before AQE appends a final-plan section)
    val plan = df.queryExecution.executedPlan.toString
    // the only exchanges live in the bitmap build (bit_or keyed agg +
    // the single-row roll-up); the corpus reaches its verdicts without
    // exchanging any rows, and nothing sort-merge-joins
    assert(!plan.contains("SortMergeJoin"), plan)
    val nEx = "ShuffleExchange|Exchange hashpartitioning|Exchange SinglePartition".r
      .findAllIn(plan).length
    assert(nEx <= 3, s"expected only bitmap-build exchanges, got $nEx:\n$plan")
  }

  test("decontaminateNear flags edited benchmark copies, skips unrelated docs") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val bench = Seq((100L, base),
      (101L, "one two three four five six seven eight nine ten")).toDF("bid", "btext")
    val corpus = Seq(
      (1L, base + " extra"),                        // edited copy -> flagged
      (2L, "completely different words here okay"), // unrelated
      (3L, base)                                    // verbatim copy -> flagged
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminateNear(corpus, "text", "doc_id",
        bench, "btext", "bid", numHashes = 16, bands = 4, shingleN = 3,
        minJaccard = 0.5)
      .select("doc_id", "bench_id", "jaccard")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(1L, 3L))
    assert(got(1L)._1 == 100L && got(1L)._2 > 0.8 && got(1L)._2 < 1.0)
    assert(got(3L) == ((100L, 1.0)))
  }

  test("connectedComponents clusters pairs by min id, converges on chains") {
    // chain 1-2-3-4 (diameter 3), clique 20-21-22, isolated pair 10-11
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // the distributed loop (forced via localThreshold = 0) reaches the
    // same fixpoint as the driver union-find fast path
    val dist = Dedup.connectedComponents(pairs, localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(dist == got)
    // maxIters caps the distributed propagation: one round = one
    // neighbor-min hop plus one pointer jump, so node 4 of the chain
    // reaches 2, not 1 (the fast path always converges fully)
    val capped = Dedup.connectedComponents(pairs, maxIters = 1, localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(capped(4L) == 2L)
  }

  test("forest-blocked embedding pairs recover single-bucket misses") {
    import graft.operators.AnnLsh
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val vd = col("embedding").cast("array<double>")
    val perturbed = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 10000).as("vec_id"),
        concat(array(element_at(vd, 1) + 0.1), slice(vd, 2, 63)).as("embedding"))
    val corpus = emb.select(col("vec_id"), vd.as("embedding")).unionByName(perturbed)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val single = pairsOf(Dedup.embeddingPairs(corpus, "embedding", "vec_id",
      AnnLsh.bucketCol(col("embedding"), numPlanes = 4, dim = 64), 0.99))
    val forest = pairsOf(Dedup.embeddingPairsForest(corpus, "embedding", "vec_id",
      numTables = 4, bitsPerTable = 4, dim = 64, tau = 0.99))
    // table 0 of the forest IS the single-table blocking (same planes),
    // so the forest can only add candidates — and on this corpus the
    // single bucket demonstrably drops true pairs that straddle a plane
    assert(single.subsetOf(forest), s"forest lost pairs: ${single -- forest}")
    assert(forest.size > single.size,
      s"forest found no extra pairs (single=${single.size}, forest=${forest.size})")
    // every forest pair really is a near-dup
    val cosines = Dedup.embeddingPairsForest(corpus, "embedding", "vec_id",
        4, 4, 64, 0.99).select("cos").as[Double].collect()
    assert(cosines.forall(_ >= 0.99))
  }

  test("incrementalNearDup: corpus match wins, delta closure labels the rest") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again"),
      (2L, "completely different words appear in this one here today now"),
      (3L, "short text")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (101L, "the quick brown fox jumps over the lazy dog tonight again"), // = corpus 1
      (102L, "the quick brown fox jumps over the lazy dog tonight"),       // near-dup of 1
      (103L, "violets are red roses are blue and this text is novel prose"),
      (104L, "violets are red roses are blue and this text is novel"),     // near-dup of 103
      (105L, "nothing here resembles anything else at all in any way")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDup(corpus, delta, "text", "doc_id")
      .select("doc_id", "verdict", "canonical_id")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(101L) == (("dup_corpus", 1L)))
    assert(got(102L) == (("dup_corpus", 1L)))
    assert(got(103L) == (("kept", 103L)))      // component keeper = min id
    assert(got(104L) == (("dup_delta", 103L)))
    assert(got(105L) == (("kept", 105L)))
    // emitted jaccard: exact copy of corpus doc -> 1.0; non-matches NULL
    val jac = Dedup.incrementalNearDup(corpus, delta, "text", "doc_id")
      .select("doc_id", "jaccard").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(jac(101L).contains(1.0) && jac(103L).isEmpty && jac(104L).isEmpty)
  }

  test("incrementalNearDupIndexed matches the in-memory path, corpus text unread") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again"),
      (2L, "completely different words appear in this one here today now")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (101L, "the quick brown fox jumps over the lazy dog tonight"),
      (102L, "violets are red roses are blue and this text is novel prose")
    ).toDF("doc_id", "text")
    val dir = tempDir("graft-mhidx").toFile.getAbsolutePath
    Dedup.writeMinhashIndex(corpus, "text", "doc_id", s"$dir/idx")
    val mem = Dedup.incrementalNearDup(corpus, delta, "text", "doc_id")
      .as[(Long, String, Long, Option[Double])].collect().toSet
    val idx = Dedup.incrementalNearDupIndexed(spark, s"$dir/idx", delta, "text", "doc_id")
      .as[(Long, String, Long, Option[Double])].collect().toSet
    assert(mem == idx)
    assert(mem.map(_._1) == Set(101L, 102L))
  }

  test("connectedComponents reliable-checkpoint mode matches local mode") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val ckDir = tempDir("graft-ck").toFile.getAbsolutePath
    // reliable checkpoints (df.checkpoint to a shared dir) survive
    // executor loss on a real cluster; results must be identical.
    // localThreshold = 0 forces the distributed loop — the fast path
    // never checkpoints
    val reliable = Dedup.connectedComponents(pairs,
        checkpointDir = Some(ckDir), localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(local == reliable)
    assert(new java.io.File(ckDir).listFiles().nonEmpty,
      "reliable mode wrote no checkpoint data")
  }

  test("embedWithCache serves repeats from the cache and matches embedDense") {
    val dir = tempDir("graft-ecache").toFile.getAbsolutePath
    val batch1 = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon")).toDF("doc_id", "text")
    val r1 = Embed.embedWithCache(spark, batch1, "text", "doc_id", 8, s"$dir/cache")
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Double](1), r.getBoolean(2)))).toMap
    assert(r1.values.forall(!_._2)) // cold cache: all computed
    // second batch: one repeat text (new id), one new text
    val batch2 = Seq((3L, "alpha beta gamma"), (4L, "zeta eta")).toDF("doc_id", "text")
    val r2 = Embed.embedWithCache(spark, batch2, "text", "doc_id", 8, s"$dir/cache")
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Double](1), r.getBoolean(2)))).toMap
    assert(r2(3L)._2 && !r2(4L)._2)
    // cached result is bit-identical to a fresh embedDense
    val fresh = Embed.embedDense(batch2, "text", "doc_id", 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(r2(3L)._1 == fresh(3L) && r2(4L)._1 == fresh(4L))
    assert(r1(1L)._1 == r2(3L)._1) // same text, same vector across runs
  }

  test("embedWithCache runs the embedder once: serve path reads cache, no re-embed") {
    val dir = tempDir("graft-ecache1").toFile.getAbsolutePath
    val batch = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon")).toDF("doc_id", "text")
    val res = Embed.embedWithCache(spark, batch, "text", "doc_id", 8, s"$dir/cache")
    // the embedder is the graft_hash_embed expression; the RETURNED
    // plan must not contain it — misses are joined back from the
    // parquet rows the append wrote, so consuming the result cannot
    // re-run the expensive embed stage (the operator's whole reason
    // to exist). The analyzed plan is searched: the optimizer folds
    // the expression over a local batch into a LocalRelation.
    def analyzed(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.toString
    assert(!analyzed(res).contains("graft_hash_embed"),
      s"embedder re-runs on the serve path:\n${analyzed(res)}")
    assert(analyzed(Embed.embedDense(batch, "text", "doc_id", 8)).contains("graft_hash_embed"))
    val plan = res.queryExecution.optimizedPlan.toString
    assert(plan.toLowerCase.contains("parquet"), s"serve path does not read the cache:\n$plan")
    // and the served values are still bit-identical to a fresh embed
    val got = res.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val fresh = Embed.embedDense(batch, "text", "doc_id", 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got == fresh)
  }

  test("corrupted cache file surfaces an error, not a silent full recompute") {
    val dir = tempDir("graft-ecache2").toFile
    val cacheDir = new java.io.File(dir, "cache")
    cacheDir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(cacheDir, "part-00000.parquet").toPath,
      "this is not a parquet file".getBytes("UTF-8"))
    val batch = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    // only a MISSING path means "empty cache"; a present-but-unreadable
    // cache is corruption and must fail loudly
    intercept[Exception] {
      Embed.embedWithCache(spark, batch, "text", "doc_id", 8,
        cacheDir.getAbsolutePath).collect()
    }
  }

  test("embedDense produces L2-normalized vectors of the right dim") {
    val dense = Embed.embedDense(docs, "text", "doc_id", 8)
    val row = dense.filter(col("doc_id") === 1).select("embedding")
      .as[Seq[Double]].head()
    assert(row.size == 8)
    assert(math.abs(math.sqrt(row.map(x => x * x).sum) - 1.0) < 1e-9)
  }

  test("pipeline_curate composition holds every stage's invariant end to end") {
    val out = SparkEntry.queries("pipeline_curate")(spark, sf0001)
      .as[(Long, Long, String)].collect()
    assert(out.nonEmpty)
    // ids unique (nothing duplicated by the stage joins)
    assert(out.map(_._1).distinct.length == out.length)
    // survivors: no two share identical text (exact dedup held) and
    // none is a verbatim src0 benchmark doc (decontamination held)
    val ids = out.map(_._1).toSet
    val corpusTexts = graft.core.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)].collect()
    val byId = corpusTexts.map(r => r._1 -> r._2).toMap
    val srcTexts = ids.toSeq.flatMap(byId.get)
    assert(srcTexts.distinct.length == srcTexts.length)
    val benchIds = corpusTexts.filter(_._3 == "src0").map(_._1).toSet
    assert(ids.intersect(benchIds).isEmpty, "verbatim benchmark docs survived")
    // the split respects near-dup clusters among survivors: recompute
    // pairs over the survivor texts, assert no pair straddles
    val cleanDf = corpusTexts.filter(r => ids.contains(r._1))
      .map(r => (r._1, r._2)).toSeq.toDF("doc_id", "text")
    val side = out.map(r => r._1 -> r._3).toMap
    Dedup.minhashPairs(cleanDf, "text", "doc_id", 16, 4, 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .foreach { case (a, b) =>
        // pairs among ORIGINAL docs only (the synthetic +100k/+200k
        // members aren't in `documents`, so this checks the subset)
        if (side.contains(a) && side.contains(b))
          assert(side(a) == side(b), s"pair ($a,$b) straddles the split")
      }
  }

  test("decontaminateExcerpt flags verbatim quotes inside unrelated docs") {
    val bench = Seq(
      (1L, (1 to 40).map(i => s"bench$i").mkString(" ")),
      (2L, (1 to 40).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val excerpt = (5 to 24).map(i => s"bench$i").mkString(" ") // 20 verbatim words
    val corpus = Seq(
      // unrelated body + a 20-word verbatim quote of bench doc 1
      (100L, (1 to 80).map(i => s"body$i").mkString(" ") + " " + excerpt),
      // vocabulary overlap without any verbatim RUN: every other word
      (101L, (5 to 44).map(i => if (i % 2 == 0) s"bench$i" else s"x$i").mkString(" ")),
      (102L, (1 to 60).map(i => s"clean$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminateExcerpt(corpus, "text", "doc_id",
        bench, "text", "doc_id", shingleN = 3, window = 8, minWindows = 2)
      .as[(Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).toSet == Set((100L, 1L)))
    // the whole-doc near-dup decon does NOT see doc 100 (Jaccard of a
    // 20-word quote in a 100-word doc is far below 0.5) — the excerpt
    // mode is a genuinely different detector
    val near = Dedup.decontaminateNear(corpus, "text", "doc_id",
      bench, "text", "doc_id").as[(Long, Long, Long, Double)].collect()
    assert(!near.exists(_._1 == 100L))
  }

  test("semanticDedup keeps one canonical per cluster, singletons keep themselves") {
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val vd = col("embedding").cast("array<double>")
    val perturbed = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 10000).as("vec_id"),
        concat(array(element_at(vd, 1) + 0.1), slice(vd, 2, 63)).as("embedding"))
    val corpus = emb.select(col("vec_id"), vd.as("embedding")).unionByName(perturbed)
    val labeled = Dedup.semanticDedup(corpus, "embedding", "vec_id",
        numTables = 4, bitsPerTable = 4, dim = 64, tau = 0.99)
      .as[(Long, Long, Boolean)].collect()
    // the no-drop contract: every corpus row comes back exactly once
    assert(labeled.length == corpus.count())
    assert(labeled.map(_._1).distinct.length == labeled.length)
    val byCluster = labeled.groupBy(_._2)
    byCluster.foreach { case (cid, rows) =>
      // exactly one keeper per cluster, and it is the min id = label
      assert(rows.count(_._3) == 1, s"cluster $cid keepers != 1")
      assert(rows.filter(_._3).head._1 == cid)
      assert(rows.map(_._1).min == cid)
    }
    // ground truth: each perturbed copy (cos ~0.9998 to its source)
    // must share a cluster with its source, and neither is kept twice
    val lblMap = labeled.map(r => r._1 -> r._2).toMap
    lblMap.keys.filter(_ >= 10000L).foreach { copy =>
      assert(lblMap(copy) == lblMap(copy - 10000L), s"copy $copy split from source")
    }
    // kept set = clusters, i.e. dedup really shrank the corpus by the
    // number of non-singleton members
    assert(labeled.count(_._3) == byCluster.size)
  }

  test("duplicatedSpans finds exact shared runs and merges them end-to-end") {
    // docs 10/11 share one verbatim 6-word run embedded in different
    // contexts; doc 12 repeats a 5-word phrase WITHIN itself; doc 13
    // shares nothing long enough
    val docs = Seq(
      (10L, "alpha beta the shared run of six words gamma delta"),
      (11L, "x y z the shared run of six words q r s t"),
      (12L, "one two three four five filler one two three four five"),
      (13L, "totally different content with no repeats at all here")
    ).toDF("doc_id", "text")
    val spans4 = Dedup.duplicatedSpans(docs, "text", "doc_id", minLen = 4)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // minLen=4: the 6-word run ("the shared run of six words") covers
    // words 3-8 in doc 10 and 4-9 in doc 11 (1-based, exclusive end);
    // doc 12's repeated 5-word phrase covers 1-5 and 7-11
    assert(spans4 == Seq(
      (10L, 3L, 9L, 6L),
      (11L, 4L, 10L, 6L),
      (12L, 1L, 6L, 5L), (12L, 7L, 12L, 5L)))
    // minLen=7: no shared 7-word window anywhere -> empty
    assert(Dedup.duplicatedSpans(docs, "text", "doc_id", minLen = 7).count() == 0)
    // cut removes exactly the covered words, leaves doc 13 verbatim
    val cut = Dedup.cutDuplicatedSpans(docs, "text", "doc_id", minLen = 4)
      .as[(Long, String)].collect().toMap
    assert(cut(10L) == "alpha beta gamma delta")
    assert(cut(11L) == "x y z q r s t")
    assert(cut(12L) == "filler")
    assert(cut(13L) == "totally different content with no repeats at all here")
  }

  test("duplicatedSpansKeepFirst flags only the later occurrences") {
    val docs = Seq(
      (10L, "alpha beta the shared run of six words gamma delta"),
      (11L, "x y z the shared run of six words q r s t"),
      (12L, "one two three four five filler one two three four five"),
      (13L, "totally different content with no repeats at all here")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpansKeepFirst(docs, "text", "doc_id", minLen = 4)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // doc 10 owns the shared run (lowest (doc, pos)) and stays clean;
    // doc 11's copy is flagged; doc 12's SECOND internal copy is
    // flagged, the first survives
    assert(spans == Seq((11L, 4L, 10L, 6L), (12L, 7L, 12L, 5L)))
    // applying the keep-first cut-list keeps the owners' text whole
    val cut = Dedup.applySpanCut(docs,
        Dedup.duplicatedSpansKeepFirst(docs, "text", "doc_id", minLen = 4),
        "text", "doc_id")
      .as[(Long, String)].collect().toMap
    assert(cut(10L) == "alpha beta the shared run of six words gamma delta")
    assert(cut(11L) == "x y z q r s t")
    assert(cut(12L) == "one two three four five filler")
  }

  test("substring index probe flags quoted corpus passages, ignores delta-internal dups") {
    val corpus = Seq(
      (1L, "alpha beta the shared run of six words gamma delta"),
      (2L, "other corpus content that nobody quotes anywhere at all")
    ).toDF("doc_id", "text")
    val path = tempDir("graft-subidx").toString + "/idx"
    Dedup.writeSubstringIndex(corpus, "text", "doc_id", path, minLen = 4,
      numBuckets = 8)
    // index stores bucket-partitioned bare hashes
    val dirs = new java.io.File(path).listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("bucket=")))
    val delta = Seq(
      // quotes the corpus run "the shared run of six words" mid-doc
      (20L, "intro words here the shared run of six words closing"),
      // repeats a phrase WITHIN itself but shares nothing with the
      // corpus: the probe (unlike duplicatedSpans) must stay silent
      (21L, "nope nope nope unique chatter nope nope nope unique chatter")
    ).toDF("doc_id", "text")
    val spans = Dedup.probeSubstringSpans(spark, path, delta, "text", "doc_id",
        minLen = 4, numBuckets = 8)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(spans == Seq((20L, 4L, 10L, 6L)))
  }

  test("windowHashRows kernel == exploded-token lead() formulation (r19)") {
    // the r19 optimization swapped the doc-shuffled lead()-window
    // formulation for the shingleHashSeq kernel; the (id, pos, h)
    // rows must be IDENTICAL — same 1-based positions, same
    // md5-60-bit hashes — on every edge shape: empty text, short
    // docs, exact-minLen docs, repeated boilerplate, double spaces
    // (split produces empty-string tokens both formulations hash).
    import org.apache.spark.sql.expressions.Window
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, ""), (3L, "one"), (4L, "a b c d"),
      (5L, "alpha beta gamma delta epsilon zeta"),
      (6L, "x  y z  w v u"),
      (7L, "w w w w w w w w")).toDF("doc_id", "text")
    val minLen = 4
    val got = Dedup.windowHashRows(docs, "text", "doc_id", minLen)
      .as[(Long, Long, Long)].collect().toSet
    val byTok = Window.partitionBy(col("doc_id")).orderBy(col("_p"))
    val old = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("_p", "_t")))
      .withColumn("_win", concat_ws(" ",
        col("_t") +: (1 until minLen).map(k => lead(col("_t"), k).over(byTok)): _*))
      .withColumn("_last", lead(col("_t"), minLen - 1).over(byTok))
      .filter(col("_last").isNotNull)
      .select(col("doc_id"), (col("_p") + 1).as("pos"),
        Dedup.hash64(col("_win")).as("h"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == old)
    assert(got.nonEmpty)
  }

  test("duplicatedSpans never shuffles the token stream (no lead() window)") {
    // r19 optimization: window hashes come from the shingleHashSeq
    // kernel straight off the scan — the old formulation shuffled the
    // ENTIRE exploded token stream by doc and ran a minLen-lead
    // WindowExec over it per consumer (at 100 TB, a full-corpus token
    // shuffle). The only Window nodes left are the doc-keyed
    // island-merge pair (lag + running sum); AQE finalizes the plan
    // during execution, so run first.
    val q = SparkEntry.queries("dedup_substring")(spark,
      "/root/testdata/sf0.001")
    q.queryExecution.toRdd.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("lead("),
      "the exploded-token lead() window is back — the corpus token " +
        "stream would shuffle and sort per consumer")
    // AQE toString repeats every node under "== Initial Plan ==" —
    // count Window nodes in the final-plan section only
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val windows = "Window \\[".r.findAllIn(finalPlan).length
    assert(windows <= 2,
      s"expected only the island-merge lag+sum windows, found $windows " +
        "Window nodes — a token-stream window has crept back in")
  }

  test("duplicatedSpansKeepFirst mega-dup guard: correct output, no h-partitioned window") {
    // a corpus-spanning boilerplate sentence — the same 6 words in
    // EVERY doc. Under the old row_number()-over-partitionBy(h)
    // formulation, each boilerplate window's occurrences all sorted
    // inside one task (a straggler AQE cannot split); the agg+join
    // shape must produce the identical cut-list with no h-partitioned
    // window anywhere in the plan.
    val boiler = "all rights reserved by the corp"
    val docs = (1L to 40L)
      .map(i => (i, s"unique$i lead in $boiler tail$i words"))
      .toDF("doc_id", "text")
    val q = Dedup.duplicatedSpansKeepFirst(docs, "text", "doc_id", minLen = 4)
    val spans = q.as[(Long, Long, Long, Long)].collect().toSet
    // shared windows start at positions 2..6 (lead/in + the 6
    // boilerplate words); doc 1 owns every one of them (lowest
    // (doc, pos)), so docs 2..40 each carry one merged span covering
    // positions 2..9 -> [2, 10), 8 words
    val expected = (2L to 40L).map(i => (i, 2L, 10L, 8L)).toSet
    assert(spans == expected)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition(h#"),
      "keep-first ranks occurrences inside an h-partitioned window " +
        "again — a corpus-wide boilerplate window would sort in one task")
  }

  test("dup-heavy corpus: substring dedup survives without broadcast (SMJ fallback)") {
    // on a 90%-duplicate corpus the dup-hash side is NOT small — the
    // plan must not force a broadcast (AQE picks it by measured size;
    // with broadcast disabled the same plan runs as a sort-merge join
    // and stays correct). 50 docs, 45 of them copies of one text.
    val docs = ((1L to 45L).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta")) ++
      (46L to 50L).map(i =>
        (i, (1 to 8).map(j => s"u$i-$j").mkString(" ")))).toDF("doc_id", "text")
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val q = Dedup.duplicatedSpans(docs, "text", "doc_id", minLen = 4)
      val rows = q.as[(Long, Long, Long, Long)].collect().toSet
      // every copy (including the first) is fully covered: [1, 9)
      assert(rows == (1L to 45L).map(i => (i, 1L, 9L, 8L)).toSet)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"),
        s"expected the SMJ fallback with broadcast disabled, got:\n$plan")
      val keep = Dedup.duplicatedSpansKeepFirst(docs, "text", "doc_id", minLen = 4)
        .as[(Long, Long, Long, Long)].collect().toSet
      // doc 1 owns every window; the other 44 copies are flagged
      assert(keep == (2L to 45L).map(i => (i, 1L, 9L, 8L)).toSet)
    }
  }

  test("incremental keep-first equivalence: corpus probe + delta-internal keep-first") {
    // the identity that makes the incremental substring path
    // trustworthy: for a delta whose ids sort AFTER every corpus id,
    //   keepFirst(corpus ∪ delta) restricted to delta docs
    // covers exactly the same word positions as
    //   probeSubstringSpans(corpus index) ∪ keepFirst(delta alone).
    // (Corpus occurrences own every shared window, so all delta
    // occurrences of corpus windows flag — the probe's output; a
    // window new in the delta is owned by its first delta occurrence
    // — delta-internal keep-first.) Spans can merge differently
    // across the two routes, so compare covered POSITION sets.
    val corpus = Seq(
      (1L, "alpha beta the shared run of six words gamma delta"),
      (2L, "filler text that nobody quotes anywhere at all today")
    ).toDF("doc_id", "text")
    val delta = Seq(
      // quotes the corpus run AND repeats its own phrase twice
      (10L, "intro the shared run of six words mid one two three four end one two three four"),
      // repeats doc 10's phrase again: doc 10 owns it within the delta
      (11L, "more words one two three four closing remarks here")
    ).toDF("doc_id", "text")
    val minLen = 4
    def covered(spans: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      spans.select(col("doc_id"), col("span_start"), col("span_end"))
        .as[(Long, Long, Long)].collect()
        .flatMap { case (id, s, e) => (s until e).map(id -> _) }.toSet
    val full = covered(
      Dedup.duplicatedSpansKeepFirst(corpus.unionByName(delta),
        "text", "doc_id", minLen)
        .filter(col("doc_id") >= 10L))
    val path = tempDir("graft-inc-keep").toString + "/idx"
    Dedup.writeSubstringIndex(corpus, "text", "doc_id", path, minLen,
      numBuckets = 8)
    val probe = covered(Dedup.probeSubstringSpans(spark, path, delta, "text",
      "doc_id", minLen, numBuckets = 8))
    val inc = probe ++
      covered(Dedup.duplicatedSpansKeepFirst(delta, "text", "doc_id", minLen))
    assert(full == inc && full.nonEmpty)
    // the same identity holds for the AGGRESSIVE variant's delta side
    // (probe flags corpus-shared windows; delta-internal dups flag
    // all their occurrences either way)
    val fullAgg = covered(
      Dedup.duplicatedSpans(corpus.unionByName(delta), "text", "doc_id",
        minLen).filter(col("doc_id") >= 10L))
    val incAgg = probe ++
      covered(Dedup.duplicatedSpans(delta, "text", "doc_id", minLen))
    assert(fullAgg == incAgg && fullAgg.nonEmpty)
  }

  test("duplicatedSpans is partitioning-independent") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "z z a b c d e f w w"),
      (3L, "q q q a b c d e f q")
    ).toDF("doc_id", "text")
    val one = Dedup.duplicatedSpans(docs.coalesce(1), "text", "doc_id", 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    val many = Dedup.duplicatedSpans(docs.repartition(7), "text", "doc_id", 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(one == many && one.nonEmpty)
  }

  test("pipeline_curate_v2 composition holds every stage's invariant end to end") {
    val out = SparkEntry.queries("pipeline_curate_v2")(spark, sf0001)
      .as[(Long, String, Long, String)].collect()
    assert(out.nonEmpty)
    // one row per kept doc, every one NB-gated English
    assert(out.map(_._1).distinct.length == out.length)
    assert(out.forall(_._2 == "en"))
    // the keep-best stage is load-bearing: some extended (+300000)
    // variants beat their shorter originals, and the beaten original
    // is then absent from the kept set
    val keptIds = out.map(_._1).toSet
    val extendedKept = keptIds.filter(_ >= 300000L)
    assert(extendedKept.nonEmpty)
    extendedKept.foreach { e => assert(!keptIds.contains(e - 300000L),
      s"original ${e - 300000L} survived alongside its longer copy $e") }
    // split is the deterministic md5 rule, both sides populated at
    // this corpus size
    val sides = out.map(_._4).toSet
    assert(sides.subsetOf(Set("train", "eval")) && sides.size == 2)
  }

  test("dedup_minhash_sweep reports one row per config; wider banding only raises recall") {
    val rows = SparkEntry.queries("dedup_minhash_sweep")(spark, sf0001)
      .select("num_hashes", "bands", "recall", "precision")
      .as[(Long, Long, Double, Double)].collect()
    assert(rows.length == 3)
    val byCfg = rows.map(r => (r._1, r._2) -> r).toMap
    // 16 hashes in 8 bands (2 rows/band) is strictly more permissive
    // blocking than 16 in 4 (4 rows/band): its candidate set is a
    // superset, so recall cannot drop
    assert(byCfg((16L, 8L))._3 >= byCfg((16L, 4L))._3)
  }

  test("repeated pipeline builds leave no persisted RDD behind") {
    // eager cuts are freed by the ContextCleaner once nothing references
    // them; a `persist` would stay in the session's cache for good, one
    // entry per build of a plan over fresh checkpoints
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    for (q <- Seq("pipeline_report", "dedup_minhash_sweep"); _ <- 0 until 5)
      SparkEntry.queries(q)(spark, sf0001).queryExecution.toRdd.count()
    def held = sc.getPersistentRDDs.keySet.diff(before).size
    val deadline = System.nanoTime() + 60000000000L
    while (held > 2 && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(held <= 2, s"$held RDDs still persisted after 10 builds")
  }

  test("minhashSweepQuality == per-arm minhashPairsFromSigs + pairQuality (r19)") {
    // the r19 fused sweep must reproduce the un-fused reduce exactly:
    // same tp/fp/fn integers, same guarded ratio doubles — including
    // an arm whose banding finds NO pairs (must still report
    // (0, 0, |truth|)) and an empty-truth frame
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (1L to 12L).map(i => (i, s"$base tail$i")).toDF("doc_id", "text")
      .unionByName(Seq((100L, "totally unrelated words here nothing shared"))
        .toDF("doc_id", "text"))
    val sets = Dedup.shingleSets(docs, "text", "doc_id", 3).localCheckpoint()
    val (as16, bs16) = Dedup.minhashConsts(16)
    val sigs = sets.filter(size(col("shs")) > 0)
      .select(col("sid").as("doc_id"),
        graft.functions.SketchExprs.minhashSig(
          col("shs"), as16, bs16, Dedup.MINHASH_M).as("sig"))
      .localCheckpoint()
    val configs = Seq((16, 4), (16, 8), (8, 4))
    for (truth <- Seq(
        Dedup.ngramJaccardPairsFromSets(sets, threshold = 0.6,
          maxDf = 20, maxDfFrac = 0.005).select(col("id_a"), col("id_b")),
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"))) {
      val fused = Dedup.minhashSweepQuality(sets, sigs, "doc_id",
          configs, threshold = 0.5, truth)
        .as[(Long, Long, Long, Long, Long, Double, Double, Double)]
        .collect().sortBy(r => (r._1, r._2))
      val unfused = configs.map { case (nh, nb) =>
        Eval.pairQuality(
            Dedup.minhashPairsFromSigs(sets, sigs, "doc_id", nb, nh / nb,
              threshold = 0.5).select(col("id_a"), col("id_b")),
            truth)
          .select(lit(nh).cast("long"), lit(nb).cast("long"),
            col("tp"), col("fp"), col("fn"),
            col("precision"), col("recall"), col("f1"))
          .as[(Long, Long, Long, Long, Long, Double, Double, Double)]
          .head()
      }.sortBy(r => (r._1, r._2))
      assert(fused.toSeq == unfused)
    }
  }

  test("corpusOverlap counts a-side docs with a verified near-dup in b") {
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val t2 = "one two three four five six seven eight nine ten eleven twelve"
    val a = Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
    val b = Seq(
      (10L, t1.split(" ").dropRight(2).mkString(" ")),  // near-dup of 1
      (11L, "totally unrelated content with none of those words present here")
    ).toDF("doc_id", "text")
    val row = Dedup.corpusOverlap(a, "text", "doc_id", b, "text", "doc_id")
      .as[(Long, Long, Long, Double)].head()
    assert(row == ((2L, 2L, 1L, 0.5)))
    // symmetric direction: nothing in b's unrelated doc matches a
    val rev = Dedup.corpusOverlap(b, "text", "doc_id", a, "text", "doc_id")
      .as[(Long, Long, Long, Double)].head()
    assert(rev == ((2L, 2L, 1L, 0.5)))
  }

  test("dedupKeepBest keeps the highest-scored member, ties to min id, NULL scores lose") {
    val corpus = Seq(1L, 2L, 3L, 10L, 11L, 20L, 30L, 31L).toDF("doc_id")
    // clusters: {1,2,3} (chain), {10,11}, {30,31}; 20 is a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L))
      .toDF("id_a", "id_b")
    val scores = Seq(
      (1L, Some(5L)), (2L, Some(9L)), (3L, Some(9L)),   // tie at 9 -> min id 2
      (10L, None), (11L, Some(1L)),                      // NULL loses to scored
      (20L, Some(7L)),                                   // singleton keeps itself
      (30L, None), (31L, None)                           // all-NULL -> min id
    ).toDF("doc_id", "sc")
    val got = Dedup.dedupKeepBest(corpus, "doc_id", pairs, scores, "sc")
      .select("doc_id", "cluster_id", "keep")
      .as[(Long, Long, Boolean)].collect()
    assert(got.length == 8 && got.map(_._1).distinct.length == 8)
    val keep = got.filter(_._3).map(_._1).toSet
    assert(keep == Set(2L, 11L, 20L, 30L))
    // cluster labels are the component min id, singletons self-label
    val cl = got.map(r => r._1 -> r._2).toMap
    assert(cl(1L) == 1L && cl(2L) == 1L && cl(3L) == 1L)
    assert(cl(10L) == 10L && cl(11L) == 10L && cl(20L) == 20L)
  }

  test("sourceSimilarity: exact Jaccard in the small-union regime") {
    // two sources sharing exactly one 3-shingle universe member
    val docs = Seq(
      (1L, "a b c d e", "s1"),     // shingles: "a b c","b c d","c d e"
      (2L, "a b c x y", "s2"),     // shingles: "a b c","b c x","c x y"
      (3L, "p q r s t", "s3")      // disjoint from both
    ).toDF("doc_id", "text", "source")
    val got = Dedup.sourceSimilarity(docs, "text", "source", shingleN = 3, k = 16)
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // union(s1, s2) = 5 shingles, intersection = 1 -> exact 1/5
    assert(got(("s1", "s2")) == ((1L, 5L, 0.2)))
    assert(got(("s1", "s3"))._1 == 0L && got(("s2", "s3"))._1 == 0L)
    assert(got.size == 3)
  }

  test("sourceSimilarity: identical sources read 1.0; partitioning-independent") {
    val base = (0L until 40L).map(i => (i, s"tok${i % 7} w$i x$i y$i z$i common tail words here"))
    val docs = (base.map { case (i, t) => (i, t, "ga") } ++
      base.map { case (i, t) => (i + 1000, t, "gb") }).toDF("doc_id", "text", "source")
    val got = Dedup.sourceSimilarity(docs, "text", "source", shingleN = 3, k = 32)
      .as[(String, String, Long, Long, Double)].collect()
    assert(got.length == 1)
    assert(got.head._5 == 1.0, got.head.toString)
    val again = Dedup.sourceSimilarity(docs.repartition(7), "text", "source",
      shingleN = 3, k = 32).as[(String, String, Long, Long, Double)].collect()
    assert(got.toSet == again.toSet)
  }

  test("dedupSoft splits one document of weight across each cluster") {
    val corpus = Seq(1L, 2L, 3L, 10L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.dedupSoft(corpus, "doc_id", pairs)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.size == 5)
    Seq(1L, 2L, 3L).foreach(id => assert(got(id) == ((1L, 3L, 1.0 / 3))))
    assert(got(10L) == ((10L, 1L, 1.0)) && got(20L) == ((20L, 1L, 1.0)))
    // cluster weights sum to one document each
    val totals = got.values.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    totals.values.foreach(t => assert(math.abs(t - 1.0) < 1e-12))
  }

  test("dedupSoft raises on a non-long-castable id instead of collapsing singletons") {
    // string ids that cast to NULL would silently merge every
    // singleton into one NULL cluster (ADVICE r12); the operator must
    // fail loudly instead. Long-castable STRING ids stay fine.
    val ok = Seq("1", "2", "10").toDF("doc_id")
    val okPairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = Dedup.dedupSoft(ok, "doc_id", okPairs)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    assert(got("10") == 1.0 && got("1") == 0.5 && got("2") == 0.5)
    val bad = Seq("doc-a", "doc-b", "doc-c").toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val ex = intercept[Exception] {
      Dedup.dedupSoft(bad, "doc_id", noPairs).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("long-castable")), ex.toString)
  }
}
