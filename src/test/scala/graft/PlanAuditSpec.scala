package graft

/** Plan-shape guardrails over EVERY declared query: the scale
  * anti-patterns the architecture bans must never reappear, whatever
  * the operator. Runs on sf0.001 so the whole audit is one quick
  * planning pass (no execution needed — `executedPlan` is the
  * pre-execution physical plan).
  */
class PlanAuditSpec extends SparkSpec {

  /** Each declared query's pre-execution physical plan, and the
    * builders after which the session's cache held a plan. `persist`
    * registers its plan when it is called, so building is enough; the
    * cache is cleared first, and after each builder that registered
    * one, so each entry is attributed to the builder that made it. */
  private lazy val (plans, caching) = {
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val built = SparkEntry.queries.toSeq.map { case (name, fn) =>
      val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
      val cached = !cache.isEmpty
      if (cached) spark.catalog.clearCache()
      (name, plan, cached)
    }
    (built.map { case (n, p, _) => n -> p }.toMap,
      built.collect { case (n, _, true) => n }.sorted)
  }

  test("building every declared query leaves the session cache empty") {
    assert(caching.isEmpty,
      s"builders that registered a cached plan: ${caching.mkString(", ")}")
  }

  test("no query plans a cartesian product") {
    val offenders = plans.filter { case (name, p) =>
      p.contains("CartesianProduct") &&
        // brute-force kNN variants legitimately cross-join ONE
        // broadcast query row against the corpus
        !Set("knn_cosine", "knn_euclidean", "knn_filtered", "knn_batch",
          "radius_search", "ann_ivf", "collection_stats").contains(name)
    }
    assert(offenders.isEmpty, s"cartesian products in: ${offenders.keys.mkString(", ")}")
  }

  test("no query plans a global (unpartitioned) window") {
    // WindowExec with an empty partition spec prints "Window [..], [..]"
    // with no partition list — detect via the runtime warning's cause:
    // a Window node whose partition expressions are absent
    val offenders = plans.filter { case (_, p) =>
      p.linesIterator.exists { l =>
        val t = l.trim
        t.startsWith("Window [") && !t.dropWhile(_ != ']').contains(", [")
      }
    }
    assert(offenders.isEmpty, s"global windows in: ${offenders.keys.mkString(", ")}")
  }

  test("filter queries push predicates into the parquet scan") {
    for (q <- Seq("filter_dsl", "list_records")) {
      val p = plans(q)
      assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
        s"$q lost scan pushdown:\n$p")
    }
  }

  test("dimension-sized join sides broadcast") {
    assert(plans("q3_join").contains("BroadcastHashJoin"), plans("q3_join"))
    assert(plans("ann_batch").contains("BroadcastExchange"), plans("ann_batch"))
  }

  test("bounded sketch/top-k aggregates run with map-side partials") {
    // TypedImperativeAggregates (KmvAgg, TopKAgg) plan as
    // ObjectHashAggregate with a partial pass — the property that
    // caps what the shuffle moves (<= k values per group per
    // partition); losing it would shuffle raw rows
    for (q <- Seq("events_kmv", "bm25_batch")) {
      val p = plans(q)
      assert(p.contains("ObjectHashAggregate") && p.contains("partial_"),
        s"$q lost its partial object-hash aggregation:\n$p")
    }
    // the batch-BM25 vocabulary must reach the scan side broadcast,
    // never shuffle the corpus against it
    assert(plans("bm25_batch").contains("BroadcastHashJoin"), plans("bm25_batch"))
  }

  test("single-query knn executes as TakeOrdered, not a full sort") {
    for (q <- Seq("knn_cosine", "knn_euclidean", "ann_lsh")) {
      assert(plans(q).contains("TakeOrderedAndProject"),
        s"$q should top-k via TakeOrderedAndProject:\n${plans(q)}")
    }
  }

  test("kernel classifier scoring is a pure map plan: zero exchanges") {
    import graft.operators.TextAnalysis
    val docs = graft.core.Tables.documents(spark, sf0001)
    val model = TextAnalysis.trainNaiveBayes(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0),
      "text", "lang", 128)
    val p = TextAnalysis.naiveBayesScoreAll(docs, "text", "doc_id", model)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"kernel scoring must ride the scan with no shuffle or join:\n$p")
  }

  /** The root path of every file scan in `df`'s physical plan. The
    * plan's text abbreviates long locations, so it is not read here. */
  private def scanRoots(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten

  test("indexed more-like-this reads index files only on the corpus side") {
    import spark.implicits._
    import graft.operators.Dedup
    val corpus = graft.core.Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val path = tempDir("mlt-audit").toString + "/idx"
    Dedup.writeMinhashIndex(corpus, "text", "doc_id", path)
    // seeds arrive as an in-memory frame: every FileScan in the probe
    // plan must then point at the INDEX, never at a corpus table —
    // the "zero corpus text scans" contract
    val seeds = Seq((3L, "some seed words here")).toDF("doc_id", "text")
    val scans = scanRoots(graft.operators.Search.moreLikeThisIndexed(spark, path, seeds,
        "text", "doc_id", k = 3))
    assert(scans.nonEmpty && scans.forall(_.contains(path)),
      s"probe must scan only index files:\n${scans.mkString("\n")}")
  }

  test("indexed overlap report: archive side reads index files only") {
    import spark.implicits._
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, sf0001)
    val archive = docs.filter(col("source") === "src1")
      .select(col("doc_id"), col("text"))
    val path = tempDir("ov-audit").toString + "/idx"
    Dedup.writeMinhashIndex(archive, "text", "doc_id", path)
    // the crawl arrives as an in-memory frame: every FileScan in the
    // report plan must then point at the INDEX — the archive is never
    // re-signed (zero corpus text scans, the recurring-report contract)
    val crawl = Seq((900001L, "entirely novel crawl words"))
      .toDF("doc_id", "text")
    val scans = scanRoots(Dedup.corpusOverlapIndexed(spark, path, "doc_id",
        crawl, "text", "doc_id"))
    assert(scans.nonEmpty && scans.forall(_.contains(path)),
      s"report must scan only index files:\n${scans.mkString("\n")}")
    // and the report itself matches the scan path on a real overlap
    val crawl2 = archive.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    val viaIndex = Dedup.corpusOverlapIndexed(spark, path, "doc_id",
      crawl2, "text", "doc_id").collect().head
    val viaScan = Dedup.corpusOverlap(archive, "text", "doc_id",
      crawl2, "text", "doc_id").collect().head
    assert(viaIndex == viaScan, s"index path $viaIndex != scan path $viaScan")
  }

  test("map-side report operators plan at most their one keyed exchange") {
    // quality_gopher is zero-shuffle; embedding_drift's only exchange
    // is the (dim)-keyed agg with a map-side partial
    val pg = plans("quality_gopher")
    assert(!pg.contains("Exchange"), s"quality_gopher must be map-side:\n$pg")
    val pd = plans("embedding_drift")
    assert("Exchange".r.findAllIn(pd).size <= 2 && pd.contains("partial_"),
      s"embedding_drift should be one keyed agg with partials:\n$pd")
  }

  test("round-18: url_normalize is a pure scan-side projection; " +
      "domain_profile is one keyed agg with map-side partials") {
    val un = plans("url_normalize")
    assert(!un.contains("Exchange") && !un.contains("Join"),
      s"url_normalize must be map-side:\n${un.take(600)}")
    val dp = plans("domain_profile")
    // exactly the canonical multi-countDistinct shape (n_hosts +
    // n_dup are exact distincts): Expand + partial agg, then TWO
    // domain-keyed exchanges — never a Join, never a third shuffle,
    // and the suffix when-chain folds into the scan side (partial_)
    assert("Exchange hashpartitioning".r.findAllIn(dp).size == 2 &&
      dp.contains("partial_") && dp.contains("Expand") &&
      !dp.contains("Join"),
      s"domain_profile should be the two-stage distinct agg:\n${dp.take(800)}")
  }

  test("round-19: crawl compositions never fall back from whole-stage codegen") {
    // the janino regression pin (§8-r19 item 2): the when/InSet
    // domain encoding compiled fine standing alone but blew the
    // generated-class limits once domain_pagerank/pipeline_crawl
    // fused several occurrences into one stage, and Spark SILENTLY
    // ran the hottest scan interpreted. With fallback disabled a
    // compile failure throws instead — so this test EXECUTES both
    // compositions and fails loudly if the kernel form ever regresses
    // to a shape janino cannot compile
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try {
      Seq("domain_pagerank", "pipeline_crawl").foreach { q =>
        SparkEntry.queries(q)(spark, sf0001).queryExecution.toRdd.count()
      }
    } finally spark.conf.set(key, prev)
  }

  test("round-12 continuation: committee scoring is exchange-free; sampled-threshold queries never global-sort") {
    // the trained stump committee rides the plan as literals — the
    // held-out scoring pass must be a pure scan-side projection
    val boost = plans("classify_boost")
    assert(!boost.contains("Exchange") && !boost.contains("Join"), boost.take(600))
    // quantile thresholds come from the bounded sample agg, never a
    // corpus range-partitioned sort
    for (q <- Seq("perplexity_buckets", "sample_length_strata",
        "source_similarity", "dedup_cluster_stats", "events_forecast"))
      assert(!plans(q).contains("rangepartitioning"),
        s"$q plans a global sort:\n${plans(q).take(600)}")
  }
}
