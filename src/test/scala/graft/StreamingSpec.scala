package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.Events
import graft.streaming.Ingest

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  test("batch sessionize splits on gap and aggregates per session") {
    val events = Seq(
      (1L, 100L, ts(0), 1.0),
      (2L, 100L, ts(10), 2.0),
      (3L, 100L, ts(50), 3.0),  // 40-min gap -> new session
      (4L, 200L, ts(5), 4.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val got = Events.sessionStats(events, "ts", "user_id", "event_id", "value", 30)
      .select("user_id", "session_seq", "n_events", "sum_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((100L, 1L, 2L, 3.0), (100L, 2L, 1L, 3.0), (200L, 1L, 1L, 4.0)))
  }

  test("streaming windowed agg matches batch result once drained") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = Ingest.windowedAgg(df, "ts", "event_type", "value", "10 minutes", "1 minute")
      .writeStream.format("memory").queryName("win_agg")
      .outputMode("complete").start()
    try {
      mem.addData((ts(1), "click", 1.0), (ts(2), "click", 2.0), (ts(11), "click", 4.0),
        (ts(3), "view", 8.0))
      q.processAllAvailable()
      val got = spark.table("win_agg")
        .select(col("window_start"), col("event_type"), col("n_events"), col("sum_value"))
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(got == Set(
        (ts(0), "click", 2L, 3.0),
        (ts(10), "click", 1L, 4.0),
        (ts(0), "view", 1L, 8.0)))
    } finally q.stop()
  }

  test("streaming KMV distinct sketch matches the batch operator once drained") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long)]
    val df = mem.toDF().toDF("ts", "event_type", "user_id")
    val q = Ingest.kmvDistinctStream(df, "ts", "event_type", "user_id",
        "10 minutes", "1 minute", k = 8, seed = "kst")
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("complete").start()
    try {
      // 20 distinct users (> k) for click in window 0, the same user
      // repeated for view (distinct = 1, exact under k)
      val clicks = (1 to 20).map(u => (ts(u % 10), "click", u.toLong))
      val views = Seq((ts(1), "view", 99L), (ts(2), "view", 99L))
      mem.addData(clicks ++ views: _*)
      q.processAllAvailable()
      val got = spark.table("kmv_stream")
        .select(col("window_start"), col("event_type"), col("n_sketch"), col("est_distinct"))
        .as[(Timestamp, String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      assert(got((ts(0), "view")) == ((1L, 1.0)))
      // the streaming estimate equals the batch operator's on the
      // same rows — same hashes, same estimator arithmetic
      val batch = graft.operators.Events.kmvDistinct(
        (clicks ++ views).toDF("ts", "event_type", "user_id"),
        Seq("event_type"), "user_id", k = 8, seed = "kst")
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(got((ts(0), "click")) == batch("click"))
    } finally q.stop()
  }

  test("rollingDistinctStream matches the batch rolling distinct on observed days") {
    implicit val sqlCtx = spark.sqlContext
    def dts(d: String) = Timestamp.valueOf(s"$d 12:00:00")
    val rows = Seq(
      (dts("2024-01-01"), 1L), (dts("2024-01-01"), 2L),
      (dts("2024-01-02"), 2L), (dts("2024-01-02"), 3L),
      (dts("2024-01-03"), 4L),
      (dts("2024-01-05"), 9L))
    val mem = MemoryStream[(Timestamp, Long)]
    val q = Ingest.rollingDistinctStream(mem.toDF().toDF("ts", "user_id"),
        "ts", "user_id", windowDays = 2, watermark = "3 days", k = 64,
        seed = "t")
      .writeStream.format("memory").queryName("roll_stream")
      .outputMode("complete").start()
    try {
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("roll_stream")
        .select(col("day").cast("string"), col("n_sketch"), col("est_distinct"))
        .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      val batch = graft.operators.Events.rollingDistinct(
          rows.toDF("ts", "user_id"), "ts", "user_id",
          windowDays = 2, k = 64, seed = "t")
        .select(col("day").cast("string"), col("n_sketch"), col("est_distinct"))
        .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      // every batch-reported day is value-identical; the stream may
      // additionally carry covered-but-unobserved days (2024-01-04,
      // reached by the fan-out from day 3) — by design
      batch.foreach { case (d, v) => assert(streamed.get(d).contains(v), d) }
      assert(streamed.contains("2024-01-04"))
    } finally q.stop()
  }

  test("streaming sampled quantiles equal the batch operator on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "event_id", "value")
    val q = Ingest.quantilesStream(df, "ts", "event_type", "value", "event_id",
        "10 minutes", "1 minute", k = 8, qs = Seq(0.0, 0.5, 1.0), seed = "qst")
      .writeStream.format("memory").queryName("quant_stream")
      .outputMode("complete").start()
    try {
      // 30 rows (> k): the sample is hash-selected; arrival order and
      // micro-batching must not move it
      val rows = (1 to 30).map(i => (ts(i % 10), "click", i.toLong, i * 1.5))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("quant_stream")
        .filter(col("window_start") === ts(0))
        .select("quantile", "value").as[(Double, Double)].collect().toMap
      val batch = graft.operators.Events.quantiles(
        rows.toDF("ts", "event_type", "event_id", "value"),
        Seq("event_type"), "value", "event_id", k = 8,
        qs = Seq(0.0, 0.5, 1.0), seed = "qst")
        .select("quantile", "value").as[(Double, Double)].collect().toMap
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("streaming dedup keeps first arrival per id") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val df = mem.toDF().toDF("id", "ts", "value")
    val q = Ingest.dedupStream(df, "id", "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(0), 1.0), (1L, ts(1), 99.0), (2L, ts(2), 2.0))
      q.processAllAvailable()
      val got = spark.table("dedup_stream").select("id", "value")
        .as[(Long, Double)].collect().toSet
      assert(got == Set((1L, 1.0), (2L, 2.0)))
    } finally q.stop()
  }

  test("streaming content dedup keeps the first arrival per distinct text") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val q = Ingest.contentDedupStream(df, "text", "ts", "10 minutes")
      .writeStream.format("memory").queryName("cdedup_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, ts(0), "same body"), (2L, ts(1), "same body"), // dup CONTENT, new id
        (3L, ts(2), "other body"))
      q.processAllAvailable()
      val got = spark.table("cdedup_stream").select("doc_id", "text")
        .as[(Long, String)].collect().toSet
      assert(got == Set((1L, "same body"), (3L, "other body")))
    } finally q.stop()
  }

  test("streaming funnel gates documents statelessly with batch-identical verdicts") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "the and is with that this from they have word like text here more"),
      (2L, "tiny"),
      (3L, "le la et les des un une dans pour ce il que sur se pas")
    )
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val q = Ingest.funnelStream(df, "text", minTokens = 5, maxTokens = 100,
        keepLangs = Seq("en"), minStop = 0.05)
      .select("doc_id", "verdict")
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("funnel_stream").as[(Long, String)].collect().toMap
      // identical to the batch funnel on the same rows — the twin contract
      val batch = graft.operators.TextAnalysis.filterFunnel(
          docs.toDF("doc_id", "text"), "text", 5, 100, Seq("en"), 0.05)
        .select("doc_id", "verdict").as[(Long, String)].collect().toMap
      assert(got == batch)
      assert(got(1L) == "kept" && got(2L) == "too_short" && got(3L) == "wrong_lang")
    } finally q.stop()
  }

  test("urlStream normalization matches the batch operator across " +
      "micro-batch splits (round-18 crawl-key twin)") {
    implicit val sqlCtx = spark.sqlContext
    val urls = Seq(
      (1L, "https://WWW.Example.CO.UK:443/a?utm_source=x&keep=1#f"),
      (2L, "HTTP://blog.example.com:80/p/2/?ref=tw"),
      (3L, "https://user.github.io/x?gclid=1"),
      (4L, "https://cdn.example.net:8443/y"),
      (5L, "https://weird.zz?fbclid=9"))
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.urlStream(mem.toDF().toDF("doc_id", "url"), "url")
      .select("doc_id", "url_norm", "host", "domain")
      .writeStream.format("memory").queryName("url_stream")
      .outputMode("append").start()
    try {
      // two arbitrary splits — stateless, so boundaries cannot matter
      mem.addData(urls.take(2): _*)
      q.processAllAvailable()
      mem.addData(urls.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("url_stream")
        .as[(Long, String, String, String)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
      val batch = Ingest.urlStream(
          urls.toDF("doc_id", "url"), "url")
        .select("doc_id", "url_norm", "host", "domain")
        .as[(Long, String, String, String)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
      assert(got == batch)
      assert(got(1L) ==
        ("https://www.example.co.uk/a?keep=1", "www.example.co.uk",
          "example.co.uk"))
      assert(got(3L)._3 == "user.github.io") // registrable under github.io
      assert(got(5L) == ("https://weird.zz/", "weird.zz", "weird.zz"))
    } finally q.stop()
  }

  test("urlDedupStream keeps the first fetch per normalized url " +
      "across micro-batch splits (round-19 stateful crawl twin)") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    // three resources, five spellings that collapse only after
    // normalization; ids arrive in order (the fetch-log contract)
    val fetches = Seq(
      (10L, "https://WWW.Example.COM:443/item/1?utm_source=a", ts(0)),
      (11L, "https://www.example.com/item/1#frag", ts(1)),
      (12L, "https://www.example.com/item/2", ts(2)),
      (13L, "HTTPS://www.example.com/item/1?gclid=x", ts(3)),
      (14L, "https://www.example.com/item/3", ts(4)))
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = Ingest.urlDedupStream(
        mem.toDF().toDF("doc_id", "url", "ts"), "url", "ts", "10 minutes")
      .select("url_norm", "doc_id")
      .writeStream.format("memory").queryName("url_dedup_stream")
      .outputMode("append").start()
    try {
      // split mid-duplicate-group: 11 and 13 are refetches of 10's
      // resource arriving in DIFFERENT micro-batches — state must
      // carry the keep decision across the boundary
      mem.addData(fetches.take(2): _*)
      q.processAllAvailable()
      mem.addData(fetches.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("url_dedup_stream")
        .as[(String, Long)].collect().toMap
      val batch = graft.operators.Url.dedupFetches(
          fetches.toDF("doc_id", "url", "ts"), "url", "doc_id")
        .select("url_norm", "keep_id")
        .as[(String, Long)].collect().toMap
      assert(got == batch)
      assert(got("https://www.example.com/item/1") == 10L)
      assert(got.size == 3)
    } finally q.stop()
  }

  test("gopherStream verdicts match the batch rule bundle across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.core.Tables.documents(spark, sf0001).limit(60)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.gopherStream(mem.toDF().toDF("doc_id", "text"),
        "text", "doc_id", minWords = 30)
      .select("doc_id", "pass")
      .writeStream.format("memory").queryName("gopher_stream")
      .outputMode("append").start()
    try {
      // two arbitrary splits — stateless, so boundaries cannot matter
      mem.addData(docs.take(17): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(17): _*)
      q.processAllAvailable()
      val got = spark.table("gopher_stream").as[(Long, Boolean)]
        .collect().toMap
      val batch = graft.operators.TextAnalysis.gopherRules(
          docs.toDF("doc_id", "text"), "text", "doc_id", minWords = 30)
        .select("doc_id", "pass").as[(Long, Boolean)]
        .collect().toMap
      assert(got == batch)
      // the gate discriminates on this slice (not vacuously uniform
      // pass): at minWords=30 some docs fail the word floor
      assert(got.nonEmpty && got.values.exists(!_))
    } finally q.stop()
  }

  test("boostGateStream verdicts match the batch committee across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Boost
    val docs = graft.core.Tables.documents(spark, sf0001).limit(60)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    // train in batch on the slice's own relaxed-gate labels
    val sig = Boost.qualitySignals(docs.toDF("doc_id", "text"), "text", "doc_id")
      .withColumn("y", (col("n_words") >= 30 && col("n_stop") >= 1).cast("int"))
    val model = Boost.trainStumps(sig, "y", Seq("n_words", "n_stop"), rounds = 3)
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.boostGateStream(mem.toDF().toDF("doc_id", "text"),
        "text", "doc_id", model)
      .writeStream.format("memory").queryName("boost_stream")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(23): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(23): _*)
      q.processAllAvailable()
      val got = spark.table("boost_stream").as[(Long, Long)].collect().toMap
      val batch = Boost.scoreStumps(sig, model, Seq("doc_id"))
        .as[(Long, Long)].collect().toMap
      assert(got == batch)
      // the gate discriminates on this slice (both verdicts occur)
      assert(got.values.toSet == Set(0L, 1L))
    } finally q.stop()
  }

  test("logitGateStream scores match the batch scorer across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Boost, Logit}
    val docs = graft.core.Tables.documents(spark, sf0001).limit(60)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val sig = Boost.qualitySignals(docs.toDF("doc_id", "text"), "text", "doc_id")
      .withColumn("y", (col("n_words") >= 30 && col("n_stop") >= 1).cast("int"))
    val model = Logit.train(sig, "y", Seq("n_words", "n_stop"),
      iterations = 40, lr = 2.0)
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.logitGateStream(mem.toDF().toDF("doc_id", "text"),
        "text", "doc_id", model)
      .writeStream.format("memory").queryName("logit_stream")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(17): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(17): _*)
      q.processAllAvailable()
      val got = spark.table("logit_stream")
        .select("doc_id", "z", "prob", "pred")
        .as[(Long, Double, Double, Long)].collect().sortBy(_._1).toSeq
      val batch = Logit.score(sig, model, Seq("doc_id"))
        .select("doc_id", "z", "prob", "pred")
        .as[(Long, Double, Double, Long)].collect().sortBy(_._1).toSeq
      assert(got == batch)
      // the gate discriminates on this slice (both verdicts occur)
      assert(got.map(_._4).toSet == Set(0L, 1L))
    } finally q.stop()
  }

  test("dsirStream weights match the batch operator across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sampling
    val docs = graft.core.Tables.documents(spark, sf0001).limit(50)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val raw = docs.toDF("doc_id", "text")
    val target = raw.filter(col("doc_id") % 2 === 0)
    val model = Sampling.trainDsir(raw, "text", target, "text", buckets = 256)
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.dsirStream(mem.toDF().toDF("doc_id", "text"),
        "text", "doc_id", model)
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(19): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(19): _*)
      q.processAllAvailable()
      val got = spark.table("dsir_stream").as[(Long, Long, Double)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      val batch = Sampling.dsirWeights(raw, "doc_id", "text", target, "text", 256)
        .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == batch)
      assert(got.values.map(_._2).toSet.size > 1) // weights discriminate
    } finally q.stop()
  }

  test("nearDupStream alerts on verified corpus near-dups, stays silent on novel docs") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again"),
      (2L, "completely different words appear in this one here today now")
    ).toDF("doc_id", "text")
    val dir = tempDir("graft-smhidx").toFile.getAbsolutePath
    Dedup.writeMinhashIndex(corpus, "text", "doc_id", s"$dir/idx")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val q = Ingest.nearDupStream(spark, df, "text", "doc_id", "ts", "10 minutes",
        s"$dir/idx")
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      // NOT epoch 0: rows at/below Spark's initial watermark (0) are
      // dropped as late by the stateful dedup
      val t0 = ts(1)
      mem.addData(
        (101L, t0, "the quick brown fox jumps over the lazy dog tonight"), // near-dup of 1
        (102L, t0, "violets are red roses are blue and this text is novel prose"),
        (103L, t0, "the quick brown fox jumps over the lazy dog tonight again")) // = 1
      q.processAllAvailable()
      val got = spark.table("neardup_stream")
        .select("doc_id", "cid", "jaccard")
        .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got.keySet == Set(101L, 103L), s"wrong alert set: $got")
      assert(got(103L) == ((1L, 1.0)))
      assert(got(101L)._1 == 1L && got(101L)._2 >= 0.5)
      // jaccard agrees with the batch indexed path on the same inputs
      val batch = Dedup.incrementalNearDupIndexed(spark, s"$dir/idx",
          Seq((101L, "the quick brown fox jumps over the lazy dog tonight"))
            .toDF("doc_id", "text"), "text", "doc_id")
        .select("doc_id", "jaccard").as[(Long, Double)].collect().toMap
      assert(got(101L)._2 == batch(101L))
    } finally q.stop()
  }

  test("textIndexStream builds a postings index bm25Indexed probes, scores == batch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-textidx").toFile
    dir.delete()
    val path = dir.getAbsolutePath + "/idx"
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val (q, dq) = Ingest.textIndexStream(df, "text", "doc_id",
      path, dir.getAbsolutePath + "/ck", numBuckets = 16)
    try {
      val docs = Seq(
        (1L, "spark shuffle join join join"),
        (2L, "join scan"),
        (3L, "scan scan broadcast"),
        (4L, "nothing relevant"))
      mem.addData(docs: _*)
      q.processAllAvailable()
      dq.processAllAvailable()
      val got = graft.operators.Search.bm25Indexed(spark, path, "doc_id",
          Seq("join", "scan"), k = 10, numBuckets = 16, statsFromDocs = true)
        .select("doc_id", "rank", "score")
        .as[(Long, Int, Double)].collect().toSet
      import spark.implicits._
      val qs = Seq((0L, "join"), (0L, "scan")).toDF("qid", "term")
      val batch = graft.operators.Search.bm25Batch(docs.toDF("doc_id", "text"),
          "text", "doc_id", qs, k = 10)
        .select("doc_id", "rank", "score")
        .as[(Long, Int, Double)].collect().toSet
      assert(got == batch, s"streamed-index $got vs batch $batch")
    } finally {
      q.stop()
      dq.stop()
    }
  }

  test("forestIndexStream builds an fkey-partitioned forest index a probe can prune") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{AnnLsh, Knn}
    val (tables, bits) = (6, 4)
    val dir = tempDir("graft-fsidx").toFile.getAbsolutePath
    val mem = MemoryStream[(Long, Seq[Double])]
    val emb = graft.core.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val rows = emb.as[(Long, Seq[Double])].collect().toSeq
    val q = Ingest.forestIndexStream(mem.toDF().toDF("vec_id", "embedding"),
      "embedding", "vec_id", tables, bits, 64, s"$dir/data", s"$dir/ckpt")
    try {
      mem.addData(rows.take(100): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(100): _*)
      q.processAllAvailable()
    } finally q.stop()
    val dirs = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("fkey="))
    assert(dirs.length > tables, s"expected > $tables fkey partitions, got ${dirs.length}")
    // probing the streamed index matches the in-memory forest
    val qdf = emb.filter(col("vec_id") === 1).select(col("embedding").as("qvec"))
    val streamed = AnnLsh.knnForestIndexed(spark, s"$dir/data", emb, "embedding",
        qdf, 5, tables, bits, 64, Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].collect().toSeq
    val direct = AnnLsh.knnForest(emb, "embedding", qdf, 5, tables, bits, 64,
        Knn.Cosine, "vec_id")
      .select("vec_id").as[Long].collect().toSeq
    assert(streamed == direct)
  }

  test("map-side operators run unchanged over readStream (filterFunnel)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    // zero-shuffle operators need no watermark/state: the SAME code
    // path serves batch and stream, which is the streaming contract
    // for the whole text family (quality, lang_id, scrub, funnel)
    val q = graft.operators.TextAnalysis
      .filterFunnel(df, "text", 20, 90, Seq("en"), 0.02)
      .select(col("doc_id"), col("verdict"))
      .writeStream.format("memory").queryName("funnel")
      .outputMode("append").start()
    try {
      mem.addData((1L, "too short"), (2L, Seq.fill(30)("the cat sat").mkString(" ")))
      q.processAllAvailable()
      val got = spark.table("funnel").as[(Long, String)].collect().toMap
      assert(got == Map(1L -> "too_short", 2L -> "kept"))
    } finally q.stop()
  }

  test("asofStream matches the batch asofJoin once drained") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Ingest.asofStream(df, "click", "view")
      .writeStream.format("memory").queryName("asof")
      .outputMode("append").start()
    val batch1 = Seq(
      (10L, ts(1), 1L, "view", 1.0),
      (20L, ts(2), 1L, "click", 2.0),
      (30L, ts(1), 2L, "click", 5.0),   // no prior view for user 2
      (40L, ts(1), 1L, "purchase", 9.0) // ignored type
    )
    val batch2 = Seq(
      (11L, ts(3), 1L, "view", 3.0),
      (21L, ts(4), 1L, "click", 4.0)    // prior view crosses the batch boundary
    )
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val got = spark.table("asof")
        .select("event_id", "prior_id").as[(Long, Option[Long])].collect().toMap
      assert(got == Map(20L -> Some(10L), 30L -> None, 21L -> Some(11L)))
      // the streaming result equals the batch operator over the union
      val all = (batch1 ++ batch2)
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val batch = graft.operators.Events.asofJoin(all, "ts", "user_id",
          "event_type", "event_id", "value", "click", "view")
        .select("event_id", "prior_id").as[(Long, Option[Long])].collect().toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("asofStream never attaches a FUTURE prior to a late left event") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Ingest.asofStream(df, "click", "view")
      .writeStream.format("memory").queryName("asof_late")
      .outputMode("append").start()
    try {
      // rights arrive in order; a LEFT event then arrives late, with
      // event-time before the newest right. O(1) state has dropped
      // the older right, so the click must get NO prior — never the
      // future view at ts(20)
      mem.addData((10L, ts(10), 1L, "view", 1.0)); q.processAllAvailable()
      mem.addData((11L, ts(20), 1L, "view", 2.0)); q.processAllAvailable()
      mem.addData((20L, ts(15), 1L, "click", 3.0)); q.processAllAvailable()
      val got = spark.table("asof_late")
        .select("event_id", "prior_id", "prior_ts")
        .as[(Long, Option[Long], Option[Timestamp])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got(20L) == ((None, None)),
        s"late click must not see the future view: ${got(20L)}")
    } finally q.stop()
  }

  test("asofStream idle timeout: state evicts, timer re-arms, evicted user sees no prior") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val fn = Ingest.asofGroupFn("click", "view", Some(60000L)) _
    // 1) a view arrives: state updates and the TTL timer is armed
    val s1 = TestGroupState.create[Ingest.AsofState](Optional.empty(),
      GroupStateTimeout.ProcessingTimeTimeout(), 1000L, Optional.empty(), false)
    val out1 = fn(1L, Iterator(Ingest.TypedEv(10L, ts(1), 1L, "view", 1.0)), s1).toSeq
    assert(out1.isEmpty && s1.isUpdated)
    assert(s1.getTimeoutTimestampMs.get() == 1000L + 60000L, "TTL timer not armed")
    // 2) the timeout fires: state is removed, nothing is emitted
    val s2 = TestGroupState.create[Ingest.AsofState](
      Optional.of(Ingest.AsofState(10L, ts(1).getTime, 1.0)),
      GroupStateTimeout.ProcessingTimeTimeout(), 999000L, Optional.empty(), true)
    assert(fn(1L, Iterator.empty, s2).isEmpty && s2.isRemoved)
    // 3) the evicted user's next click sees no prior (bounded
    // staleness is the documented price of bounded state)
    val s3 = TestGroupState.create[Ingest.AsofState](Optional.empty(),
      GroupStateTimeout.ProcessingTimeTimeout(), 1000000L, Optional.empty(), false)
    val out3 = fn(1L, Iterator(Ingest.TypedEv(20L, ts(30), 1L, "click", 2.0)), s3).toSeq
    assert(out3.map(o => (o.event_id, o.prior_id)) == Seq((20L, None)))
  }

  test("stateful sessionize emits closed sessions") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "value")
    val q = Ingest.sessionize(df, gapMinutes = 30,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // two sessions for user 7 arriving in one batch: gap of 40 min
      mem.addData((7L, ts(0), 1.0), (7L, ts(10), 2.0), (7L, ts(50), 3.0))
      q.processAllAvailable()
      val got = spark.table("sessions")
        .select("user_id", "n_events", "sum_value")
        .as[(Long, Long, Double)].collect().toSet
      // first session closed by arrival of the third event; second stays open
      assert(got == Set((7L, 2L, 3.0)))
    } finally q.stop()
  }

  test("pathsStream transitions across batch splits == batch topPaths") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, ts(0), 100L, "view"), (2L, ts(1), 100L, "click"),
      (3L, ts(2), 100L, "buy"), (4L, ts(3), 100L, "view"),
      (5L, ts(0), 200L, "view"), (6L, ts(5), 200L, "click"),
      (7L, ts(9), 200L, "view"), (8L, ts(12), 200L, "click"),
      (9L, ts(2), 300L, "buy"))
    val batch = Events.topPaths(
      rows.map { case (id, t, u, tp) => (id, u, t, tp) }
        .toDF("event_id", "user_id", "ts", "event_type"),
      "user_id", "ts", "event_id", "event_type", 10)
      .as[(String, String, Long)].collect().toSet
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val q = Ingest.pathsStream(
        df.select(col("user_id"), col("ts"), col("event_id"), col("event_type")))
      .writeStream.format("memory").queryName("paths")
      .outputMode("append").start()
    try {
      // split each user's event-time order across the two batches, so
      // equality proves the frontier state carries between batches
      mem.addData(rows.take(5).map { case (id, t, u, tp) => (u, t, id, tp) }: _*)
      q.processAllAvailable()
      mem.addData(rows.drop(5).map { case (id, t, u, tp) => (u, t, id, tp) }: _*)
      // a late event BEHIND user 100's frontier must be dropped, not
      // emitted as a fabricated transition
      mem.addData((100L, ts(1, 30), 99L, "stale"))
      q.processAllAvailable()
      val streamed = Ingest.topPathsFrom(spark.table("paths"), 10)
        .as[(String, String, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("delta-feed twins equal their batch operators on random tied streams") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val types = Vector("view", "click", "buy", "ping")
    for (trial <- 1 to 2) {
      // ts drawn from a tiny range so same-user TIES are common — the
      // (ts, id) tiebreak and tie-insensitive aggregations must hold
      val events = (1L to 40L).map { id =>
        (id, ts(rnd.nextInt(6), rnd.nextInt(2) * 30), 100L + rnd.nextInt(4),
          types(rnd.nextInt(types.size)))
      }
      // global (ts, id) order respects per-user order; split into 3
      // micro-batches at random boundaries
      val ordered = events.sortBy(e => (e._2.getTime, e._1))
      val cut1 = 1 + rnd.nextInt(38); val cut2 = cut1 + rnd.nextInt(39 - cut1)
      val batches = Seq(ordered.take(cut1), ordered.slice(cut1, cut2),
        ordered.drop(cut2))
      val df = events.toDF("event_id", "ts", "user_id", "event_type")

      val memP = MemoryStream[(Long, Timestamp, Long, String)]
      val qp = Ingest.pathsStream(memP.toDF()
          .toDF("user_id", "ts", "event_id", "event_type"))
        .writeStream.format("memory").queryName(s"prop_paths_$trial")
        .outputMode("append").start()
      val memF = MemoryStream[(Long, Timestamp, String)]
      val qf = Ingest.funnelStream(memF.toDF()
          .toDF("user_id", "ts", "event_type"), Seq("view", "click", "buy"))
        .writeStream.format("memory").queryName(s"prop_funnel_$trial")
        .outputMode("append").start()
      val memR = MemoryStream[(Long, Timestamp)]
      val qr = Ingest.retentionStream(memR.toDF().toDF("user_id", "ts"))
        .writeStream.format("memory").queryName(s"prop_ret_$trial")
        .outputMode("append").start()
      val memC = MemoryStream[(Long, String)]
      val qc = Ingest.cooccurrenceStream(memC.toDF()
          .toDF("user_id", "event_type"))
        .writeStream.format("memory").queryName(s"prop_cooc_$trial")
        .outputMode("append").start()
      try {
        batches.foreach { b =>
          memP.addData(b.map(e => (e._3, e._2, e._1, e._4)): _*)
          memF.addData(b.map(e => (e._3, e._2, e._4)): _*)
          memR.addData(b.map(e => (e._3, e._2)): _*)
          memC.addData(b.map(e => (e._3, e._4)): _*)
          qp.processAllAvailable(); qf.processAllAvailable()
          qr.processAllAvailable(); qc.processAllAvailable()
        }
        val pathsBatch = Events.topPaths(df, "user_id", "ts", "event_id",
            "event_type", 100)
          .as[(String, String, Long)].collect().toSet
        val pathsStreamed = Ingest.topPathsFrom(
            spark.table(s"prop_paths_$trial"), 100)
          .as[(String, String, Long)].collect().toSet
        assert(pathsStreamed == pathsBatch, s"paths trial $trial")
        val funnelBatch = Events.funnel(df, "ts", "user_id", "event_type",
            Seq("view", "click", "buy"))
          .as[(Long, Timestamp, Option[Timestamp], Option[Timestamp], Long)]
          .collect().toSet
        val funnelStreamed = Ingest.funnelFrom(
            spark.table(s"prop_funnel_$trial"), 3)
          .as[(Long, Timestamp, Option[Timestamp], Option[Timestamp], Long)]
          .collect().toSet
        assert(funnelStreamed == funnelBatch, s"funnel trial $trial")
        val retBatch = Events.retention(df, "ts", "user_id")
          .as[(java.sql.Date, Long, Long)].collect().toSet
        val retStreamed = Ingest.retentionFrom(spark.table(s"prop_ret_$trial"))
          .as[(java.sql.Date, Long, Long)].collect().toSet
        assert(retStreamed == retBatch, s"retention trial $trial")
        val coocBatch = Events.typeCooccurrence(df, "user_id", "event_type")
          .as[(String, String, Long, Long, Long, Long, Double, Double)]
          .collect().toSet
        val coocStreamed = Ingest.cooccurrenceReport(
            spark.table(s"prop_cooc_$trial"))
          .as[(String, String, Long, Long, Long, Long, Double, Double)]
          .collect().toSet
        assert(coocStreamed == coocBatch, s"cooc trial $trial")
      } finally { qp.stop(); qf.stop(); qr.stop(); qc.stop() }
    }
  }

  test("anomalyStream scores each closed day against strictly-prior history") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    def dts(day: Int, hour: Int): Timestamp =
      Timestamp.valueOf(f"2024-02-${day + 1}%02d $hour%02d:00:00")
    // type A: day0=2 events, day1=4, day2=30 (spike), day3 opens but
    // never closes; type B: one day only, never closes
    val rows =
      Seq.fill(2)(0).zipWithIndex.map { case (_, h) => (dts(0, h), "A") } ++
      Seq.fill(4)(0).zipWithIndex.map { case (_, h) => (dts(1, h), "A") } ++
      Seq.fill(30)(0).zipWithIndex.map { case (_, h) => (dts(2, h % 24), "A") } ++
      Seq((dts(3, 1), "A"), (dts(0, 5), "B"))
    val mem = MemoryStream[(Timestamp, String)]
    val q = Ingest.anomalyStream(mem.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("anom")
      .outputMode("append").start()
    try {
      // split mid-day-2 across batches: the open-day count must carry
      mem.addData(rows.take(16): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(16): _*)
      q.processAllAvailable()
      val got = spark.table("anom")
        .select(col("event_type"), col("day"), col("n_events"),
          col("zscore"), col("is_anomaly"))
        .as[(String, java.sql.Date, Long, Option[Double], Boolean)]
        .collect().toSet
      val d = (n: Int) => java.sql.Date.valueOf(f"2024-02-${n + 1}%02d")
      // day0: no history -> null z; day1: prior [2], zero variance ->
      // null z; day2: prior [2,4] mean 3 var 1 -> z=27, anomaly
      assert(got == Set(
        ("A", d(0), 2L, None, false),
        ("A", d(1), 4L, None, false),
        ("A", d(2), 30L, Some(27.0), true)))
    } finally q.stop()
  }

  test("substringSpanStream == batch probeSubstringSpans over the same index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "alpha beta the shared run of six words gamma delta"),
      (2L, "other corpus content that nobody quotes anywhere at all")
    ).toDF("doc_id", "text")
    val path = tempDir("graft-subgate")
      .toString + "/idx"
    Dedup.writeSubstringIndex(corpus, "text", "doc_id", path, minLen = 4,
      numBuckets = 8)
    val delta = Seq(
      (20L, "intro words here the shared run of six words closing"),
      (21L, "nope nope nope unique chatter nope nope nope unique chatter"),
      (22L, "short"))
    val batch = Dedup.probeSubstringSpans(spark,
        path, delta.toDF("doc_id", "text"), "text", "doc_id",
        minLen = 4, numBuckets = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.substringSpanStream(spark,
        mem.toDF().toDF("doc_id", "text"), "text", "doc_id", path,
        minLen = 4, numBuckets = 8)
      .writeStream.format("memory").queryName("subgate")
      .outputMode("append").start()
    try {
      mem.addData(delta.take(2): _*)
      q.processAllAvailable()
      mem.addData(delta.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("subgate")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("funnelStream deltas roll up to the exact batch funnel report") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "buy")
    val rows = Seq(
      (100L, ts(0), "view"), (100L, ts(1), "click"), (100L, ts(2), "buy"),
      (200L, ts(0), "click"), // before any view: must not count
      (200L, ts(1), "view"), (200L, ts(5), "click"), (200L, ts(6), "view"),
      (300L, ts(3), "view"),
      (400L, ts(0), "buy"))   // never step 1: no row at all
    val batch = Events.funnel(
      rows.toDF("user_id", "ts", "event_type"), "ts", "user_id",
      "event_type", steps)
      .as[(Long, Timestamp, Option[Timestamp], Option[Timestamp], Long)]
      .collect().toSet
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = Ingest.funnelStream(
        mem.toDF().toDF("user_id", "ts", "event_type"), steps)
      .writeStream.format("memory").queryName("funnel_d")
      .outputMode("append").start()
    try {
      // user 200's advancing click arrives in batch 2: state carries
      mem.addData(rows.take(5): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(5): _*)
      q.processAllAvailable()
      val streamed = Ingest.funnelFrom(spark.table("funnel_d"), steps.size)
        .as[(Long, Timestamp, Option[Timestamp], Option[Timestamp], Long)]
        .collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("retentionStream deltas roll up to the exact batch retention matrix") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    def dts(day: Int, hour: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-${day + 1}%02d $hour%02d:00:00")
    val rows = Seq(
      (100L, dts(0, 10)), (100L, dts(0, 11)), (100L, dts(1, 9)), (100L, dts(3, 8)),
      (200L, dts(1, 10)), (200L, dts(2, 10)), (200L, dts(2, 23)))
    val batch = Events.retention(
      rows.toDF("user_id", "ts"), "ts", "user_id")
      .as[(java.sql.Date, Long, Long)].collect().toSet
    val mem = MemoryStream[(Long, Timestamp)]
    val q = Ingest.retentionStream(mem.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("ret_d")
      .outputMode("append").start()
    try {
      // split mid-user: 100's day-3 return and 200's repeat day-2
      // event arrive in batch 2 — the day frontier must carry
      mem.addData(rows.take(4): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(4): _*)
      q.processAllAvailable()
      val streamed = Ingest.retentionFrom(spark.table("ret_d"))
        .as[(java.sql.Date, Long, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("cooccurrenceStream deltas roll up to the exact batch PMI report") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq( // repeats both within and across users
      (100L, "view"), (100L, "click"), (100L, "view"), (100L, "buy"),
      (200L, "view"), (200L, "click"), (200L, "click"),
      (300L, "buy"), (300L, "view"))
    val batch = Events.typeCooccurrence(
      rows.toDF("user_id", "event_type"), "user_id", "event_type")
      .as[(String, String, Long, Long, Long, Long, Double, Double)]
      .collect().toSet
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("user_id", "event_type")
    val q = Ingest.cooccurrenceStream(df)
      .writeStream.format("memory").queryName("cooc")
      .outputMode("append").start()
    try {
      // split mid-user: user 200's repeat "click" and user 300 arrive
      // in batch 2 — set-semantics deltas must not double-emit
      mem.addData(rows.take(6): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(6): _*)
      q.processAllAvailable()
      val streamed = Ingest.cooccurrenceReport(spark.table("cooc"))
        .as[(String, String, Long, Long, Long, Long, Double, Double)]
        .collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("classifyStream equals batch scoring on random corpora and random batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val rnd = new scala.util.Random(11)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "zz")
    for (trial <- 1 to 2) {
      val train = (1 to 30).map { _ =>
        val lbl = if (rnd.nextBoolean()) "a" else "b"
        val words = (0 until 1 + rnd.nextInt(8))
          .map(_ => vocab(rnd.nextInt(vocab.size)))
        (lbl, words.mkString(" "))
      }.toDF("lang", "text")
      val model = TextAnalysis.trainNaiveBayes(train, "text", "lang", 32)
      val docs = (1L to 25L).map { id =>
        val words = (0 until rnd.nextInt(6))
          .map(_ => vocab(rnd.nextInt(vocab.size)))
        (id, if (words.isEmpty && rnd.nextBoolean()) null else words.mkString(" "))
      }
      val batch = TextAnalysis.naiveBayesScoreAll(
          docs.toDF("doc_id", "text"), "text", "doc_id", model)
        .as[(Long, String, Double)].collect().toSet
      val cut1 = 1 + rnd.nextInt(23); val cut2 = cut1 + rnd.nextInt(24 - cut1)
      val batches = Seq(docs.take(cut1), docs.slice(cut1, cut2), docs.drop(cut2))
      val mem = MemoryStream[(Long, String)]
      val q = Ingest.classifyStream(mem.toDF().toDF("doc_id", "text"),
          "text", "doc_id", model)
        .writeStream.format("memory").queryName(s"prop_nb_$trial")
        .outputMode("append").start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        val streamed = spark.table(s"prop_nb_$trial")
          .as[(Long, String, Double)].collect().toSet
        // EXACT double equality across arbitrary batch boundaries —
        // scoring is stateless and the fold order is per-row
        assert(streamed == batch, s"nb trial $trial")
      } finally q.stop()
    }
  }

  test("classifyStream scores arriving docs bit-identically to the batch classifier") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val train = Seq(("a", "aaa aaa aaa zz"), ("a", "aaa zz"),
      ("b", "bbb bbb bbb zz"), ("b", "bbb zz")).toDF("lang", "text")
    val model = TextAnalysis.trainNaiveBayes(train, "text", "lang", 64)
    val docs = Seq((1L, "aaa aaa"), (2L, "bbb"), (3L, ""),
      (4L, "aaa bbb zz"))
    val batch = TextAnalysis.naiveBayesScoreAll(
        docs.toDF("doc_id", "text"), "text", "doc_id", model)
      .as[(Long, String, Double)].collect().toSet
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.classifyStream(mem.toDF().toDF("doc_id", "text"),
        "text", "doc_id", model)
      .writeStream.format("memory").queryName("nbclass")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(2): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("nbclass")
        .as[(Long, String, Double)].collect().toSet
      assert(streamed == batch && batch.size == 4)
    } finally q.stop()
  }

  test("curateStream + curateResolve equals pipeline_curate_v2 across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    // the DECLARED batch composition is the contract — not a re-built
    // stand-in: the stream path must reproduce its exact row set
    val batch = SparkEntry.queries("pipeline_curate_v2")(spark, sf0001)
      .as[(Long, String, Long, String)].collect().toSet
    assert(batch.nonEmpty, "batch composition should keep documents")
    // stream side: the same corpus arrives in three arbitrary
    // micro-batches; the gate is the TRAINED kernel (bit-identical to
    // the distributed classifier the batch query runs — its own pin)
    val corpus = registry.Shared.kbCorpus(spark, sf0001)
      .as[(Long, String)].collect().sortBy(_._1)
    val train = graft.core.Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 5 =!= 0)
    val model = TextAnalysis.trainNaiveBayes(train, "text", "lang", 4096)
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.curateStream(mem.toDF().toDF("doc_id", "text"),
        "text", "doc_id", minTokens = 20, maxTokens = 90,
        keepLangs = Seq("en"), minStop = 0.02, model, gateLabel = "en")
      .writeStream.format("memory").queryName("curate_sink")
      .outputMode("append").start()
    try {
      val (c1, c2) = (corpus.size / 3, 2 * corpus.size / 3)
      Seq(corpus.take(c1), corpus.slice(c1, c2), corpus.drop(c2))
        .foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // materialize the sink as a concrete frame: a production sink is
      // a parquet read (fresh relation per use); the memory-table View
      // trips Spark's self-join dedup inside the resolve's keyed aggs
      val sink = spark.table("curate_sink")
        .as[(Long, String, String, Long)].collect().toSeq
        .toDF("doc_id", "text", "pred_lang", "n_tokens")
      val resolved = Ingest.curateResolve(sink, "text", "doc_id")
        .as[(Long, String, Long, String)].collect().toSet
      assert(resolved == batch,
        s"stream+resolve diverged: only-stream=${(resolved -- batch).take(5)} " +
          s"only-batch=${(batch -- resolved).take(5)}")
    } finally q.stop()
  }
}
