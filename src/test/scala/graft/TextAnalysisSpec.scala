package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the cat is in the hat and it is good"),
    (2L, "der hund ist nicht ein die das mit du ich"),
    (3L, "xyzzy plugh foobar"),
    (4L, "el que no la de un se ser en y")
  ).toDF("doc_id", "text")

  test("langId picks the profile with most stopword hits, 'und' when none") {
    val got = TextAnalysis.langId(docs, "text")
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(got(1L) == "en")
    assert(got(2L) == "de")
    assert(got(3L) == "und")
    assert(got(4L) == "es")
  }

  test("quality computes ratios over tokens") {
    val row = TextAnalysis.quality(docs, "text")
      .filter(col("doc_id") === 1)
      .select("n_tokens", "stop_ratio", "punct_ratio")
      .as[(Long, Double, Double)].head()
    assert(row._1 == 10L)
    // the, is, the, and, it, is -> 7 hits of en stopwords ("in" too)
    assert(row._2 == 0.7)
    assert(row._3 == 0.0)
  }

  test("tokenCounts splits on whitespace and subword regex") {
    val row = TextAnalysis.tokenCounts(
        Seq((1L, "abc12 de-f")).toDF("doc_id", "text"), "text")
      .select("n_ws_tokens", "n_subtokens", "n_chars_actual")
      .as[(Long, Long, Long)].head()
    assert(row._1 == 2L)     // "abc12", "de-f"
    assert(row._2 == 5L)     // abc, 12, de, -, f
    assert(row._3 == 10L)
  }

  test("fingerprint: identical docs share fp_min; short docs degrade gracefully") {
    val d = Seq(
      (1L, "a b c d e f g h i j k l m"),
      (2L, "a b c d e f g h i j k l m"),
      (3L, "a b c"),   // one shingle -> 1 fingerprint
      (4L, "a b")      // no shingles
    ).toDF("doc_id", "text")
    val got = TextAnalysis.fingerprint(d, "text", "doc_id")
      .select("doc_id", "fp_min", "n_fp")
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), r.getLong(2))).toMap
    assert(got(1L) == got(2L))
    assert(got(3L)._2 == 1L)
    assert(got(4L) == (None, 0L))
  }

  test("piiScrub redacts emails, IPs, and phones; counts on original text") {
    val df = Seq(
      (1L, "mail me at jo.doe+x@corp.example.org or call 555-123-4567"),
      (2L, "server 192.168.1.200 and backup 10.0.0.7"),
      (3L, "nothing sensitive here")
    ).toDF("id", "text")
    val got = TextAnalysis.piiScrub(df, "text")
      .select("id", "n_pii", "text_clean")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got(1L)._1 == 2)
    assert(got(1L)._2 == "mail me at <EMAIL> or call <PHONE>")
    assert(got(2L)._1 == 2)
    assert(got(2L)._2 == "server <IP> and backup <IP>")
    assert(got(3L) == ((0L, "nothing sensitive here")))
  }

  test("normalizeText lowercases, collapses whitespace, trims") {
    val df = Seq(Tuple1("  Hello   WORLD\tfoo  ")).toDF("t")
    val got = df.select(TextAnalysis.normalizeText(col("t"))).as[String].head()
    assert(got == "hello world foo")
  }

  test("stripHtml drops tags and decodes common entities") {
    val df = Seq(Tuple1("<p>Tom &amp; Jerry say &quot;hi&quot;</p><br/>")).toDF("t")
    val got = df.select(TextAnalysis.normalizeText(TextAnalysis.stripHtml(col("t"))))
      .as[String].head()
    assert(got == "tom & jerry say \"hi\"")
  }

  test("tfidf ranks distinctive terms above ubiquitous ones") {
    val df = Seq(
      (1L, "spark spark spark common"),
      (2L, "duck duck common"),
      (3L, "goose common")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tfidf(df, "text", "doc_id", 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    // "common" appears in every doc -> low idf; each doc's own term wins
    assert(got == Map(1L -> "spark", 2L -> "duck", 3L -> "goose"))
    val k2 = TextAnalysis.tfidf(df, "text", "doc_id", 2)
    assert(k2.filter(col("doc_id") === 1L).count() == 2)
    // ranks are dense per doc, scores non-increasing
    val r = k2.filter(col("doc_id") === 1L).orderBy("rank")
      .select("rank", "score").as[(Int, Double)].collect()
    assert(r.map(_._1).toSeq == Seq(1, 2) && r(0)._2 >= r(1)._2)
  }

  test("corpusNgrams ranks by document frequency with a total tie-break order") {
    val corpus = Seq(
      (1L, "a b c a b c"), // grams: "a b c" x2, "b c a", "c a b"
      (2L, "a b c d"),     // grams: "a b c", "b c d"
      (3L, "x y")          // shorter than n -> no grams
    ).toDF("doc_id", "text")
    val top = TextAnalysis.corpusNgrams(corpus, "text", "doc_id", 3, 2)
      .as[(String, Long, Long)].collect().toSeq
    assert(top.head == (("a b c", 3L, 2L)))
    // remaining grams all have (tf, df) = (1, 1): gram order decides
    assert(top(1) == (("b c a", 1L, 1L)))
  }

  /** Texts whose splitting is easy to get wrong: empty, leading,
    * trailing and doubled spaces, a repeated word, a non-ASCII word. */
  private val embedTexts = Seq(
    "the quick brown fox the quick", "vector stream filter join merge scan",
    "", "solo", " a", "a ", "a  b", "naïve café 東京 naïve")

  test("HashEmbed expression is bit-identical to the test reference embedder") {
    val docs = embedTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fused = docs.select(col("doc_id"),
        graft.functions.TextExprs.hashEmbedCol(
          graft.operators.Dedup.words(col("text")), 16).as("e"))
      .as[(Long, Seq[Double])].collect().toMap
    val ref = embedTexts.zipWithIndex.map { case (t, i) => i.toLong -> HashEmbedRef.embed(t, 16) }
      .toMap
    // exact equality, not tolerance: same counts, same integer Σc²,
    // same divisions
    assert(fused == ref, s"fused $fused vs reference $ref")
  }

  test("Embed.embedText equals embedDense bit for bit, one row per input row") {
    import graft.operators.Embed
    val uniq = embedTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val docs = (uniq :+ uniq.head).toDF("doc_id", "text")
    val dense = Embed.embedDense(docs, "text", "doc_id", 16)
      .as[(Long, Seq[Double])].collect()
    // a repeated id keeps each of its rows
    assert(dense.length == embedTexts.size + 1)
    dense.foreach { case (id, v) =>
      val t = embedTexts(id.toInt)
      assert(Embed.embedText(t, 16).toSeq == v, s"'$t'")
      assert(v == HashEmbedRef.embed(t, 16), s"'$t'")
    }
    // embed_text's sparse form is the dense form's nonzero entries
    val sparse = Embed.embedSparse(uniq.toDF("doc_id", "text"), "text", "doc_id", 16)
      .as[(Long, Long, Double)].collect().toSet
    val expected = embedTexts.indices.flatMap { i =>
      HashEmbedRef.embed(embedTexts(i), 16).zipWithIndex
        .collect { case (w, b) if w != 0.0 => (i.toLong, b.toLong, w) }
    }.toSet
    assert(sparse == expected)
  }

  test("charEntropy: uniform chars score 0, ln(2) for a 50/50 mix, NULL keeps row") {
    val docs = Seq(
      (1L, "aaaaaa"),          // one distinct char -> 0 entropy
      (2L, "ababab"),          // 50/50 -> ln 2
      (3L, "!!!???"),          // nothing in alphabet -> n = 0 -> 0.0
      (4L, null.asInstanceOf[String]),
      (5L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(docs, "text", "doc_id")
      .select("doc_id", "char_entropy").as[(Long, Double)].collect().toMap
    assert(math.abs(out(1L)) < 1e-12)
    assert(math.abs(out(2L) - math.log(2.0)) < 1e-12)
    assert(out(3L) == 0.0 && out(4L) == 0.0)
    // healthy English sits well above gibberish
    assert(out(5L) > 2.0, s"english entropy ${out(5L)}")
    assert(out.size == 5)
  }

  test("removeBoilerplate drops high-df chunks, keeps order, never drops rows") {
    val boiler = "b1 b2 b3 b4"
    val corpus = Seq(
      (1L, s"$boiler u1 u2 u3 u4"),
      (2L, s"$boiler o1 o2 o3 o4"),
      (3L, "m1 m2 m3 m4 " + boiler + " t1 t2 t3 t4"), // boiler mid-doc
      (4L, boiler)                                    // all boilerplate
    ).toDF("doc_id", "text")
    val out = TextAnalysis.removeBoilerplate(corpus, "text", "doc_id", 4, 1)
      .select("doc_id", "n_chunks", "n_dropped", "clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2L, 1L, "u1 u2 u3 u4")))
    assert(out(2L) == ((2L, 1L, "o1 o2 o3 o4")))
    assert(out(3L) == ((3L, 1L, "m1 m2 m3 m4 t1 t2 t3 t4")))
    assert(out(4L) == ((1L, 1L, ""))) // row survives with empty text
    // NULL text coalesces to '' — the row is kept, not dropped
    val withNull = corpus.unionByName(
      Seq((9L, Option.empty[String])).toDF("doc_id", "text"))
    val out2 = TextAnalysis.removeBoilerplate(withNull, "text", "doc_id", 4, 1)
      .select("doc_id").as[Long].collect().toSet
    assert(out2 == Set(1L, 2L, 3L, 4L, 9L))
  }

  test("repetition measures intra-doc duplicate n-gram fractions") {
    val corpus = Seq(
      (1L, "a b a b a b"),  // g2: [ab, ba, ab, ba, ab] -> 3/5 dup; g3: [aba, bab, aba, bab] -> 2/4
      (2L, "x y z w"),      // no repeats
      (3L, "solo")          // shorter than n -> 0.0, not null
    ).toDF("doc_id", "text")
    val withNull = corpus.unionByName(
      Seq((4L, Option.empty[String])).toDF("doc_id", "text"))
    val got = TextAnalysis.repetition(withNull, "text", "doc_id")
      .select("doc_id", "rep_2", "rep_3").as[(Long, Double, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((0.6, 0.5)))
    assert(got(2L) == ((0.0, 0.0)))
    assert(got(3L) == ((0.0, 0.0)))
    assert(got(4L) == ((0.0, 0.0))) // NULL text -> 0.0, like the oracle
  }

  test("filterFunnel applies stages in first-fail order") {
    val corpus = Seq(
      (1L, "too short"),                                    // 2 tokens
      (2L, Seq.fill(200)("the").mkString(" ")),             // 200 tokens
      (3L, Seq.fill(30)("der").mkString(" ")),              // German -> wrong_lang
      (4L, ("the " + Seq.fill(60)("zz").mkString(" "))),    // en but 1/61 stopwords
      (5L, Seq.fill(30)("the cat sat").mkString(" "))       // healthy en
    ).toDF("doc_id", "text").unionByName(
      Seq((6L, Option.empty[String])).toDF("doc_id", "text")) // NULL text
    val v = TextAnalysis.filterFunnel(corpus, "text", 20, 90, Seq("en"), 0.02)
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(v == Map(1L -> "too_short", 2L -> "too_long", 3L -> "wrong_lang",
      4L -> "low_stopword", 5L -> "kept", 6L -> "empty"))
  }

  test("truncateTokens keeps the first N whitespace tokens") {
    val df = Seq(Tuple1("a b c d e f")).toDF("t")
    assert(df.select(TextAnalysis.truncateTokens(col("t"), 3)).as[String].head() == "a b c")
    // shorter text passes through unchanged
    assert(df.select(TextAnalysis.truncateTokens(col("t"), 99)).as[String].head() == "a b c d e f")
  }

  test("chunkDocs strides overlapping windows, keeps the short tail, never drops rows") {
    val docs = Seq(
      (1L, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"), // 10 words
      (2L, "a b"),                            // shorter than one chunk
      (3L, null.asInstanceOf[String])         // NULL text
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocs(docs, "text", "doc_id",
        chunkTokens = 4, strideTokens = 2)
      .as[(Long, Int, Int, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // doc 1: starts 0,2,4,6,8 -> 5 chunks, trailing chunk is short
    val c1 = got(1L)
    assert(c1.length == 5 && c1.forall(_._3 == 5))
    assert(c1.map(_._4).toSeq == Seq(
      "w0 w1 w2 w3", "w2 w3 w4 w5", "w4 w5 w6 w7", "w6 w7 w8 w9", "w8 w9"))
    assert(c1.map(_._5).toSeq == Seq(4L, 4L, 4L, 4L, 2L))
    // every token position is covered by >= 1 chunk and consecutive
    // chunks overlap by chunk-stride tokens
    assert(got(2L).map(_._4).toSeq == Seq("a b"))
    // NULL text -> one empty chunk, row retained
    assert(got(3L).map(_._4).toSeq == Seq(""))
  }

  test("corpusProfile cells partition the corpus and shares sum to 1") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val prof = TextAnalysis.corpusProfile(docs, "text", bucketWidth = 20, maxBucket = 10)
      .as[(String, Int, Long, Long, Double)].collect()
    assert(prof.map(_._3).sum == docs.count())  // cells partition the corpus
    assert(math.abs(prof.map(_._5).sum - 1.0) < 1e-9)
    assert(prof.forall(r => r._2 >= 0 && r._2 <= 10))
    // bucket arithmetic: every doc of known length lands where expected
    val one = Seq((1L, ("w " * 45).trim)).toDF("doc_id", "text") // 45 tokens
    val cell = TextAnalysis.corpusProfile(one, "text", 20, 10)
      .as[(String, Int, Long, Long, Double)].head()
    assert(cell._2 == 2 && cell._4 == 45L) // 45 div 20 = 2
  }

  test("vocabCoverage: cutoff picks globally-common words, OOV counted per source") {
    // "aa" appears 4x (both sources), "bb" 3x, "cc" 2x, rare words once
    val corpus = Seq(
      (1L, "s1", "aa aa bb cc rare1"),
      (2L, "s1", "aa bb cc"),
      (3L, "s2", "aa bb rare2 rare3"),
      (4L, "s2", null.asInstanceOf[String]) // NULL text: zero tokens, no crash
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.vocabCoverage(corpus, "text", col("source"), vocabSize = 3)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // vocab = {aa, bb, cc} (counts 4, 3, 2); rare1-3 are OOV
    assert(got("s1") == ((8L, 1L, 0.125)))
    assert(got("s2") == ((4L, 2L, 0.5)))
  }

  test("vocabCoverage vocab tie-break is (count desc, word asc)") {
    val corpus = Seq((1L, "x", "bb aa bb aa cc")).toDF("doc_id", "source", "text")
    // aa and bb tie at 2; vocabSize 1 must pick aa
    val got = TextAnalysis.vocabCoverage(corpus, "text", col("source"), vocabSize = 1)
      .as[(String, Long, Long, Double)].head()
    assert(got == (("x", 5L, 3L, 0.6)))
  }

  test("corpusDrift surfaces the words whose mass moved between slices") {
    val corpus = Seq(
      (1L, "old", "the cat sat on the mat"),
      (2L, "old", "the dog sat"),
      (3L, "new", "the spam spam spam offer"),
      (4L, "other", "ignored entirely")
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.corpusDrift(corpus, "text", col("source"), "old", "new", k = 3)
      .as[(String, Long, Long, Double, Double, Double)].collect()
    // spam: 0/9 vs 3/5 -> drift 0.6, the top mover
    assert(got.head._1 == "spam" && got.head._2 == 0L && got.head._3 == 3L)
    assert(math.abs(got.head._6 - 0.6) < 1e-9)
    // rows outside the two sides never contribute
    assert(!got.map(_._1).contains("ignored"))
    // drift ordering is descending
    assert(got.map(_._6).toSeq == got.map(_._6).sortBy(-_).toSeq)
  }

  test("lmScore: corpus-typical transitions score lower NLL than gibberish") {
    // ten docs establish "the cat sat" as the dominant pattern; doc 11
    // repeats it (every transition common), doc 12 is vocabulary soup
    // (every transition unique) — the quality gap the signal exists for
    val corpus = ((1L to 10L).map(i => (i, "the cat sat on the mat")) ++
      Seq((11L, "the cat sat on the mat the cat sat"),
          (12L, "mat the on sat cat zq"),
          (13L, "solo"),
          (14L, null.asInstanceOf[String]))).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(corpus, "text", "doc_id")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(11L)._2 < got(12L)._2,
      s"typical ${got(11L)._2} should beat gibberish ${got(12L)._2}")
    // transition counts: n tokens -> n-1 transitions; degenerate docs
    // keep a row with 0 transitions and score 0.0
    assert(got(1L)._1 == 5L)
    assert(got(13L) == ((0L, 0.0)) && got(14L) == ((0L, 0.0)))
    // deterministic: two runs agree bit-for-bit
    val again = TextAnalysis.lmScore(corpus, "text", "doc_id")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == again)
  }

  test("naiveBayes learns separable labels; token-less docs keep a row and tie to the first label") {
    val train = Seq(("a", "aaa aaa aaa zz"), ("a", "aaa zz"),
      ("b", "bbb bbb bbb zz"), ("b", "bbb zz")).toDF("lang", "text")
    val test = Seq((1L, "aaa aaa"), (2L, "bbb"), (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextAnalysis.naiveBayes(train, test, "text", "doc_id", "lang", 64)
      .select("doc_id", "pred").as[(Long, String)].collect().toMap
    assert(got.size == 4)
    assert(got(1L) == "a")
    assert(got(2L) == "b")
    // no tokens -> priors only; 2 docs per label ties -> first label
    assert(got(3L) == "a" && got(4L) == "a")
  }

  test("naiveBayes prior decides token-less docs and shared vocabulary adds no signal") {
    val train = Seq(("a", "zz zz"), ("b", "zz"), ("b", "zz zz"),
      ("b", "zz")).toDF("lang", "text")
    val test = Seq((1L, ""), (2L, "zz zz zz")).toDF("doc_id", "text")
    val got = TextAnalysis.naiveBayes(train, test, "text", "doc_id", "lang", 64)
      .select("doc_id", "pred").as[(Long, String)].collect().toMap
    // priors 1:3 -> "b"; a doc of only the shared token still leans on
    // the prior (per-token ratios differ but priors dominate at 3:1)
    assert(got(1L) == "b")
    // determinism: two runs agree on predictions AND scores bit-for-bit
    val s1 = TextAnalysis.naiveBayes(train, test, "text", "doc_id", "lang", 64)
      .select("doc_id", "pred", "nb_score").as[(Long, String, Double)].collect().toSet
    val s2 = TextAnalysis.naiveBayes(train, test, "text", "doc_id", "lang", 64)
      .select("doc_id", "pred", "nb_score").as[(Long, String, Double)].collect().toSet
    assert(s1 == s2)
  }

  test("gopherRules evaluates every rule independently and conjoins them") {
    val fixture = Seq(
      (1L, "the cat and dog sat on it to go up"),          // mwl 2.5 -> fails
      (2L, "12 34 56 78 90 11"),                            // no alpha, no stopwords
      (3L, null.asInstanceOf[String]),                      // empty -> all fail
      (4L, "they walked the winding road and found that little house in evening light")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(fixture, "text", "doc_id",
        minWords = 5, maxWords = 100)
      .select("doc_id", "n_words", "words_ok", "mwl_ok", "alpha_ok", "stop_ok", "pass")
      .as[(Long, Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 10L, true, false, true, true, false)))
    assert(got(2L) == ((2L, 6L, true, false, false, false, false)))
    assert(got(3L) == ((3L, 0L, false, false, false, false, false)))
    assert(got(4L) == ((4L, 13L, true, true, true, true, true)))
  }

  test("naiveBayesScoreAll over a trained model is bit-identical to the batch operator") {
    val all = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val train = all.filter(col("doc_id") % 5 =!= 0)
    val test = all.filter(col("doc_id") % 5 === 0)
    val batch = TextAnalysis.naiveBayes(train, test, "text", "doc_id", "lang", 512)
      .select("doc_id", "pred", "nb_score")
      .as[(Long, String, Double)].collect().toSet
    val model = TextAnalysis.trainNaiveBayes(train, "text", "lang", 512)
    assert(model.labels.sameElements(model.labels.sorted))
    assert(model.lls.length == model.labels.length * 512)
    val kernel = TextAnalysis.naiveBayesScoreAll(test, "text", "doc_id", model)
      .select("doc_id", "pred", "nb_score")
      .as[(Long, String, Double)].collect().toSet
    // EXACT double equality — the kernel's fold order is the contract
    assert(kernel == batch)
  }

  test("withheld label: neither path can predict it, kernel still equals batch, stats row is exact") {
    val all = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    // 'de' never trains: score-time data from an untrained language
    // must land on SOME trained label, identically on both paths
    val train = all.filter(col("doc_id") % 5 =!= 0 && col("lang") =!= "de")
    val test = all.filter(col("doc_id") % 5 === 0)
    val batch = TextAnalysis.naiveBayes(train, test, "text", "doc_id", "lang", 512)
      .select("doc_id", "pred", "nb_score")
      .as[(Long, String, Double)].collect().toSet
    assert(batch.nonEmpty && !batch.exists(_._2 == "de"),
      "an untrained label must be unpredictable")
    val deDocs = test.filter(col("lang") === "de")
      .select("doc_id").as[Long].collect().toSet
    assert(deDocs.nonEmpty && deDocs.subsetOf(batch.map(_._1)),
      "unseen-label docs must still score, not drop")
    val model = TextAnalysis.trainNaiveBayes(train, "text", "lang", 512)
    assert(!model.labels.contains("de"))
    val kernel = TextAnalysis.naiveBayesScoreAll(test, "text", "doc_id", model)
      .select("doc_id", "pred", "nb_score")
      .as[(Long, String, Double)].collect().toSet
    assert(kernel == batch)
    // collision stats: recompute vocabulary/buckets brute-force
    val stats = TextAnalysis.nbBucketStats(train, "text", 512)
      .as[(Long, Long, Long, Long, Double)].collect().head
    val vocab = train.select(col("text")).as[String].collect()
      .flatMap(t => Option(t).getOrElse("").split(" ")).filter(_.nonEmpty).toSet
    val occupied = vocab.map(t => java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15),
      16) % 512)
    assert(stats == ((512L, vocab.size.toLong, occupied.size.toLong,
      (vocab.size - occupied.size).toLong,
      (vocab.size - occupied.size).toDouble / vocab.size)))
  }

  test("nbCalibration: per-label bins match a local softmax mirror; separable corpus is confident-and-right") {
    // planted signal: each label's docs repeat a distinctive token i
    // times (i = doc index), so confidence genuinely varies by doc
    val train = (
      (1 to 6).map(i => ("a", ("aaa " * i).trim + " zz shared")) ++
      (1 to 6).map(i => ("b", ("bbb " * i).trim + " zz shared")) ++
      (1 to 6).map(i => ("c", ("ccc " * i).trim + " zz shared"))
    ).toDF("lang", "text")
    val test = (
      (1 to 5).map(i => (i.toLong, "a", ("aaa " * i).trim + " shared")) ++
      (1 to 5).map(i => (10L + i, "b", ("bbb " * i).trim + " shared")) ++
      Seq((21L, "c", "zz"), (22L, "a", ""))   // ambiguous + token-less
    ).toDF("doc_id", "lang", "text")
    val B = 256
    val got = TextAnalysis.nbCalibration(train, test, "text", "doc_id",
        "lang", B, bins = 10, sharpness = 4.0)
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    // local mirror: per-doc tempered softmax over naiveBayesScores
    val scores = TextAnalysis.naiveBayesScores(train, test, "text",
        "doc_id", "lang", B)
      .as[(Long, String, Double)].collect().groupBy(_._1)
    val nTok = test.as[(Long, String, String)].collect()
      .map(r => r._1 -> Option(r._3).getOrElse("").split(" ")
        .count(_.nonEmpty)).toMap
    val truth = test.as[(Long, String, String)].collect()
      .map(r => r._1 -> r._2).toMap
    val perDoc = scores.map { case (id, rows) =>
      val mx = rows.map(_._3).max
      val z = rows.sortBy(_._2).map(r =>
        math.exp(4.0 * (r._3 - mx) / (nTok(id) + 1.0))).foldLeft(0.0)(_ + _)
      val pred = rows.filter(_._3 == mx).map(_._2).min
      val cq = BigDecimal(1000000.0 / z)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (id, pred, cq, if (pred == truth(id)) 1L else 0L)
    }.toSeq
    val expect = perDoc.groupBy { case (_, pred, cq, _) =>
      (pred, math.min(cq * 10 / 1000000, 9L))
    }.map { case (k, rows) =>
      k -> ((rows.size.toLong, rows.map(_._4).sum,
        rows.map(_._4).sum.toDouble / rows.size,
        rows.map(_._3).sum.toDouble / (rows.size * 1000000.0)))
    }
    assert(got == expect)
    // structure: multiple labels and bins actually populated, and the
    // planted-signal rows are confident AND right
    assert(got.keys.map(_._1).toSet.intersect(Set("a", "b")).size == 2)
    val strong = got.filter { case ((l, bin), _) => bin >= 5 && l != "c" }
    assert(strong.nonEmpty && strong.values.forall(_._3 == 1.0), got.toString)
    // determinism across partitioning
    val again = TextAnalysis.nbCalibration(train.repartition(5),
        test.repartition(3), "text", "doc_id", "lang", B, 10, 4.0)
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    assert(again == got)
    // the deploy form — cached model + the all-labels NbScoresVec
    // kernel — is bit-identical to the chain (same fold order, same
    // doubles, same integer grid), including the ambiguous and the
    // token-less doc
    val model = TextAnalysis.trainNaiveBayes(train, "text", "lang", B)
    val deploy = TextAnalysis.nbCalibrationFromModel(test, "text",
        "doc_id", "lang", model, bins = 10, sharpness = 4.0)
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    assert(deploy == got)
  }

  test("cooccurrence: exact windowed pair counts, PMI vs local mirror") {
    // "x y" always adjacent (high PMI), "x z" never within window 2
    val docs = Seq(
      "x y a b c", "x y b a c", "a x y c b",
      "c b a x y", "a b c x y", "q q q q z").toDF("text")
    val got = TextAnalysis.cooccurrence(docs, "text", window = 2,
        minCount = 1L)
      .as[(String, String, Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    // local mirror of the forward-window pair walk
    val texts = docs.as[String].collect().map(_.split(" ").toSeq)
    val uni = texts.flatten.groupMapReduce(identity)(_ => 1L)(_ + _)
    val tt = uni.values.sum
    val exp = texts.flatMap { l =>
      l.indices.flatMap(i =>
        (i + 1 to math.min(i + 2, l.length - 1)).map(j => (l(i), l(j))))
    }.groupMapReduce(identity)(_ => 1L)(_ + _)
    def r5(v: Double) = BigDecimal(v)
      .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == exp.keySet)
    got.foreach { case ((a, b), (ca, cb, pc, lift, pmi)) =>
      assert(ca == uni(a) && cb == uni(b) && pc == exp((a, b)))
      val el = pc.toDouble * tt / (uni(a).toDouble * uni(b))
      assert(lift == r5(el) && pmi == r5(math.log(el)), s"($a,$b)")
    }
    // "x y" adjacent in every doc -> top PMI among x-pairs; (x, z)
    // never co-occurs within the window
    assert(got.contains(("x", "y")) && !got.contains(("x", "z")))
    // minCount floors the output
    val floored = TextAnalysis.cooccurrence(docs, "text", 2, 5L)
      .as[(String, String, Long, Long, Long, Double, Double)].collect()
    assert(floored.forall(_._5 >= 5L))
    // partitioning-independent
    val again = TextAnalysis.cooccurrence(docs.repartition(7), "text", 2, 1L)
      .as[(String, String, Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(again == got)
  }

  test("perplexityBuckets: fluent docs land in head, thirds partition the corpus") {
    // three NLL tiers: 30 copies of a fluent pattern (lowest NLL), 20
    // copies of a rarer pattern (middle), 10 unique-gibberish docs
    // whose once-seen transitions all share the highest NLL
    val fluent = (0L until 30L).map(i =>
      (i, "the cat sat on the mat and the dog sat on the rug"))
    val mid = (30L until 50L).map(i =>
      (i, "a bird flew over a tree while a fish swam below it"))
    val noise = (50L until 60L).map(i =>
      (i, s"zq$i xv$i wk$i jp$i qg$i bn$i md$i lr$i ts$i hf$i"))
    val corpus = (fluent ++ mid ++ noise).toDF("doc_id", "text")
    val got = TextAnalysis.perplexityBuckets(corpus, "text", "doc_id",
        sampleK = 64)
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.values.map(_._1).sum == 60L)
    assert(math.abs(got.values.map(_._3).sum - 1.0) < 1e-9)
    // each tier is internally NLL-identical, so buckets = tiers
    assert(got("head")._1 == 30L && got("middle")._1 == 20L
      && got("tail")._1 == 10L, got.toString)
    assert(got("head")._2 < got("tail")._2)
    // deterministic under repartitioning
    val again = TextAnalysis.perplexityBuckets(corpus.repartition(7),
        "text", "doc_id", sampleK = 64)
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(again == got)
  }

  test("heavyHitters: exact counts, partitioning-independent despite the MG sketch") {
    val hot = (0 until 3).flatMap(i => Seq.fill(100)(s"hot$i"))
    val cold = (0 until 500).map(j => s"cold$j")
    val df = scala.util.Random.javaRandomToRandom(new java.util.Random(7))
      .shuffle(hot ++ cold).toDF("w")
    val got = TextAnalysis.heavyHitters(df, col("w"), minSharePpm = 100000)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    // 3 hot values at 100/800 = 12.5% each; every cold is 1/800
    assert(got == Map("hot0" -> 100L, "hot1" -> 100L, "hot2" -> 100L))
    for (parts <- Seq(1, 5, 17)) {
      val again = TextAnalysis.heavyHitters(df.repartition(parts), col("w"),
          minSharePpm = 100000)
        .as[(String, Long, Double)].collect().map(r => r._1 -> r._2).toMap
      assert(again == got, s"parts=$parts")
    }
  }

  test("MgAgg candidate buffer is bounded and never drops a true heavy hitter") {
    import graft.functions.MgAgg
    val k = 9
    val rows = ((0 until 40).map(_ => "heavy") ++
      (0 until 300).map(i => s"noise${i % 60}"))
    // 340 rows; heavy = 40 > 340/(k+1) = 34, so it MUST survive
    for (parts <- Seq(1, 4, 13)) {
      val cands = rows.toDF("v").repartition(parts)
        .agg(MgAgg.candidates(col("v"), k).as("c"))
        .select(explode(col("c")).as("v")).as[String].collect()
      assert(cands.length <= k, s"parts=$parts size=${cands.length}")
      assert(cands.contains("heavy"), s"parts=$parts cands=${cands.mkString(",")}")
    }
  }
}
