package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, and winnowing fingerprints.
  *
  * Everything is built from codegen'd built-ins (split / filter /
  * transform / aggregate / regexp) — map-side only, no shuffles, no
  * UDFs — so these run at full scan speed over a 100 TB corpus.
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles for the n-gram-free heuristic
    * language ID. Order matters: ties resolve to the first list. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "du", "ich", "ein", "mit"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "he"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "ser", "se", "no"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du", "que", "pas"),
    "it" -> Seq("il", "di", "che", "la", "non", "un", "per", "con", "del", "si"))

  val enStopwords: Seq[String] = langProfiles.toMap.apply("en")

  private def w(text: Column): Column = split(text, " ")

  private def stopHits(text: Column, list: Seq[String]): Column =
    size(filter(w(text), t => t.isin(list.map(lit): _*)))

  /** Stopword-hit language scores + argmax prediction ('und' when no
    * profile matches). Tie-break: first language in profile order. */
  def langId(df: DataFrame, textCol: String): DataFrame = {
    val scored = langProfiles.foldLeft(df) { case (acc, (lang, list)) =>
      acc.withColumn(s"score_$lang", stopHits(col(textCol), list))
    }
    val scores = langProfiles.map { case (lang, _) => col(s"score_$lang") }
    val best = greatest(scores: _*)
    val pred = langProfiles.zipWithIndex.foldRight(lit("und")) {
      case (((lang, _), _), els) =>
        when(col(s"score_$lang") === best && best > 0, lang).otherwise(els)
    }
    // `when` chains evaluate in order, so the FIRST matching language
    // wins ties — foldRight builds exactly that chain.
    scored.withColumn("lang_pred", pred).withColumn("lang_score", best)
  }

  /** Quality features + a composite score in [0, 1]. */
  def quality(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    val words = w(text)
    val n = size(words)
    val punct = length(regexp_replace(text, "[a-z0-9 ]", "")).cast("double") / length(text)
    val stop = stopHits(text, enStopwords).cast("double") / n
    val meanLen = aggregate(transform(words, t => length(t)),
      lit(0), (a, x) => a + x).cast("double") / n
    df.withColumn("n_tokens", n.cast("bigint"))
      .withColumn("punct_ratio", punct)
      .withColumn("stop_ratio", stop)
      .withColumn("mean_word_len", meanLen)
      .withColumn("quality",
        lit(0.4) * stop + lit(0.3) * (lit(1.0) - punct) +
          lit(0.3) * least(n.cast("double") / 100.0, lit(1.0)))
  }

  /** Whitespace tokens, BPE-ish subword tokens (letter runs / digit
    * runs / single other), and character count. */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    df.withColumn("n_ws_tokens", size(w(text)).cast("bigint"))
      .withColumn("n_subtokens",
        size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("bigint"))
      .withColumn("n_chars_actual", length(text).cast("bigint"))
  }

  /** Top-k characteristic terms per document by tf-idf. One explode +
    * two keyed aggregations (term frequency per doc, document
    * frequency per term) + a doc-partitioned window for the top-k —
    * every stage is keyed by doc or term, so the plan scales with the
    * corpus and never sees a global window. idf uses the smoothed
    * ln((N+1)/(df+1))+1 so unseen/ubiquitous terms stay finite. */
  def tfidf(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val n = df.agg(count(lit(1)).as("_n_docs"))
    val terms = df.select(col(idCol).as("doc_id"),
      explode(w(col(textCol))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df_count"))
      .crossJoin(broadcast(n))
      .select(col("term"),
        (log((col("_n_docs") + 1.0) / (col("df_count") + 1.0)) + 1.0).as("idf"))
    val scored = tf.join(idf, "term")
      .select(col("doc_id"), col("term"), (col("tf") * col("idf")).as("score"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(byDoc))
      .filter(col("rank") <= k)
  }

  /** PII patterns, written to the common subset of RE2 (the
    * reference's dialect) and java.util.regex: plain classes and
    * bounded repeats only, so Spark and any RE2 engine redact
    * identically. Order of application matters — emails first (their
    * local parts may contain digits), then IPs (dotted), then phones
    * (dashed); the replacement tokens contain no digits so passes
    * can't cascade. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Redact emails, IPv4 addresses, and dashed phone numbers — the
    * scrubbing pass an LLM data pipeline runs before training. Adds
    * `text_clean` (all PII replaced by type tokens) and `n_pii`
    * (matches found, counted on the original text). Map-side regexes
    * only — full scan speed, no shuffle. */
  def piiScrub(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_pii",
        (regexp_count(t, lit(EmailRe)) + regexp_count(t, lit(Ipv4Re)) +
          regexp_count(t, lit(PhoneRe))).cast("long"))
      .withColumn("text_clean",
        regexp_replace(regexp_replace(regexp_replace(t,
          EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>"))
  }

  /** Canonical text normalization: lowercase, collapse whitespace
    * runs, trim. The standard pre-dedup/pre-tokenize cleanup. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Strip HTML: drop tags, decode the common entities — the
    * web-crawl boilerplate cleanup, as map-side regex passes (a real
    * pipeline's readability extraction slots in where this runs). */
  def stripHtml(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    val ents = Seq("&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&nbsp;" -> " ")
    ents.foldLeft(noTags) { case (acc, (e, r)) => regexp_replace(acc, e, r) }
  }

  /** Truncate to the first `maxTokens` whitespace tokens — the
    * context-window clamp before packing/training. */
  def truncateTokens(c: Column, maxTokens: Int): Column =
    concat_ws(" ", slice(split(c, " "), 1, maxTokens))

  /** Winnowing fingerprint (Schleimer et al. 2003, "local algorithms
    * for document fingerprinting"): hash every word 3-gram, slide a
    * window of `window` hashes, keep each window's min; the distinct
    * mins are the document's fingerprints. Emits the global min and
    * the distinct-fingerprint count. */
  def fingerprint(df: DataFrame, textCol: String, idCol: String,
                  shingleN: Int = 3, window: Int = 8): DataFrame = {
    // hash arrays + window minima come from the SHARED builders in
    // Dedup (which carry the materialize-words-first performance
    // contract) so fingerprints and excerpt decontamination
    // (Dedup.winnowedFps) can never drift apart
    val withH = Dedup.shingleHashArrays(df, textCol, idCol, shingleN)
    val h = col("_h")
    val m = size(h)
    val winnowed = Dedup.winnowMinima(h, window)
    withH.select(col(idCol),
      when(m === 0, lit(null).cast("long")).otherwise(array_min(h)).as("fp_min"),
      when(m === 0, lit(0L))
        .when(m < window, lit(1L))
        .otherwise(size(array_distinct(winnowed)).cast("bigint")).as("n_fp"))
  }

  /** Corpus-wide top-k word n-grams by document frequency — the
    * boilerplate / contamination profile of a corpus (the aggregate
    * view a pipeline inspects before choosing dedup thresholds).
    *
    * Two keyed aggregations, both with map-side partial combine: the
    * first collapses per-(gram, doc) repeats so document frequency is
    * a plain count (never a count-distinct shuffle), the second sums
    * to corpus totals. Top-k is `orderBy.limit` = TakeOrdered —
    * O(k) rows per partition to the driver, no global sort. Ordering
    * is fully tie-broken (df, tf, gram) so the k-boundary is
    * deterministic and oracle-stable. */
  def corpusNgrams(df: DataFrame, textCol: String, idCol: String,
                   n: Int, k: Int): DataFrame = {
    val grams = df
      .select(col(idCol).as("_id"), Dedup.words(col(textCol)).as("_w"))
      .select(col("_id"), explode(Dedup.shinglesFromWords(col("_w"), n)).as("gram"))
    grams.groupBy(col("gram"), col("_id"))
      .agg(count(lit(1)).as("_tf"))
      .groupBy(col("gram"))
      .agg(sum(col("_tf")).as("total_count"), count(lit(1)).as("doc_count"))
      .orderBy(col("doc_count").desc, col("total_count").desc, col("gram").asc)
      .limit(k)
  }

  /** Corpus-level windowed word co-occurrence with PMI — the
    * skip-gram statistics an embedding-training step consumes
    * (word2vec-style) and the collocation dashboard ("which words
    * travel together in THIS corpus") read before building phrase
    * vocabularies. For each token, every token up to `window`
    * positions AFTER it forms a directional (a, b) pair; PMI is
    * ln(P(a,b) / (P(a)·P(b))) over pair/unigram/total counts.
    *
    * Scale shape: pair generation is PURE MAP-SIDE — a nested HOF
    * over each document's own token array (doc_len × window structs
    * per doc, no posexplode self-join); pair and unigram counts are
    * keyed aggs whose key spaces are the pair/word vocabularies,
    * never corpus-sized. The count joins key the PAIR-vocabulary
    * frame by word (Spark broadcasts the unigram side when small,
    * sort-merge otherwise — both vocabulary-scale); the total rides
    * in as a broadcast single row. `minCount` bounds the output to
    * pairs with corpus support (and kills the low-count PMI noise
    * that dominates unfiltered rankings).
    *
    * Determinism: all counts are exact integers; lift divides doubles
    * in one fixed expression and pmi = round(ln(lift), 5) — the
    * [[graft.operators.Events#typeCooccurrence]] rule, oracle-stable. */
  def cooccurrence(df: DataFrame, textCol: String, window: Int,
                   minCount: Long): DataFrame = {
    require(window > 0, s"window must be > 0, got $window")
    val toks = filter(split(col(textCol), " "), t => length(t) > 0)
    val base = df.select(toks.as("_l"))
    val uni = base.select(explode(col("_l")).as("_w"))
      .groupBy(col("_w")).agg(count(lit(1)).as("_cw"))
    val tot = uni.agg(sum(col("_cw")).as("_tt"))
    val pairs = base
      .select(explode(flatten(transform(col("_l"), (x, i) =>
        transform(slice(col("_l"), i + lit(2), lit(window)), y =>
          struct(x.as("a"), y.as("b")))))).as("_p"))
      .groupBy(col("_p.a").as("word_a"), col("_p.b").as("word_b"))
      .agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minCount)
    val lift = (col("pair_count").cast("double") * col("_tt")) /
      (col("_ca").cast("double") * col("_cb"))
    pairs
      .join(uni.select(col("_w").as("word_a"), col("_cw").as("_ca")),
        Seq("word_a"))
      .join(uni.select(col("_w").as("word_b"), col("_cw").as("_cb")),
        Seq("word_b"))
      .crossJoin(broadcast(tot))
      .select(col("word_a"), col("word_b"),
        col("_ca").as("count_a"), col("_cb").as("count_b"),
        col("pair_count"), round(lift, 5).as("lift"),
        round(log(lift), 5).as("pmi"))
  }

  /** Remove boilerplate: cut every document into non-overlapping
    * `chunkWords`-word chunks, count each chunk's document frequency
    * corpus-wide, and rebuild the text keeping only chunks seen in at
    * most `maxDf` documents — the standard repeated-passage scrub
    * (headers, footers, license blocks) run before training.
    *
    * Scale shape: the chunk grid is arithmetic (`transform` over a
    * `sequence`, chunks materialized as attributes — never re-split
    * per element), df is the same two-level keyed agg as
    * [[corpusNgrams]], and the rebuild groups by doc — every stage is
    * keyed by chunk or doc, bounded fanout, no self-join. Documents
    * whose chunks are ALL boilerplate survive with empty
    * `clean_text`, so the operator never drops rows. */
  def removeBoilerplate(df: DataFrame, textCol: String, idCol: String,
                        chunkWords: Int, maxDf: Int): DataFrame = {
    val c = chunkWords
    // NULL text coalesces to '' so the row still yields one (empty)
    // chunk and survives to the output — the operator never drops rows
    val chunks = df
      .select(col(idCol), Dedup.words(coalesce(col(textCol), lit(""))).as("_w"))
      .select(col(idCol),
        transform(
          sequence(lit(0), (ceil(size(col("_w")) / lit(c.toDouble))).cast("int") - 1),
          b => concat_ws(" ", slice(col("_w"), b * c + 1, lit(c)))).as("_chunks"))
      .select(col(idCol), posexplode(col("_chunks")).as(Seq("pos", "chunk")))
    // only the OFFENDERS leave the aggregation: the boilerplate set
    // (chunks in > maxDf docs) is small by construction, so the probe
    // side joins against it broadcast-style (AQE) instead of
    // shuffling every chunk's text through a full df join
    val boiler = chunks.groupBy(col("chunk"), col(idCol))
      .agg(count(lit(1)).as("_n"))
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("chunk_df"))
      .filter(col("chunk_df") > maxDf)
      .select(col("chunk"), lit(true).as("_drop"))
    chunks.join(boiler, Seq("chunk"), "left")
      .withColumn("_drop", coalesce(col("_drop"), lit(false)))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("_drop"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when(!col("_drop"),
              struct(col("pos"), col("chunk"))))),
            s => s("chunk")), " ").as("clean_text"))
  }

  /** Character-entropy quality signal: Shannon entropy of the doc's
    * character distribution over a FIXED alphabet (default a-z, 0-9,
    * space) — near-zero for gibberish loops ("aaaa…"), ~3 nats for
    * healthy English; the cheap first-pass filter for binary spew and
    * keyboard mash that token-level signals miss.
    *
    * Pure map-side, ONE pass over the string's bytes: the codegen'd
    * [[graft.functions.CharEntropy]] expression counts and folds in
    * FIXED alphabet order — the float-sum determinism rule (SURVEY
    * §4), so values are bit-identical across engines and
    * partitionings and match the oracle's per-char-count formulation
    * term for term. Characters outside the alphabet are ignored.
    * NULL/empty text scores 0.0 and keeps its row. */
  def charEntropy(df: DataFrame, textCol: String, idCol: String,
                  alphabet: String = "abcdefghijklmnopqrstuvwxyz0123456789 "): DataFrame =
    df.withColumn("char_entropy",
      graft.functions.TextExprs.charEntropyCol(
        coalesce(col(textCol), lit("")), alphabet))

  /** Intra-document repetition ratios — the Gopher-style quality
    * signal: for each n in `ns`, the fraction of the document's word
    * n-gram occurrences that are repeats of an earlier occurrence
    * WITHIN the same document (0 = no repetition, → 1 = the document
    * is a loop). Pure map-side: words and gram arrays materialize as
    * attributes (never re-split per element), no shuffle anywhere. */
  def repetition(df: DataFrame, textCol: String, idCol: String,
                 ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    // NULL text coalesces to '' -> no grams -> ratio 0.0, matching
    // the oracle (greatest(len(NULL),1) -> empty range -> 0.0 there)
    val withW = df.select(col(idCol),
      Dedup.words(coalesce(col(textCol), lit(""))).as("_w"))
    val withG = ns.foldLeft(withW) { (acc, n) =>
      acc.withColumn(s"_g$n", Dedup.shinglesFromWords(col("_w"), n))
    }
    ns.foldLeft(withG) { (acc, n) =>
      val g = col(s"_g$n")
      acc.withColumn(s"rep_$n",
        when(size(g) === 0, lit(0.0)).otherwise(
          (size(g) - size(array_distinct(g))).cast("double") / size(g)))
    }.drop(ns.map(n => s"_g$n") :+ "_w": _*)
  }

  /** Chunk documents into fixed-size overlapping word windows — the
    * passage-splitting step run before embedding long documents
    * (window `chunkTokens` words, step `strideTokens` ≤ chunkTokens;
    * the trailing chunk may be shorter). Chunk ids are deterministic
    * (`doc_id`, position), so re-runs and downstream joins line up.
    *
    * Scale shape: an arithmetic grid over a materialized words array
    * (`transform` over `sequence`, like [[removeBoilerplate]]) +
    * one `posexplode` — pure map-side, zero shuffles, output rows ≈
    * tokens/stride per doc. NULL text coalesces to '' (one empty
    * chunk), so the operator never drops rows — the same no-drop
    * contract as [[removeBoilerplate]]. */
  def chunkDocs(df: DataFrame, textCol: String, idCol: String,
                chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(strideTokens > 0 && strideTokens <= chunkTokens,
      s"stride must be in [1, chunkTokens], got $strideTokens")
    val s = strideTokens
    val chunks = transform(
      // start offsets 0, s, 2s, … while start < n (n ≥ 1: split of
      // '' is [''], so every doc yields ≥ 1 chunk)
      sequence(lit(0), floor((size(col("_w")) - 1) / lit(s.toDouble)).cast("int")),
      i => concat_ws(" ", slice(col("_w"), i * s + 1, lit(chunkTokens))))
    df.select(col(idCol), Dedup.words(coalesce(col(textCol), lit(""))).as("_w"))
      .select(col(idCol), chunks.as("_chunks"))
      .select(col(idCol), size(col("_chunks")).as("n_chunks"),
        posexplode(col("_chunks")).as(Seq("chunk_id", "chunk_text")))
      .select(col(idCol), col("chunk_id"), col("n_chunks"), col("chunk_text"),
        size(Dedup.words(col("chunk_text"))).cast("bigint").as("chunk_tokens"))
  }

  /** Corpus profile: doc counts, token mass, and corpus share per
    * (language, length-bucket) cell — the first dashboard run over a
    * new crawl. Buckets are fixed-width integer token bins
    * (`n_tokens div bucketWidth`, capped at `maxBucket` so the tail
    * is one cell) — integer arithmetic only, so the histogram is
    * bit-reproducible across engines and partitionings.
    *
    * Scale shape: signals are map-side ([[langId]] + one `size`),
    * then ONE keyed agg; the share denominator joins from a
    * single-row agg (broadcast), never a global window over raw
    * rows. Output cardinality is langs × buckets — driver-safe at
    * any corpus size. */
  def corpusProfile(df: DataFrame, textCol: String,
                    bucketWidth: Int, maxBucket: Int): DataFrame = {
    require(bucketWidth > 0 && maxBucket >= 0,
      s"need bucketWidth > 0 and maxBucket >= 0, got ($bucketWidth, $maxBucket)")
    val scored = langId(df, textCol)
      .withColumn("_n", size(Dedup.words(coalesce(col(textCol), lit("")))).cast("bigint"))
    // integer division (div), never float division + floor: the
    // bucket id must be bit-exact in every engine
    // the cells frame (langs × buckets rows, driver-tiny) is
    // referenced twice — once for the output, once for the share
    // denominator. The denominator prunes total_tokens, so the two
    // references plan different exchanges and no exchange is reused:
    // an eager cut pins the corpus scan to ONE pass
    val cells = scored.groupBy(col("lang_pred").as("lang"),
        least(expr(s"_n div $bucketWidth"), lit(maxBucket.toLong)).cast("int").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_n")).as("total_tokens"))
      .localCheckpoint()
    val total = cells.agg(sum(col("n_docs")).as("_total"))
    cells.crossJoin(total)
      .withColumn("share", col("n_docs").cast("double") / col("_total"))
      .drop("_total")
  }

  /** First-fail quality funnel — the keep/drop gate a training
    * pipeline runs over a raw crawl, with the drop REASON per doc so
    * the funnel is auditable (stage counts = one groupBy on top).
    * Stages in fixed order: `empty` (NULL text — no signals at all),
    * `too_short` (< minTokens), `too_long` (> maxTokens),
    * `wrong_lang` (lang_pred not in keepLangs — catches 'und' too),
    * `low_stopword` (stop_ratio < minStop), else `kept`. Pure map-side on top of [[quality]] + [[langId]] —
    * one scan, zero shuffles, composes with [[Sampling.stratified]]
    * downstream. */
  def filterFunnel(df: DataFrame, textCol: String, minTokens: Int,
                   maxTokens: Int, keepLangs: Seq[String],
                   minStop: Double): DataFrame = {
    val scored = langId(quality(df, textCol), textCol)
    scored.withColumn("verdict",
      when(col("n_tokens").isNull, "empty") // NULL text: no signals at all
        .when(col("n_tokens") < minTokens, "too_short")
        .when(col("n_tokens") > maxTokens, "too_long")
        .when(!col("lang_pred").isin(keepLangs.map(lit): _*), "wrong_lang")
        .when(col("stop_ratio") < minStop, "low_stopword")
        .otherwise("kept"))
  }

  /** Tokenizer-vocabulary build + coverage report: the top-`vocabSize`
    * words across the corpus (by total count, ties by word) and, per
    * `groupCol` slice, how much of that slice the vocabulary covers —
    * total tokens, out-of-vocabulary tokens, and the OOV rate. This is
    * the go/no-go report a tokenizer-training step produces before a
    * vocab is frozen: a source with a high OOV rate is about to be
    * tokenized into byte-fallback soup.
    *
    * Scale shape: ONE keyed agg over (word, group) carries all the
    * information — the vocabulary (a groupBy(word) roll-up of that
    * frame, top-k via TakeOrdered on a vocab-sized frame), the
    * per-group totals, and the covered mass (broadcast-sized join
    * of the roll-up against the vocab) all derive from it, so the
    * corpus is scanned ONCE and everything downstream is
    * word-cardinality-sized. Counts are integer sums; the
    * (count, word) vocabulary cutoff is a total order — the same
    * vocab set falls out of every engine. */
  def vocabCoverage(df: DataFrame, textCol: String, groupCol: Column,
                    vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    // (word, group) counts: the one corpus-scan agg everything reuses;
    // word-cardinality-sized, so an eager cut is executor-cheap and
    // pins the scan to one pass (the vocab join's inferred null filter
    // gives one reader its own exchange, so exchange reuse would not)
    val wg = df.select(groupCol.as("grp"),
        explode(Dedup.words(coalesce(col(textCol), lit("")))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"), col("grp")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val vocab = wg.groupBy(col("word")).agg(sum(col("n")).as("total"))
      .orderBy(col("total").desc, col("word").asc).limit(vocabSize)
      .select(col("word"))
    val totals = wg.groupBy(col("grp")).agg(sum(col("n")).as("total_tokens"))
    val covered = wg.join(broadcast(vocab), Seq("word"))
      .groupBy(col("grp")).agg(sum(col("n")).as("in_vocab"))
    totals.join(covered, Seq("grp"), "left")
      .select(col("grp").as("source"), col("total_tokens"),
        (col("total_tokens") - coalesce(col("in_vocab"), lit(0L))).as("oov_tokens"),
        ((col("total_tokens") - coalesce(col("in_vocab"), lit(0L))).cast("double")
          / col("total_tokens")).as("oov_rate"))
  }

  /** Distribution drift between two corpus slices — the "did the new
    * crawl change under us" check run before mixing a fresh snapshot
    * into training data. Unigram relative frequencies in slice
    * `sideA` vs slice `sideB` of `groupCol`; the top-`k` words by
    * absolute rate difference, with both counts and rates. A stable
    * corpus drifts ~0 everywhere; a topic/spam shift surfaces as a
    * handful of words owning the mass change.
    *
    * Scale shape: one keyed agg over (word, side) — grams never leave
    * their keyed partitions un-aggregated; per-side totals are a
    * 2-row roll-up of that frame (broadcast); the final top-k is a
    * TakeOrdered over word-cardinality rows. Rates divide integer
    * counts by integer totals in one fixed expression, so the drift
    * values (and the (drift, word) cutoff order) reproduce exactly
    * in any engine. */
  /** Corpus-self-trained bigram language-model score — the
    * perplexity-style quality signal (CCNet's filtering idea, public:
    * Wenzek et al. 2020): per doc, the mean negative log-likelihood
    * of its word transitions under a Laplace-smoothed bigram model
    * counted from the WHOLE corpus. Low = the doc reads like the
    * corpus (predictable transitions); high = gibberish, shuffled
    * words, or vocabulary soup — exactly the rows a quality gate
    * drops that length/punctuation ratios miss.
    *
    * Scale shape: unigram/bigram count tables are keyed aggs with
    * map-side combine (never count-distinct); the scoring pass is two
    * equi-joins on (prev, cur) / prev — both key-partitioned
    * shuffles; the vocabulary size is a one-row agg broadcast back.
    * The per-doc sum is reassembled in POSITION order
    * (`array_sort` → sequential `aggregate` fold) because plain SUM
    * aggregation order is engine-unspecified — the oracle mirrors
    * with `list_sum(list(nll ORDER BY pos))`. All inputs to `ln` are
    * integer-derived ratios, so scores are engine-reproducible.
    *
    * Output: (id, n_trans, lm_nll) — docs with < 2 tokens score 0.0
    * over 0 transitions (kept: scoring is a signal, not a filter). */
  def lmScore(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      filter(w(coalesce(col(textCol), lit(""))), t => t =!= "").as("w"))
    val pairs = toks.select(col(idCol),
        explode(when(size(col("w")) >= 2,
          transform(sequence(lit(1), size(col("w")) - 1),
            i => struct(i.as("pos"),
              element_at(col("w"), i).as("prev"),
              element_at(col("w"), i + 1).as("cur"))))
          .otherwise(array().cast("array<struct<pos:int,prev:string,cur:string>>"))).as("s"))
      .select(col(idCol), col("s.pos").as("pos"),
        col("s.prev").as("prev"), col("s.cur").as("cur"))
    val uni = toks.select(explode(col("w")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("nw"))
    val bi = pairs.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("npc"))
    val vf = uni.agg(count(lit(1)).as("vs"))
    // every transition exists in the corpus it was counted from, so
    // inner joins lose nothing; Laplace (add-one) smoothing keeps the
    // model total and the arithmetic integer-derived.
    // Assemble the MODEL first (r19, guide §2.3 "shuffle fewer
    // bytes"): nll is a pure function of (prev, cur), so fold uni and
    // the vocab count into the bigram frame — distinct-bigram-sized —
    // and join the transition stream ONCE; the previous shape joined
    // the full corpus transition stream twice (by (prev,cur), then
    // again by prev). Same -log((npc+1)/(nw+vs)) double from the same
    // integers, attached to the same rows.
    val model = bi
      .join(uni.withColumnRenamed("word", "prev"), Seq("prev"))
      .crossJoin(broadcast(vf))
      .select(col("prev"), col("cur"),
        (-log((col("npc") + lit(1.0)) / (col("nw") + col("vs")))).as("nll"))
    val scored = pairs
      .join(model, Seq("prev", "cur"))
      .select(col(idCol), col("pos"), col("nll"))
    val agg = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trans"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("nll")))),
            s => s.getField("nll")),
          lit(0.0), (acc, x) => acc + x).as("_s"))
    toks.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_trans"), lit(0L)).as("n_trans"),
        coalesce(col("_s") / col("n_trans"), lit(0.0)).as("lm_nll"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, public):
    * split the corpus into head / middle / tail thirds by language-
    * model NLL — the standard "keep the fluent third, inspect the
    * middle, drop the tail" triage before mixing. Thresholds are the
    * 1/3 and 2/3 quantiles of the corpus NLL distribution read off a
    * deterministic fixed-size sample (the
    * [[graft.functions.SampleValuesAgg]] buffer — the events_quantiles
    * machinery applied corpus-wide), NOT a corpus sort: a
    * percent_rank/ntile window would shuffle and sort every row
    * through one task chain at 100 TB; the sample keeps ≤ `sampleK`
    * (hash, value) pairs per partition and one reduce row.
    *
    * Engine-reproducibility: per-doc NLL snaps to the 1e-6 integer
    * grid BEFORE anything cross-doc — bucket membership is integer
    * comparison against sampled thresholds and each bucket's mean is
    * an exact integer sum divided once (cross-doc float sums would be
    * order-dependent). Low NLL = fluent = head.
    *
    * Output: one row per bucket — (bucket, n_docs, mean_nll, share). */
  def perplexityBuckets(df: DataFrame, textCol: String, idCol: String,
                        sampleK: Int = 256,
                        seed: String = "ppl0"): DataFrame = {
    require(sampleK >= 2, s"sampleK must be >= 2, got $sampleK")
    // snapped sits on top of the full lmScore chain (bigram explode +
    // two model joins + per-doc ordered fold) and has THREE consumers
    // (threshold sample, total count, the bucketed agg) — as a plain
    // plan the chain re-executed per consumer. Cut it once (r19, guide
    // §5 / the pagerank `cut` rule): the checkpointed frame is 2 longs
    // per doc, and the cut runs inside the timed query builder.
    val snapped = lmScore(df, textCol, idCol)
      .select(col(idCol),
        expr("CAST(round(lm_nll * 1000000, 0) AS BIGINT)").as("_q"))
      .localCheckpoint()
    val h = conv(substring(md5(concat(lit(seed + "_"),
      col(idCol).cast("string"))), 1, 15), 16, 10).cast("long")
    // thresholds AND the total count in ONE single-row agg over the
    // checkpoint (the count is the same count(1) the separate agg
    // computed), so one broadcast frame replaces two jobs
    val th = snapped
      .select(h.cast("double").cast("long").as("_h"),
        col("_q").cast("double").as("_v"))
      .agg(graft.functions.SampleValuesAgg
          .sampleValues(col("_h"), col("_v"), sampleK).as("_vs"),
        count(lit(1)).as("_n_total"))
      .select(
        element_at(col("_vs"),
          (floor(lit(1.0 / 3) * (size(col("_vs")) - 1)) + 1).cast("int")).as("_t33"),
        element_at(col("_vs"),
          (floor(lit(2.0 / 3) * (size(col("_vs")) - 1)) + 1).cast("int")).as("_t67"),
        col("_n_total"))
    snapped.crossJoin(broadcast(th))
      .withColumn("bucket",
        when(col("_q") <= col("_t33"), "head")
          .when(col("_q") <= col("_t67"), "middle")
          .otherwise("tail"))
      .groupBy(col("bucket"), col("_n_total"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_q").cast("decimal(38,0)")).as("_sq"))
      .select(col("bucket"), col("n_docs"),
        (col("_sq").cast("double") / col("n_docs") / lit(1000000.0))
          .as("mean_nll"),
        (col("n_docs").cast("double") / col("_n_total")).as("share"))
  }

  /** EXACT heavy hitters over any value column with a BOUNDED-STATE
    * candidate pass — every value whose share of the corpus is ≥
    * `minSharePpm` parts-per-million, with its exact count. The plain
    * `groupBy(value)` answer ships the whole value VOCABULARY through
    * the shuffle (at 100 TB the vocabulary is the cost); here the
    * map side carries ≤ k Misra–Gries counters per partition
    * ([[graft.functions.MgAgg]]), the ≤ k surviving candidates
    * broadcast back, and only candidate rows are exactly recounted
    * (a keyed agg over ≤ k keys).
    *
    * Determinism argument (the reason this is oracle-stateable even
    * though the sketch is not): the MG summary is order-dependent —
    * WHICH below-threshold values survive varies with partitioning —
    * but the MG guarantee (any value with frequency > n/(k+1)
    * survives; k = slack/share keeps n/(k+1) under the threshold)
    * means the candidate set always CONTAINS every true heavy hitter.
    * The exact recount + integer threshold filter then erase the
    * nondeterministic extras: the OUTPUT is a pure function of the
    * data. The oracle is the plain exact GROUP BY + HAVING — no MG
    * at all.
    *
    * The threshold compare is integer-exact: `count · 1e6 ≥ n · ppm`. */
  def heavyHitters(df: DataFrame, valueCol: Column, minSharePpm: Long,
                   slack: Int = 4): DataFrame = {
    require(minSharePpm > 0 && minSharePpm <= 1000000L,
      s"minSharePpm must be in (0, 1e6], got $minSharePpm")
    require(slack >= 2, s"slack must be >= 2, got $slack")
    val k = math.min(slack * 1000000L / minSharePpm + 1, 1L << 20).toInt
    val vals = df.select(valueCol.cast("string").as("_v"))
      .filter(col("_v").isNotNull)
    val cands = vals
      .agg(graft.functions.MgAgg.candidates(col("_v"), k).as("_c"))
      .select(explode(col("_c")).as("_v"))
    val n = vals.agg(count(lit(1)).as("_n"))
    vals.join(broadcast(cands), Seq("_v"))
      .groupBy(col("_v")).agg(count(lit(1)).as("n_occ"))
      .crossJoin(broadcast(n))
      .filter(col("n_occ") * lit(1000000L) >= col("_n") * lit(minSharePpm))
      .select(col("_v").as("value"), col("n_occ"),
        (col("n_occ").cast("double") / col("_n")).as("share"))
  }

  def corpusDrift(df: DataFrame, textCol: String, groupCol: Column,
                  sideA: String, sideB: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(sideA != sideB, "drift needs two distinct sides")
    val sided = df.withColumn("_side",
        when(groupCol === sideA, "a").when(groupCol === sideB, "b"))
      .filter(col("_side").isNotNull)
    // (word, side) counts, read by the totals and the per-word rates,
    // which plan different exchanges over it: an eager cut pins the
    // corpus scan to one pass
    val wc = sided.select(col("_side"),
        explode(Dedup.words(coalesce(col(textCol), lit("")))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"), col("_side")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val totals = wc.groupBy(col("_side")).agg(sum(col("n")).as("tot"))
    val perWord = wc.groupBy(col("word")).agg(
      sum(when(col("_side") === "a", col("n")).otherwise(0L)).as("cnt_a"),
      sum(when(col("_side") === "b", col("n")).otherwise(0L)).as("cnt_b"))
    val totA = totals.filter(col("_side") === "a").select(col("tot").as("_ta"))
    val totB = totals.filter(col("_side") === "b").select(col("tot").as("_tb"))
    perWord.crossJoin(broadcast(totA)).crossJoin(broadcast(totB))
      .withColumn("rate_a", col("cnt_a").cast("double") / col("_ta"))
      .withColumn("rate_b", col("cnt_b").cast("double") / col("_tb"))
      .withColumn("drift", abs(col("rate_a") - col("rate_b")))
      .orderBy(col("drift").desc, col("word").asc).limit(k)
      .select(col("word"), col("cnt_a"), col("cnt_b"),
        col("rate_a"), col("rate_b"), col("drift"))
  }

  /** Supervised hashed-feature Naive Bayes classifier — the
    * fastText-shaped lightweight label model every curation pipeline
    * eventually trains (quality gate, domain router, language check
    * against the declared metadata; Joulin et al. 2016 is the public
    * anchor for "linear model over hashed n-grams beats nothing and
    * costs nothing"). Trains multinomial NB with Laplace smoothing on
    * `train`'s `labelCol` over `buckets` hashed unigram features and
    * scores every `test` row: per label, `ln(P(label)) + Σ_tokens
    * ln((count(label, bucket) + 1) / (total(label) + buckets))`;
    * prediction = argmax, ties to the lexicographically first label.
    *
    * Scale shape: the MODEL is bounded by construction — ≤ buckets ×
    * |labels| integer count rows regardless of corpus size — so both
    * model joins broadcast; the scoring pass is map-side until the one
    * (id, label)-keyed fold shuffle. The per-doc log-likelihood sum is
    * assembled in POSITION order (`array_sort` → sequential
    * `aggregate` fold, the [[lmScore]] rule): plain SUM order is
    * engine-unspecified and would make argmax partitioning-dependent.
    * All ln inputs are integer-derived ratios, so scores — and hence
    * the argmax — reproduce exactly across engines.
    *
    * Output: one row per `test` row — (idCol, pred, nb_score), where
    * `nb_score` is the winning label's log-likelihood. Token-less test
    * docs score on priors alone and are never dropped. */
  def naiveBayes(train: DataFrame, test: DataFrame, textCol: String,
                 idCol: String, labelCol: String, buckets: Int): DataFrame = {
    val scored = naiveBayesScores(train, test, textCol, idCol, labelCol, buckets)
    // argmax with a deterministic tie-break: exact score equality is
    // safe because both sides of the comparison are the same
    // position-ordered fold of the same integer-derived ratios
    val mx = scored.groupBy(col(idCol)).agg(max(col("_score")).as("_mx"))
    scored.join(mx, Seq(idCol))
      .filter(col("_score") === col("_mx"))
      .groupBy(col(idCol))
      .agg(min(col("_lbl")).as("pred"), max(col("_mx")).as("nb_score"))
  }

  /** The full per-(test row, label) NB log-likelihood frame behind
    * [[naiveBayes]] — (idCol, _lbl, _score), one row per test doc per
    * trained label (the argmax, softmax-confidence and calibration
    * consumers all read this). Same scale contract: model frames are
    * ≤ buckets × |labels| rows and broadcast; the fold is
    * position-ordered. */
  def naiveBayesScores(train: DataFrame, test: DataFrame, textCol: String,
                       idCol: String, labelCol: String, buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val trTok = train.select(col(labelCol).as("_lbl"),
        explode(filter(w(coalesce(col(textCol), lit(""))), t => t =!= "")).as("_t"))
      .select(col("_lbl"), (Dedup.hash64(col("_t")) % buckets).as("_bkt"))
    val cnt = trTok.groupBy(col("_lbl"), col("_bkt")).agg(count(lit(1)).as("_n"))
    val tot = trTok.groupBy(col("_lbl")).agg(count(lit(1)).as("_tot"))
    val pri = train.groupBy(col(labelCol).as("_lbl")).agg(count(lit(1)).as("_nd"))
    val ndAll = train.agg(count(lit(1)).as("_ndall"))
    val labels = pri.join(tot, Seq("_lbl")).crossJoin(ndAll)
    val teTok = test.select(col(idCol),
        posexplode(filter(w(coalesce(col(textCol), lit(""))), t => t =!= ""))
          .as(Seq("_pos", "_t")))
      .select(col(idCol), col("_pos"),
        (Dedup.hash64(col("_t")) % buckets).as("_bkt"))
    // model sides are ≤ buckets × labels rows — broadcast by contract
    val perTok = teTok
      .crossJoin(broadcast(labels.select(col("_lbl"), col("_tot"))))
      .join(broadcast(cnt), Seq("_lbl", "_bkt"), "left")
      .select(col(idCol), col("_lbl"), col("_pos"),
        log((coalesce(col("_n"), lit(0L)) + lit(1.0))
          / (col("_tot") + lit(buckets))).as("_ll"))
    val folded = perTok.groupBy(col(idCol), col("_lbl"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("_pos"), col("_ll")))),
          s => s.getField("_ll")),
        lit(0.0), (a, x) => a + x).as("_s"))
    // every (test doc × label) row must exist: token-less docs fold to
    // nothing and still need their prior row
    test.select(col(idCol)).crossJoin(broadcast(labels))
      .join(folded, Seq(idCol, "_lbl"), "left")
      .select(col(idCol), col("_lbl"),
        (log(col("_nd").cast("double") / col("_ndall"))
          + coalesce(col("_s"), lit(0.0))).as("_score"))
  }

  /** Calibration report for the NB gate — the reliability diagram a
    * deploy gate reads NEXT TO the confusion matrix: is a "90%
    * confident" verdict right 90% of the time? Confidence is the
    * TEMPERATURE-SCALED softmax of the per-label log-likelihoods
    * (computed stably as `1 / Σ_l exp((s_l − s_max) / T)` with
    * `T = (tokens + 1) / sharpness`, the winning label's tempered
    * posterior mass). Two standard ingredients, both public: raw NB
    * log-likelihood gaps grow linearly with document length, so the
    * un-tempered softmax saturates to 1.0 for every multi-token doc
    * (per-token normalization fixes that), and a scalar temperature
    * knob is THE post-hoc calibration method (Guo et al., ICML 2017)
    * — `sharpness` is its inverse, tuned so confidences use the
    * diagram's range instead of piling into one bin. Docs land
    * in `bins` equal-width confidence bins PER PREDICTED LABEL (the
    * per-class reliability diagram — "which language is the gate
    * overconfident about" is the question the router actually asks);
    * each (label, bin) row reports its size, accuracy and mean
    * confidence — the gap IS the miscalibration (expected calibration
    * error = the n-weighted mean of |accuracy − mean_conf|, derivable
    * row-wise).
    *
    * Engine-reproducibility: the softmax denominator is an
    * order-pinned fold over the ≤ |labels| per-doc scores (label
    * order — plain SUM order is engine-unspecified); confidence then
    * snaps to the 1e-6 integer grid, so BIN MEMBERSHIP is integer
    * arithmetic and per-bin mean confidence is an exact integer sum
    * divided once — no float aggregation anywhere downstream.
    *
    * Scale shape: everything after [[naiveBayesScores]] is keyed aggs
    * over ≤ |labels|-row groups plus one `bins`-row output agg —
    * bounded per doc, never corpus-wide. */
  def nbCalibration(train: DataFrame, test: DataFrame, textCol: String,
                    idCol: String, labelCol: String, buckets: Int,
                    bins: Int = 10, sharpness: Double = 4.0): DataFrame = {
    require(bins > 0, s"bins must be > 0, got $bins")
    require(sharpness > 0, s"sharpness must be > 0, got $sharpness")
    val scored = naiveBayesScores(train, test, textCol, idCol, labelCol, buckets)
    val mx = scored.groupBy(col(idCol)).agg(max(col("_score")).as("_mx"))
    val toks = test.select(col(idCol),
      size(filter(w(coalesce(col(textCol), lit(""))), t => t =!= "")).as("_nt"))
    val perDoc = scored.join(mx, Seq(idCol)).join(toks, Seq(idCol))
      .groupBy(col(idCol))
      .agg(
        aggregate(
          transform(array_sort(collect_list(
            struct(col("_lbl"), col("_score"), col("_mx"), col("_nt")))),
            s => exp(lit(sharpness) * (s.getField("_score") - s.getField("_mx"))
              / (s.getField("_nt") + lit(1.0)))),
          lit(0.0), (a, x) => a + x).as("_z"),
        min(when(col("_score") === col("_mx"), col("_lbl"))).as("pred"))
    val binned = perDoc
      .join(test.select(col(idCol), col(labelCol).as("_true")), Seq(idCol))
      .select(col("pred").as("pred_label"),
        expr("CAST(round(1000000.0 / _z, 0) AS BIGINT)").as("_cq"),
        (col("pred") === col("_true")).cast("long").as("_ok"))
      .select(col("pred_label"), col("_ok"), col("_cq"),
        least(expr(s"(_cq * $bins) div 1000000"), lit(bins - 1).cast("long"))
          .as("bin"))
    binned.groupBy(col("pred_label"), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("_ok")).as("n_correct"),
        sum(col("_cq")).as("_sq"))
      .select(col("pred_label"), col("bin"), col("n"), col("n_correct"),
        (col("n_correct").cast("double") / col("n")).as("accuracy"),
        (col("_sq").cast("double") / (col("n") * lit(1000000.0)))
          .as("mean_conf"))
  }

  /** [[nbCalibration]] over a pre-trained [[NbModel]] — the deploy
    * form: per-label scores come from the codegen'd all-labels kernel
    * ([[graft.functions.NbScoresVec]]) instead of the distributed
    * chain, so the report is ONE zero-join scan plus the same bounded
    * roll-up. Bit-identical to [[nbCalibration]] on the same train
    * split by construction (spec-pinned): the kernel's per-label fold
    * is the chain's (the NbScore contract, element-wise), the softmax
    * denominator folds the SAME doubles in the SAME label-ascending
    * order (the kernel's array order IS sorted-label order, matching
    * the chain's array_sort(struct(_lbl, …))), argmax keeps the first
    * maximal label (array_position = min-label on sorted labels), and
    * everything after the 1e-6 confidence grid is integer. */
  def nbCalibrationFromModel(test: DataFrame, textCol: String, idCol: String,
                             labelCol: String, model: NbModel,
                             bins: Int = 10, sharpness: Double = 4.0): DataFrame = {
    require(bins > 0, s"bins must be > 0, got $bins")
    require(sharpness > 0, s"sharpness must be > 0, got $sharpness")
    val labelsArr = array(model.labels.toSeq.map(lit): _*)
    val sc = test.select(col(idCol), col(labelCol).as("_true"),
        graft.functions.TextExprs.nbScoresCol(
          w(coalesce(col(textCol), lit(""))),
          model.lls, model.priors, model.buckets).as("_sv"))
      .select(col(idCol), col("_true"),
        col("_sv.scores").as("_ss"), col("_sv.ntok").as("_nt"))
    val mxc = array_max(col("_ss"))
    val perDoc = sc.select(
      element_at(labelsArr, array_position(col("_ss"), mxc).cast("int"))
        .as("pred"),
      aggregate(
        transform(col("_ss"),
          x => exp(lit(sharpness) * (x - mxc) / (col("_nt") + lit(1.0)))),
        lit(0.0), (a, x) => a + x).as("_z"),
      col("_true"))
    val binned = perDoc
      .select(col("pred").as("pred_label"),
        expr("CAST(round(1000000.0 / _z, 0) AS BIGINT)").as("_cq"),
        (col("pred") === col("_true")).cast("long").as("_ok"))
      .select(col("pred_label"), col("_ok"), col("_cq"),
        least(expr(s"(_cq * $bins) div 1000000"), lit(bins - 1).cast("long"))
          .as("bin"))
    binned.groupBy(col("pred_label"), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("_ok")).as("n_correct"),
        sum(col("_cq")).as("_sq"))
      .select(col("pred_label"), col("bin"), col("n"), col("n_correct"),
        (col("n_correct").cast("double") / col("n")).as("accuracy"),
        (col("_sq").cast("double") / (col("n") * lit(1000000.0)))
          .as("mean_conf"))
  }

  /** Gopher-style quality rule bundle (Rae et al. 2021, public): the
    * standard pre-training document gate as per-rule booleans plus
    * the conjunction, so a pipeline can AUDIT which rule drops each
    * doc (the filter_funnel first-fail pattern, but all rules
    * evaluated):
    *
    *  - `words_ok`: word count ∈ [minWords, maxWords];
    *  - `mwl_ok`: mean word length ∈ [3, 10] characters;
    *  - `alpha_ok`: ≥ 80% of words contain an alphabetic character;
    *  - `stop_ok`: ≥ 2 DISTINCT English stopwords present (the
    *    "real prose" signal);
    *  - `pass` = all of the above.
    *
    * Pure map-side: one words array per row, integer counts and
    * integer-derived ratios (sum of word lengths is an integer fold —
    * order-independent), zero shuffles; NULL/empty text scores 0s and
    * fails, keeping its row. */
  def gopherRules(df: DataFrame, textCol: String, idCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val wcol = filter(w(coalesce(col(textCol), lit(""))), t => t =!= "")
    val withW = df.select(col(idCol), wcol.as("_w"))
    val n = size(col("_w"))
    val sumLen = aggregate(col("_w"), lit(0L), (a, x) => a + length(x))
    val nAlpha = size(filter(col("_w"), t => t.rlike("[a-zA-Z]")))
    val nStop = size(array_intersect(array_distinct(col("_w")),
      array(enStopwords.map(lit): _*)))
    withW.select(col(idCol),
        n.cast("long").as("n_words"),
        when(n > 0, sumLen.cast("double") / n).otherwise(lit(0.0)).as("mean_word_len"),
        when(n > 0, nAlpha.cast("double") / n).otherwise(lit(0.0)).as("frac_alpha"),
        nStop.cast("long").as("n_stop_distinct"))
      .withColumn("words_ok", col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("mwl_ok", col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("alpha_ok", col("frac_alpha") >= 0.8)
      .withColumn("stop_ok", col("n_stop_distinct") >= 2)
      .withColumn("pass",
        col("words_ok") && col("mwl_ok") && col("alpha_ok") && col("stop_ok"))
  }

  /** A trained Naive Bayes model in deployment form: `labels` sorted
    * ascending (ties in [[graft.functions.NbScore]] resolve to the
    * first = lexicographically smallest, matching [[naiveBayes]]'s
    * min-label rule), per-label ln priors, and the flattened
    * [label][bucket] log-likelihood table. Driver-resident BY
    * CONTRACT: ≤ labels × buckets doubles regardless of corpus
    * size. */
  case class NbModel(labels: Array[String], priors: Array[Double],
                     lls: Array[Double], buckets: Int)

  /** Train the [[naiveBayes]] model once and keep it driver-side —
    * the deployment split of train-once/score-forever: training is
    * the same distributed keyed count aggregation as [[naiveBayes]],
    * and the collect is bounded by buckets × labels rows (the model,
    * not the corpus). Scores from [[naiveBayesScoreAll]] over this
    * model are bit-identical to [[naiveBayes]] run on the same
    * train/test frames. */
  def trainNaiveBayes(train: DataFrame, textCol: String, labelCol: String,
                      buckets: Int): NbModel = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val trTok = train.select(col(labelCol).as("_lbl"),
        explode(filter(w(coalesce(col(textCol), lit(""))), t => t =!= "")).as("_t"))
      .select(col("_lbl"), (Dedup.hash64(col("_t")) % buckets).as("_bkt"))
    val cntRows = trTok.groupBy(col("_lbl"), col("_bkt"))
      .agg(count(lit(1)).as("_n"))
      .collect().map(r => (r.getString(0), r.getLong(1).toInt, r.getLong(2)))
    val priRows = train.groupBy(col(labelCol).as("_lbl"))
      .agg(count(lit(1)).as("_nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(priRows.nonEmpty, "trainNaiveBayes needs at least one labeled row")
    val labels = priRows.map(_._1).sorted
    val lidx = labels.zipWithIndex.toMap
    val ndall = priRows.map(_._2).sum
    val priors = labels.map(l =>
      math.log(priRows.toMap.apply(l).toDouble / ndall))
    val tots = new Array[Long](labels.length)
    cntRows.foreach { case (l, _, n) => tots(lidx(l)) += n }
    val lls = new Array[Double](labels.length * buckets)
    var li = 0
    while (li < labels.length) {
      // zero-count buckets carry the smoothing floor ln(1/(tot+V)) —
      // the same value the batch side's coalesce(n, 0) path computes
      val floor = math.log(1.0 / (tots(li) + buckets))
      java.util.Arrays.fill(lls, li * buckets, (li + 1) * buckets, floor)
      li += 1
    }
    cntRows.foreach { case (l, b, n) =>
      lls(lidx(l) * buckets + b) = math.log((n + 1.0) / (tots(lidx(l)) + buckets))
    }
    NbModel(labels, priors, lls, buckets)
  }

  /** Score every row against a trained [[NbModel]] at scan speed —
    * ONE codegen'd map-side expression ([[graft.functions.NbScore]]),
    * zero joins, zero shuffles, and it runs unchanged inside a
    * streaming micro-batch (`Ingest.classifyStream`). Bit-identical
    * to [[naiveBayes]]'s (pred, nb_score) on the same model inputs:
    * same token-order fold, same prior placement, same first-maximal
    * tie-break over the sorted label array. */
  /** Hash-bucket collision report for a [[naiveBayes]] /
    * [[trainNaiveBayes]] training corpus: vocabulary size vs occupied
    * buckets and the excess (tokens sharing a bucket with another
    * token) — the number a deploy gate reads before trusting a
    * hashed-feature classifier, since collisions merge unrelated
    * tokens' evidence silently. One row; the vocabulary distinct and
    * the two counts are one keyed-agg pass (map-side partials), never
    * a driver-side vocabulary. */
  def nbBucketStats(train: DataFrame, textCol: String,
                    buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    train.select(explode(filter(w(coalesce(col(textCol), lit(""))),
        t => t =!= "")).as("_tok"))
      .distinct()
      .agg(count(lit(1)).as("n_vocab"),
        countDistinct(Dedup.hash64(col("_tok")) % buckets).as("n_occupied"))
      .select(lit(buckets.toLong).as("n_buckets"),
        col("n_vocab"), col("n_occupied"),
        (col("n_vocab") - col("n_occupied")).as("n_excess"),
        ((col("n_vocab") - col("n_occupied")).cast("double") /
          col("n_vocab")).as("collision_rate"))
  }

  def naiveBayesScoreAll(df: DataFrame, textCol: String, idCol: String,
                         model: NbModel, carry: Seq[String] = Nil): DataFrame =
    df.select(col(idCol) +: graft.functions.TextExprs.nbScoreCol(
          w(coalesce(col(textCol), lit(""))),
          model.lls, model.priors, model.buckets).as("_ps") +:
        carry.map(col): _*)
      .select(col(idCol) +:
        element_at(array(model.labels.toSeq.map(lit): _*),
          col("_ps.idx") + 1).as("pred") +:
        col("_ps.score").as("nb_score") +:
        carry.map(col): _*)
}
