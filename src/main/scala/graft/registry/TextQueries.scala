package graft
package registry

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Sampling, TextAnalysis}
import Shared._

/** Text cleaning, language and quality signals, tokenization and corpus statistics. */
object TextQueries {

  val queries: Seq[Query] = Seq(
    Query("tfidf_terms", (s, dir) => {
      TextAnalysis.tfidf(Tables.documents(s, dir), "text", "doc_id", 3)
        .select(col("doc_id"), col("term"), round(col("score"), 5).as("score"),
          col("rank").cast("long").as("rank"))
    },
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
        |idf AS (SELECT term,
        |          ln(((SELECT count(*) FROM documents) + 1.0) / (count(*) + 1.0)) + 1.0 AS idf
        |        FROM tf GROUP BY term),
        |scored AS (SELECT doc_id, tf.term, tf * idf AS score FROM tf JOIN idf USING (term)),
        |ranked AS (SELECT doc_id, term, score,
        |             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
        |           FROM scored)
        |SELECT doc_id, term, round(score, 5) AS score, rank
        |FROM ranked WHERE rank <= 3""".stripMargin),

    Query("text_clean", (s, dir) => {
      // deterministic HTML wrapping per doc, then the full cleanup
      // chain: strip tags -> decode entities -> normalize -> truncate
      val docs = Tables.documents(s, dir)
        .withColumn("html", concat(lit("<html><body><p class=\"x\">"),
          col("text"), lit("</p><br/>&amp; more &lt;here&gt;</body></html>")))
      docs.select(col("doc_id"),
        TextAnalysis.truncateTokens(
          TextAnalysis.normalizeText(TextAnalysis.stripHtml(col("html"))), 32
        ).as("clean"))
        .withColumn("n_tok", size(split(col("clean"), " ")).cast("long"))
        .select(col("doc_id"), md5(col("clean")).as("clean_md5"), col("n_tok"))
    },
      """WITH d AS (SELECT doc_id,
        |  '<html><body><p class="x">' || text || '</p><br/>&amp; more &lt;here&gt;</body></html>' AS html
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(html, '<[^>]*>', ' ', 'g'),
        |    '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
        |    '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' ') AS stripped
        |  FROM d),
        |n AS (SELECT doc_id,
        |  trim(regexp_replace(lower(stripped), '\s+', ' ', 'g')) AS norm FROM s),
        |t AS (SELECT doc_id,
        |  array_to_string(string_split(norm, ' ')[1:32], ' ') AS clean FROM n)
        |SELECT doc_id, md5(clean) AS clean_md5,
        |       CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_tok FROM t""".stripMargin),

    Query("pii_scrub", (s, dir) => {
      // the synthetic corpus carries no PII, so the query plants a
      // deterministic email/phone/IP per doc, scrubs, and fingerprints
      // the cleaned text (md5 compares the FULL string per row)
      val docs = Tables.documents(s, dir)
        .withColumn("dirty", concat(col("text"),
          lit(" Contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-867-5309 at 10.0.0."),
          (col("doc_id") % 255).cast("string")))
      TextAnalysis.piiScrub(docs, "dirty")
        .select(col("doc_id"), col("n_pii"),
          md5(TextAnalysis.normalizeText(col("text_clean"))).as("clean_md5"))
    },
      """WITH d AS (SELECT doc_id,
        |  text || ' Contact user' || CAST(doc_id AS VARCHAR) ||
        |  '@example.com or 555-867-5309 at 10.0.0.' || CAST(doc_id % 255 AS VARCHAR) AS dirty
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  len(regexp_extract_all(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
        |  len(regexp_extract_all(dirty, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) +
        |  len(regexp_extract_all(dirty, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_pii,
        |  regexp_replace(regexp_replace(regexp_replace(dirty,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean
        |  FROM d)
        |SELECT doc_id, CAST(n_pii AS BIGINT) AS n_pii,
        |       md5(trim(regexp_replace(lower(clean), '\s+', ' ', 'g'))) AS clean_md5
        |FROM c""".stripMargin),

    Query("pack_sequences", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("n_tok", size(split(col("text"), " ")))
      Sampling.packStats(docs, "doc_id", col("n_tok"), col("source"), 512)
        .select(col("pack_group"), col("pack_id"), col("n_docs"),
          col("tokens").cast("long").as("tokens"))
    },
      """WITH t AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok FROM documents),
        |c AS (SELECT source, doc_id, n_tok,
        |        sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS e FROM t)
        |SELECT source AS pack_group, CAST(floor((e - n_tok) / 512) AS BIGINT) AS pack_id,
        |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens
        |FROM c GROUP BY 1, 2""".stripMargin),

    Query("lang_id", (s, dir) => {
      TextAnalysis.langId(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("lang_pred"), col("lang_score").cast("bigint").as("lang_score"))
    },
      s"""WITH f AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id,
         |  ${LangSql.scoreCols}
         |FROM f)
         |SELECT doc_id,
         |  CASE WHEN ${LangSql.best} = 0 THEN 'und' ${LangSql.caseChain} END AS lang_pred,
         |  ${LangSql.best} AS lang_score
         |FROM g""".stripMargin),

    Query("text_quality", (s, dir) => {
      TextAnalysis.quality(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("punct_ratio"), 5).as("punct_ratio"),
          round(col("stop_ratio"), 5).as("stop_ratio"),
          round(col("mean_word_len"), 5).as("mean_word_len"),
          round(col("quality"), 5).as("quality"))
    }, {
      val en = LangSql.en
      s"""WITH f AS (SELECT doc_id, string_split(text, ' ') AS w, text FROM documents),
         |g AS (SELECT doc_id, len(w) AS n,
         |  length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))::DOUBLE / length(text) AS punct,
         |  len(list_filter(w, t -> list_contains($en, t)))::DOUBLE / len(w) AS stop,
         |  list_sum(list_transform(w, t -> length(t)))::DOUBLE / len(w) AS meanlen
         |FROM f)
         |SELECT doc_id, n AS n_tokens,
         |  round(punct, 5) AS punct_ratio,
         |  round(stop, 5) AS stop_ratio,
         |  round(meanlen, 5) AS mean_word_len,
         |  round(0.4 * stop + 0.3 * (1.0 - punct) + 0.3 * least(n / 100.0, 1.0), 5) AS quality
         |FROM g""".stripMargin
    }),

    Query("token_count", (s, dir) => {
      TextAnalysis.tokenCounts(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("n_ws_tokens"), col("n_subtokens"), col("n_chars_actual"))
    },
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_subtokens,
        |  length(text) AS n_chars_actual
        |FROM documents""".stripMargin),

    Query("tokenize_bpe_train", (s, dir) => {
      // tokenizer vocabulary induction: 8 BPE merges learned from the
      // corpus word vocabulary (Sennrich et al. 2016) — one corpus
      // shuffle, then vocabulary-sized iterations. Training amortizes
      // per dir (a Fixtures member: train once, consult many); the
      // §4 probe line records the un-amortized cost.
      operators.Bpe.mergeTable(s, Fixtures.of(s, dir).bpeMerges)
    },
      // identical recurrence unrolled as CTEs (the pagerank pattern):
      // per iteration, pair counts over the sep-packed vocabulary, the
      // (count DESC, a, b) argmax, and the leftmost-greedy list_reduce
      // merge fold — integer counts and a total tie order make every
      // m_i engine-exact
      operators.Bpe.trainOracleSql(8)),

    Query("tokenize_bpe_apply", (s, dir) => {
      // the learned tokenizer applied back to the corpus: top-20
      // subword frequencies under the 8-merge vocabulary — the
      // DEPLOYMENT shape (cached merge list folded map-side over the
      // word vocabulary; no training job)
      operators.Bpe.topTokens(operators.Bpe.applyMerges(
        operators.Bpe.wordVocab(Tables.documents(s, dir), "text"),
        Fixtures.of(s, dir).bpeMerges), 20)
    }, operators.Bpe.applyOracleSql(8, 20)),

    Query("tokenize_bpe_stats", (s, dir) => {
      // the go/no-go report after training: vocab size, token volume,
      // fertility and compression under the learned merges
      val merges = Fixtures.of(s, dir).bpeMerges
      operators.Bpe.vocabStats(operators.Bpe.applyMerges(
        operators.Bpe.wordVocab(Tables.documents(s, dir), "text"),
        merges), merges.size)
    }, operators.Bpe.statsOracleSql(8)),

    Query("corpus_cooccurrence", (s, dir) => {
      // skip-gram collocation statistics: directional word pairs
      // within a 3-token forward window, PMI over exact counts
      TextAnalysis.cooccurrence(Tables.documents(s, dir), "text",
        window = 3, minCount = 20L)
    },
      // same window arithmetic (forward partners i+1..i+window on the
      // 1-based grid), integer counts, one fixed lift expression, pmi
      // rounded at 5 dp — the events_pmi determinism rule
      """WITH t AS (SELECT list_filter(string_split(text, ' '),
        |             w -> len(w) > 0) AS l FROM documents),
        |uni AS (SELECT w, count(*) AS cw
        |        FROM (SELECT unnest(l) AS w FROM t) GROUP BY 1),
        |tt AS (SELECT CAST(sum(cw) AS BIGINT) AS tt FROM uni),
        |p AS (SELECT s.a AS word_a, s.b AS word_b, count(*) AS pair_count
        |      FROM (SELECT unnest(flatten(list_transform(range(1, len(l) + 1),
        |              i -> list_transform(l[CAST(i + 1 AS INT):CAST(i + 3 AS INT)],
        |                y -> {'a': l[CAST(i AS INT)], 'b': y})))) AS s
        |            FROM t)
        |      GROUP BY 1, 2
        |      HAVING count(*) >= 20)
        |SELECT word_a, word_b, ua.cw AS count_a, ub.cw AS count_b, pair_count,
        |  round((CAST(pair_count AS DOUBLE) * tt) /
        |        (CAST(ua.cw AS DOUBLE) * ub.cw), 5) AS lift,
        |  round(ln((CAST(pair_count AS DOUBLE) * tt) /
        |           (CAST(ua.cw AS DOUBLE) * ub.cw)), 5) AS pmi
        |FROM p JOIN uni ua ON p.word_a = ua.w
        |       JOIN uni ub ON p.word_b = ub.w, tt""".stripMargin),

    Query("text_repetition", (s, dir) => {
      TextAnalysis.repetition(Tables.documents(s, dir), "text", "doc_id")
        .select(col("doc_id"), round(col("rep_2"), 5).as("rep_2"),
          round(col("rep_3"), 5).as("rep_3"))
    },
      """WITH f AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |  list_transform(range(1, greatest(len(w), 1)),
        |    i -> w[i] || ' ' || w[i+1]) AS g2,
        |  list_transform(range(1, greatest(len(w) - 1, 1)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
        |FROM f)
        |SELECT doc_id,
        |  round(CASE WHEN len(g2) = 0 THEN 0.0
        |    ELSE (len(g2) - len(list_distinct(g2))) * 1.0 / len(g2) END, 5) AS rep_2,
        |  round(CASE WHEN len(g3) = 0 THEN 0.0
        |    ELSE (len(g3) - len(list_distinct(g3))) * 1.0 / len(g3) END, 5) AS rep_3
        |FROM g""".stripMargin),

    Query("lm_score", (s, dir) => {
      TextAnalysis.lmScore(Tables.documents(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("n_trans"), round(col("lm_nll"), 5).as("lm_nll"))
    },
      // Laplace-smoothed bigram NLL; the per-doc sum is assembled as
      // list_sum(list(nll ORDER BY pos)) — the same sequential
      // position-order fold as the Spark side's array_sort +
      // aggregate, because plain SUM order is engine-unspecified
      """WITH t AS (SELECT doc_id,
        |       list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
        |     FROM documents),
        |uni AS (SELECT word, count(*) AS nw
        |        FROM (SELECT unnest(w) AS word FROM t) GROUP BY word),
        |v AS (SELECT count(*) AS vs FROM uni),
        |p AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i ->
        |        {'pos': i, 'prev': w[CAST(i AS INT)], 'cur': w[CAST(i+1 AS INT)]})) AS s
        |      FROM t),
        |p2 AS (SELECT doc_id, s.pos AS pos, s.prev AS prev, s.cur AS cur FROM p),
        |bi AS (SELECT prev, cur, count(*) AS npc FROM p2 GROUP BY 1, 2),
        |sc AS (SELECT p2.doc_id, p2.pos, -ln((bi.npc + 1.0) / (uni.nw + v.vs)) AS nll
        |       FROM p2 JOIN bi USING (prev, cur) JOIN uni ON uni.word = p2.prev, v),
        |agg AS (SELECT doc_id, count(*) AS n_trans, list_sum(list(nll ORDER BY pos)) AS s
        |        FROM sc GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(agg.n_trans, 0) AS n_trans,
        |       round(coalesce(agg.s / agg.n_trans, 0.0), 5) AS lm_nll
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin),

    Query("corpus_heavy_hitters", (s, dir) => {
      // every word holding >= 0.1% of the corpus, with exact counts:
      // the bounded-state Misra-Gries candidate pass + exact recount
      // — the template/boilerplate vocabulary dashboard at a shuffle
      // cost of <= k counters per partition, never the vocabulary
      val words = Tables.documents(s, dir)
        .select(explode(filter(split(coalesce(col("text"), lit("")), " "),
          t => t =!= "")).as("w"))
      TextAnalysis.heavyHitters(words, col("w"), minSharePpm = 1000)
        .select(col("value"), col("n_occ"), round(col("share"), 6).as("share"))
    },
      // the determinism argument in action: the oracle is the PLAIN
      // exact group-by + integer-threshold filter — the MG candidate
      // pass provably cannot change the output
      """WITH w AS (SELECT unnest(list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '')) AS v
        |          FROM documents),
        |n AS (SELECT count(*) AS n FROM w),
        |c AS (SELECT v, count(*) AS n_occ FROM w GROUP BY v)
        |SELECT v AS value, n_occ,
        |  round(CAST(n_occ AS DOUBLE) / n.n, 6) AS share
        |FROM c, n WHERE n_occ * 1000000 >= n.n * 1000""".stripMargin),

    Query("perplexity_buckets", (s, dir) => {
      // CCNet head/middle/tail triage over the corpus LM: thresholds
      // from the deterministic 256-sample quantiles, means from exact
      // integer-grid sums — 3 rows a mixing decision reads
      TextAnalysis.perplexityBuckets(Tables.documents(s, dir), "text",
          "doc_id", sampleK = 256)
        .select(col("bucket"), col("n_docs"),
          round(col("mean_nll"), 5).as("mean_nll"),
          round(col("share"), 6).as("share"))
    },
      // the lm_score chain snapped to the 1e-6 grid, thresholds from
      // the same k-min-hash sample reconstruction as events_quantiles,
      // bucket means as exact integer sums divided once
      """WITH t AS (SELECT doc_id,
        |       list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
        |     FROM documents),
        |uni AS (SELECT word, count(*) AS nw
        |        FROM (SELECT unnest(w) AS word FROM t) GROUP BY word),
        |v AS (SELECT count(*) AS vs FROM uni),
        |p AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i ->
        |        {'pos': i, 'prev': w[CAST(i AS INT)], 'cur': w[CAST(i+1 AS INT)]})) AS s
        |      FROM t),
        |p2 AS (SELECT doc_id, s.pos AS pos, s.prev AS prev, s.cur AS cur FROM p),
        |bi AS (SELECT prev, cur, count(*) AS npc FROM p2 GROUP BY 1, 2),
        |sc AS (SELECT p2.doc_id, p2.pos, -ln((bi.npc + 1.0) / (uni.nw + v.vs)) AS nll
        |       FROM p2 JOIN bi USING (prev, cur) JOIN uni ON uni.word = p2.prev, v),
        |agg AS (SELECT doc_id, count(*) AS n_trans, list_sum(list(nll ORDER BY pos)) AS s
        |        FROM sc GROUP BY doc_id),
        |sn AS (SELECT t.doc_id,
        |         CAST(round(coalesce(agg.s / agg.n_trans, 0.0) * 1000000, 0) AS BIGINT) AS q
        |       FROM t LEFT JOIN agg USING (doc_id)),
        |hh AS (SELECT doc_id, q,
        |         CAST(CAST('0x' || substr(md5('ppl0_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) AS hv
        |       FROM sn),
        |r AS (SELECT *, row_number() OVER (ORDER BY hv, doc_id) AS rn FROM hh),
        |s2 AS (SELECT list(CAST(q AS DOUBLE) ORDER BY CAST(q AS DOUBLE)) AS vs FROM r WHERE rn <= 256),
        |th AS (SELECT vs[CAST(floor((1.0/3) * (len(vs) - 1)) AS INT) + 1] AS t33,
        |              vs[CAST(floor((2.0/3) * (len(vs) - 1)) AS INT) + 1] AS t67 FROM s2),
        |tot AS (SELECT count(*) AS n_total FROM sn),
        |b AS (SELECT doc_id, q,
        |        CASE WHEN q <= t33 THEN 'head' WHEN q <= t67 THEN 'middle' ELSE 'tail' END AS bucket
        |      FROM sn, th)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  round((CAST(sum(q) AS DOUBLE) / count(*)) / 1000000.0, 5) AS mean_nll,
        |  round(CAST(count(*) AS DOUBLE) / n_total, 6) AS share
        |FROM b, tot GROUP BY bucket, n_total""".stripMargin),

    Query("text_entropy", (s, dir) => {
      TextAnalysis.charEntropy(Tables.documents(s, dir), "text", "doc_id")
        .select(col("doc_id"), round(col("char_entropy"), 5).as("char_entropy"))
    }, {
      // per-char counts are length(s) - length(replace(s, ch, '')) in
      // both engines (Spark: translate — identical for single-char
      // deletion); the entropy fold runs in fixed alphabet order
      val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 "
      val lst = alphabet.map(c => s"'$c'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, coalesce(text, '') AS s FROM documents),
         |c AS (SELECT doc_id, list_transform($lst,
         |        a -> length(s) - length(replace(s, a, ''))) AS cnts FROM t),
         |n AS (SELECT doc_id, cnts, list_sum(cnts) AS n FROM c)
         |SELECT doc_id, round(CASE WHEN n IS NULL OR n = 0 THEN 0.0
         |  ELSE -list_sum(list_transform(cnts,
         |    x -> CASE WHEN x > 0
         |         THEN (CAST(x AS DOUBLE) / n) * ln(CAST(x AS DOUBLE) / n)
         |         ELSE 0.0 END))
         |  END, 5) AS char_entropy
         |FROM n""".stripMargin
    }),

    Query("doc_chunks", (s, dir) => {
      TextAnalysis.chunkDocs(Tables.documents(s, dir), "text", "doc_id",
          chunkTokens = 40, strideTokens = 20)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("n_chunks").cast("long").as("n_chunks"), col("chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
    },
      """WITH wt AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
        |ch AS (SELECT doc_id,
        |         list_transform(range(0, CAST(floor((len(w) - 1) / 20.0) AS INT) + 1),
        |           i -> array_to_string(w[CAST(i * 20 + 1 AS INT) : CAST(i * 20 + 40 AS INT)], ' ')) AS chunks
        |       FROM wt),
        |ex AS (SELECT doc_id, len(chunks) AS n_chunks,
        |         unnest(range(len(chunks))) AS chunk_id, chunks
        |       FROM ch)
        |SELECT doc_id, chunk_id, CAST(n_chunks AS BIGINT) AS n_chunks,
        |  CAST(len(string_split(chunks[CAST(chunk_id AS INT) + 1], ' ')) AS BIGINT) AS chunk_tokens,
        |  md5(chunks[CAST(chunk_id AS INT) + 1]) AS chunk_md5
        |FROM ex""".stripMargin),

    Query("corpus_profile", (s, dir) => {
      TextAnalysis.corpusProfile(Tables.documents(s, dir), "text",
          bucketWidth = 20, maxBucket = 10)
        .select(col("lang"), col("len_bucket"), col("n_docs"),
          col("total_tokens"), round(col("share"), 6).as("share"))
    },
      // coalesce NULL text to '' exactly like the Spark side, so a
      // NULL-text doc lands in the same ('und', bucket 0) cell in
      // both engines instead of (NULL, 10, NULL) here
      s"""WITH f AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
         |g AS (SELECT doc_id, len(w) AS n,
         |  ${LangSql.scoreCols}
         |FROM f),
         |lp AS (SELECT doc_id, n,
         |         CASE WHEN ${LangSql.best} = 0 THEN 'und' ${LangSql.caseChain} END AS lang
         |       FROM g),
         |cells AS (SELECT lang, CAST(least(n // 20, 10) AS INT) AS len_bucket,
         |                 count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
         |          FROM lp GROUP BY 1, 2)
         |SELECT lang, len_bucket, n_docs, total_tokens,
         |  round(CAST(n_docs AS DOUBLE) / (SELECT CAST(sum(n_docs) AS DOUBLE) FROM cells), 6) AS share
         |FROM cells""".stripMargin),

    Query("corpus_ngrams", (s, dir) => {
      TextAnalysis.corpusNgrams(Tables.documents(s, dir), "text", "doc_id", 3, 50)
        .select(col("gram"), col("total_count"), col("doc_count"))
    },
      // df via (gram, doc) pre-aggregation like the Spark plan; the
      // (doc_count, total_count, gram) ordering is a total order, so
      // the LIMIT boundary picks the same set in both engines
      """WITH f AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |        i -> array_to_string(w[i::INT:(i+2)::INT], ' '))) AS gram FROM f),
        |d AS (SELECT gram, doc_id, count(*) AS tf FROM g GROUP BY 1, 2)
        |SELECT gram, CAST(sum(tf) AS BIGINT) AS total_count,
        |  count(*) AS doc_count
        |FROM d GROUP BY gram
        |ORDER BY doc_count DESC, total_count DESC, gram LIMIT 50""".stripMargin),

    Query("remove_boilerplate", (s, dir) => {
      TextAnalysis.removeBoilerplate(Tables.documents(s, dir), "text", "doc_id",
          chunkWords = 8, maxDf = 1)
        .select(col("doc_id"), col("n_chunks"), col("n_dropped"),
          md5(col("clean_text")).as("clean_md5"))
    },
      // 0-based chunk grid: chunk b = words[b*8+1 .. b*8+8] (1-based
      // inclusive slice ≙ Spark slice(w, b*8+1, 8)); string_agg
      // skips the NULLed-out boilerplate chunks, ORDER BY pos keeps
      // document order, all-boilerplate docs coalesce to ''
      """WITH w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
        |b AS (SELECT doc_id, unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS pos, w
        |      FROM w),
        |c AS (SELECT doc_id, pos,
        |        array_to_string(w[(pos*8+1)::INT:(pos*8+8)::INT], ' ') AS chunk
        |      FROM b),
        |d AS (SELECT chunk, count(DISTINCT doc_id) AS chunk_df FROM c GROUP BY 1),
        |j AS (SELECT c.doc_id, c.pos, c.chunk, d.chunk_df FROM c JOIN d USING (chunk))
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN chunk_df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  md5(coalesce(string_agg(CASE WHEN chunk_df <= 1 THEN chunk END, ' '
        |    ORDER BY pos), '')) AS clean_md5
        |FROM j GROUP BY doc_id""".stripMargin),

    Query("filter_funnel", (s, dir) => {
      TextAnalysis.filterFunnel(Tables.documents(s, dir), "text",
          minTokens = 20, maxTokens = 90, keepLangs = Seq("en"), minStop = 0.02)
        .select(col("doc_id"), col("n_tokens"), col("lang_pred"), col("verdict"))
    }, {
      s"""WITH f AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, len(w) AS n,
         |  len(list_filter(w, t -> list_contains(${LangSql.en}, t)))::DOUBLE / len(w) AS stop,
         |  ${LangSql.scoreCols}
         |FROM f),
         |v AS (SELECT doc_id, n, stop,
         |  CASE WHEN ${LangSql.best} = 0 THEN 'und' ${LangSql.caseChain} END AS lang_pred
         |FROM g)
         |SELECT doc_id, n AS n_tokens, lang_pred,
         |  CASE WHEN n IS NULL THEN 'empty'
         |       WHEN n < 20 THEN 'too_short'
         |       WHEN n > 90 THEN 'too_long'
         |       WHEN lang_pred NOT IN ('en') THEN 'wrong_lang'
         |       WHEN stop < 0.02 THEN 'low_stopword'
         |       ELSE 'kept' END AS verdict
         |FROM v""".stripMargin
    }),

    Query("vocab_coverage", (s, dir) => {
      TextAnalysis.vocabCoverage(Tables.documents(s, dir), "text",
          col("source"), vocabSize = 500)
        .select(col("source"), col("total_tokens"), col("oov_tokens"),
          round(col("oov_rate"), 6).as("oov_rate"))
    },
      // (count, word) vocab cutoff is a total order — the same top-500
      // set falls out of both engines; counts are integer sums
      """WITH wg AS (SELECT source AS grp,
        |        unnest(string_split(coalesce(text, ''), ' ')) AS word FROM documents),
        |wgc AS (SELECT word, grp, count(*) AS n FROM wg WHERE word <> '' GROUP BY 1, 2),
        |vocab AS (SELECT word FROM (
        |    SELECT word, CAST(sum(n) AS BIGINT) AS total FROM wgc GROUP BY 1
        |    ORDER BY total DESC, word ASC LIMIT 500)),
        |totals AS (SELECT grp, CAST(sum(n) AS BIGINT) AS total_tokens FROM wgc GROUP BY 1),
        |cov AS (SELECT grp, CAST(sum(n) AS BIGINT) AS in_vocab
        |        FROM wgc JOIN vocab USING (word) GROUP BY 1)
        |SELECT totals.grp AS source, total_tokens,
        |  total_tokens - coalesce(in_vocab, 0) AS oov_tokens,
        |  round(CAST(total_tokens - coalesce(in_vocab, 0) AS DOUBLE) / total_tokens, 6)
        |    AS oov_rate
        |FROM totals LEFT JOIN cov USING (grp)""".stripMargin),

    Query("corpus_drift", (s, dir) => {
      TextAnalysis.corpusDrift(Tables.documents(s, dir), "text",
          col("source"), sideA = "src1", sideB = "src2", k = 40)
        .select(col("word"), col("cnt_a"), col("cnt_b"),
          round(col("rate_a"), 6).as("rate_a"),
          round(col("rate_b"), 6).as("rate_b"),
          round(col("drift"), 6).as("drift"))
    },
      // rates divide integer counts by integer totals — identical IEEE
      // doubles both engines, so the (drift, word) top-40 cutoff agrees
      """WITH sided AS (SELECT CASE WHEN source = 'src1' THEN 'a' ELSE 'b' END AS side, text
        |               FROM documents WHERE source IN ('src1', 'src2')),
        |wc AS (SELECT side, unnest(string_split(coalesce(text, ''), ' ')) AS word FROM sided),
        |c AS (SELECT word, side, count(*) AS n FROM wc WHERE word <> '' GROUP BY 1, 2),
        |per AS (SELECT word,
        |          CAST(sum(CASE WHEN side = 'a' THEN n ELSE 0 END) AS BIGINT) AS cnt_a,
        |          CAST(sum(CASE WHEN side = 'b' THEN n ELSE 0 END) AS BIGINT) AS cnt_b
        |        FROM c GROUP BY 1),
        |ta AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c WHERE side = 'a'),
        |tb AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c WHERE side = 'b'),
        |rated AS (SELECT word, cnt_a, cnt_b,
        |            CAST(cnt_a AS DOUBLE) / ta.t AS rate_a,
        |            CAST(cnt_b AS DOUBLE) / tb.t AS rate_b
        |          FROM per, ta, tb)
        |SELECT word, cnt_a, cnt_b, round(rate_a, 6) AS rate_a,
        |  round(rate_b, 6) AS rate_b, round(abs(rate_a - rate_b), 6) AS drift
        |FROM rated ORDER BY abs(rate_a - rate_b) DESC, word ASC LIMIT 40""".stripMargin),

    Query("quality_gopher", (s, dir) => {
      // the Gopher rule bundle as an auditable per-doc report; the
      // word-count floor is 30 so the 20-90-token corpus splits
      // meaningfully across the rules
      TextAnalysis.gopherRules(Tables.documents(s, dir), "text", "doc_id",
          minWords = 30, maxWords = 100000)
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 5).as("mean_word_len"),
          round(col("frac_alpha"), 5).as("frac_alpha"),
          col("n_stop_distinct"), col("words_ok"), col("mwl_ok"),
          col("alpha_ok"), col("stop_ok"), col("pass"))
    },
      // same integer counts / integer-derived ratios; thresholds
      // compare the identical doubles in both engines
      s"""WITH t AS (SELECT doc_id,
         |        list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
         |      FROM documents),
         |m AS (SELECT doc_id, len(w) AS n_words,
         |        CASE WHEN len(w) > 0
         |          THEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
         |          ELSE 0.0 END AS mwl,
         |        CASE WHEN len(w) > 0
         |          THEN CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(w)
         |          ELSE 0.0 END AS fa,
         |        len(list_intersect(list_distinct(w), ${LangSql.en})) AS ns
         |      FROM t)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  round(mwl, 5) AS mean_word_len, round(fa, 5) AS frac_alpha,
         |  CAST(ns AS BIGINT) AS n_stop_distinct,
         |  (n_words >= 30 AND n_words <= 100000) AS words_ok,
         |  (mwl >= 3.0 AND mwl <= 10.0) AS mwl_ok,
         |  (fa >= 0.8) AS alpha_ok,
         |  (ns >= 2) AS stop_ok,
         |  (n_words >= 30 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
         |    AND fa >= 0.8 AND ns >= 2) AS pass
         |FROM m""".stripMargin)
  )
}
