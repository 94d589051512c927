package graft
package registry

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Search
import Shared._

/** BM25, phrase, hybrid and more-like-this retrieval, scan and indexed paths. */
object SearchQueries {

  val queries: Seq[Query] = Seq(
    Query("bm25_search", (s, dir) => {
      Search.bm25(Tables.documents(s, dir), "text", "doc_id",
          terms = Seq("join", "scan", "merge"), k = 20)
        .select(col("doc_id"), col("rank"), round(col("score"), 5).as("score"))
    },
      s"""WITH $bm25Ctes
         |SELECT doc_id, rank, round(score, 5) AS score FROM bm25r WHERE rank <= 20""".stripMargin),

    Query("bm25_indexed", (s, dir) => {
      // keyword search over the PERSISTED inverted index: the corpus
      // text is never read — the probe scans the query terms' bucket
      // partitions only, the text twin of the ANN index probes
      Search.bm25Indexed(s, Fixtures.of(s, dir).bm25Index, "doc_id",
          terms = Seq("join", "scan", "merge"), k = 20)
        .select(col("doc_id"), col("rank"), round(col("score"), 5).as("score"))
    },
      // independent of the bm25_search oracle: the indexed path folds
      // contributions in SORTED term order (the batch rule), so this
      // oracle orders its fold the same way
      """WITH qt AS (SELECT unnest(['join', 'scan', 'merge']) AS term),
        |w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(len(w)) AS sumdl FROM w),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, max(dl) AS dl FROM (
        |    SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM w)
        |  JOIN qt USING (term) GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |contrib AS (SELECT t.doc_id, t.term,
        |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) /
        |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / n))) AS c
        |  FROM tf t JOIN df USING (term), stats),
        |scored AS (SELECT doc_id, list_sum(list(c ORDER BY term)) AS score
        |           FROM contrib GROUP BY 1),
        |r AS (SELECT doc_id, score,
        |        row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |      FROM scored WHERE score > 0)
        |SELECT doc_id, rank, round(score, 5) AS score FROM r WHERE rank <= 20""".stripMargin),

    Query("phrase_search", (s, dir) => {
      // quoted-phrase search: consecutive-word match with exact
      // occurrence counts — the query BM25's bag of words can't ask
      Search.phraseSearch(Tables.documents(s, dir), "text", "doc_id",
        Seq("slow", "hash", "batch"), k = 10)
    },
      // one SQL for both phrase paths (in-memory scan and positional
      // index probe must agree row for row): per-term sorted position
      // lists, occurrence = base position p with p+i in term i's list
      // (positions are 1-based here, 0-based in Spark — only the OFFSETS
      // matter, so the bases cancel)
      phraseSql),

    Query("phrase_indexed", (s, dir) => {
      // the same phrase over the POSITIONAL inverted index: only the
      // phrase terms' bucket partitions are read
      Search.phraseIndexed(s, Fixtures.of(s, dir).phraseIndex, "doc_id",
        Seq("slow", "hash", "batch"), k = 10)
    }, phraseSql),

    Query("bm25_batch", (s, dir) => {
      // three queries in one corpus pass: the query workload is a
      // FRAME, tf joins the broadcast vocabulary, per-query top-5 is
      // a bounded agg — no per-query corpus scans
      import s.implicits._
      val qs = Seq((0L, "join"), (0L, "scan"), (1L, "merge"), (1L, "sort"),
        (2L, "vector"), (2L, "window")).toDF("qid", "term")
      Search.bm25Batch(Tables.documents(s, dir), "text", "doc_id", qs, k = 5)
        .select(col("qid"), col("doc_id"), col("rank"),
          round(col("score"), 5).as("score"))
    },
      // the scored fold is ORDER BY term on both sides (Spark sorts
      // the (term, contribution) structs and folds sequentially), so
      // the float sum has one defined order in both engines
      """WITH qt AS (SELECT * FROM (VALUES (0, 'join'), (0, 'scan'), (1, 'merge'),
        |    (1, 'sort'), (2, 'vector'), (2, 'window')) AS t(qid, term)),
        |w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(len(w)) AS sumdl FROM w),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, max(dl) AS dl FROM (
        |    SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM w)
        |  JOIN (SELECT DISTINCT term FROM qt) USING (term)
        |  GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |contrib AS (SELECT q.qid, t.doc_id, t.term,
        |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) /
        |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / n))) AS c
        |  FROM tf t JOIN qt q USING (term) JOIN df USING (term), stats),
        |scored AS (SELECT qid, doc_id, list_sum(list(c ORDER BY term)) AS score
        |           FROM contrib GROUP BY 1, 2),
        |r AS (SELECT qid, doc_id, score,
        |        row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        |      FROM scored WHERE score > 0)
        |SELECT qid, doc_id, rank, round(score, 5) AS score FROM r WHERE rank <= 5""".stripMargin),

    Query("hybrid_search", (s, dir) => {
      Search.hybridSearch(Tables.documents(s, dir), "text", "doc_id",
          terms = Seq("join", "scan", "merge"), queryText = "join scan merge",
          k = 10, dim = 16, poolK = 20, fusionK = 60)
        .select(col("doc_id"), col("rank"), round(col("rrf_score"), 6).as("rrf_score"),
          col("rank_text"), col("rank_vec"))
    },
      // RRF fusion: bm25 arm (same CTEs as bm25_search, pool 20) +
      // embedding-cosine arm over the hash-ngram dense embedding
      // (same sparse chain as embed_text, assembled dense)
      s"""WITH $bm25Ctes,
         |tr AS (SELECT doc_id, rank AS rank_text FROM bm25r WHERE rank <= 20),
         |tok AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS t FROM documents),
         |bc AS (SELECT doc_id,
         |         CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 16 AS bucket,
         |         count(*) AS c
         |       FROM tok GROUP BY 1, 2),
         |nm AS (SELECT doc_id, sqrt(sum(c * c)) AS nrm FROM bc GROUP BY doc_id),
         |sp AS (SELECT doc_id, bucket, c / nrm AS weight FROM bc JOIN nm USING (doc_id)),
         |lw AS (SELECT doc_id, list(bucket ORDER BY bucket) AS bs,
         |              list(weight ORDER BY bucket) AS ws
         |       FROM sp GROUP BY doc_id),
         |dn AS (SELECT doc_id, list_transform(range(16), i ->
         |         coalesce(ws[list_position(bs, i)], 0.0)) AS v FROM lw),
         |qtok AS (SELECT unnest(string_split('join scan merge', ' ')) AS t),
         |qbc AS (SELECT CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 16 AS bucket,
         |          count(*) AS c FROM qtok GROUP BY 1),
         |qnm AS (SELECT sqrt(sum(c * c)) AS nrm FROM qbc),
         |qlw AS (SELECT list(bucket ORDER BY bucket) AS bs, list(weight ORDER BY bucket) AS ws
         |        FROM (SELECT bucket, c / (SELECT nrm FROM qnm) AS weight FROM qbc)),
         |qdn AS (SELECT list_transform(range(16), i ->
         |          coalesce(ws[list_position(bs, i)], 0.0)) AS qv FROM qlw),
         |vd AS (SELECT doc_id, ${angSql("v", "qv")} AS d FROM dn, qdn),
         |vr AS (SELECT doc_id, rank_vec FROM (
         |         SELECT doc_id, row_number() OVER (ORDER BY d, doc_id) AS rank_vec FROM vd)
         |       WHERE rank_vec <= 20),
         |fs AS (SELECT coalesce(t.doc_id, v.doc_id) AS doc_id, t.rank_text, v.rank_vec,
         |         coalesce(CAST(1.0 AS DOUBLE) / (60 + t.rank_text), CAST(0.0 AS DOUBLE)) +
         |         coalesce(CAST(1.0 AS DOUBLE) / (60 + v.rank_vec), CAST(0.0 AS DOUBLE)) AS rrf
         |       FROM tr t FULL OUTER JOIN vr v ON t.doc_id = v.doc_id)
         |SELECT doc_id, rank, round(rrf, 6) AS rrf_score, rank_text, rank_vec FROM (
         |  SELECT doc_id, rrf, rank_text, rank_vec,
         |    row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank FROM fs)
         |WHERE rank <= 10""".stripMargin),

    Query("more_like_this", (s, dir) => {
      // related-content retrieval: per seed doc, top-5 most-similar
      // corpus docs by exact shingle Jaccard, MinHash-band-blocked —
      // the dedup corpus guarantees each seed finds its planted
      // copies/truncations ahead of unrelated docs
      val corpus = dedupCorpus(s, dir)
      val seeds = corpus.select(col("doc_id")).filter(col("doc_id") % 50 === 0)
      Search.moreLikeThis(corpus, "text", "doc_id", seeds, k = 5,
          numHashes = 16, bands = 4, shingleN = 3, minJaccard = 0.2)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("doc_id"), round(col("jaccard"), 5).as("jaccard"))
    }, moreLikeThisSql),

    Query("more_like_this_indexed", (s, dir) => {
      // the same retrieval over the PERSISTED MinHash index: seeds
      // sign fresh, the corpus contributes zero text scans — results
      // identical to the scan path (shared oracle)
      val seeds = dedupCorpus(s, dir).filter(col("doc_id") % 50 === 0)
      Search.moreLikeThisIndexed(s, Fixtures.of(s, dir).minhashIndex, seeds,
          "text", "doc_id", k = 5, minJaccard = 0.2)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("doc_id"), round(col("jaccard"), 5).as("jaccard"))
    },
      // the persisted index signs with the identical arithmetic as
      // the scan path (the dedup_incremental oracle pins that
      // family), so the indexed probe shares the scan path's oracle
      moreLikeThisSql)
  )

  /** Phrase-search oracle ("slow hash batch" consecutively): shared by
    * the scan and positional-index paths, which must agree exactly. */
  private val phraseSql: String =
    """WITH w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
      |p AS (SELECT doc_id, unnest(w) AS term, generate_subscripts(w, 1) AS pos FROM w),
      |p0 AS (SELECT doc_id, list(pos ORDER BY pos) AS ps FROM p WHERE term = 'slow' GROUP BY doc_id),
      |p1 AS (SELECT doc_id, list(pos ORDER BY pos) AS ps FROM p WHERE term = 'hash' GROUP BY doc_id),
      |p2 AS (SELECT doc_id, list(pos ORDER BY pos) AS ps FROM p WHERE term = 'batch' GROUP BY doc_id),
      |m AS (SELECT p0.doc_id,
      |        len(list_filter(p0.ps, x -> list_contains(p1.ps, x + 1) AND list_contains(p2.ps, x + 2))) AS n_occurrences
      |      FROM p0 JOIN p1 USING (doc_id) JOIN p2 USING (doc_id)),
      |r AS (SELECT doc_id, n_occurrences,
      |        row_number() OVER (ORDER BY n_occurrences DESC, doc_id) AS rank
      |      FROM m WHERE n_occurrences > 0)
      |SELECT doc_id, rank, n_occurrences FROM r WHERE rank <= 10""".stripMargin

  /** Shared DuckDB CTE chain for Okapi BM25 over `documents` with
    * query terms (join, scan, merge), k1 = 1.2, b = 0.75 — the
    * bm25_search and hybrid_search oracles must score identically.
    * Mirrors [[graft.operators.Search.bm25Scored]]: integer dl/df
    * sums, per-term contributions added in fixed term order, ranks
    * tie-broken by doc_id. */
  private val bm25Ctes: String = {
    val terms = Seq("join", "scan", "merge")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(w, x -> x = '$t')) AS DOUBLE) AS tf$i"
    }.mkString(",\n         ")
    val dfCols = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
      .mkString(",\n              ")
    val termSum = terms.indices.map(i =>
      s"ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * (1.2 + 1.0)) / " +
        s"(tf$i + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / n)))")
      .mkString(" +\n    ")
    s"""bmw AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
       |bmtf AS (SELECT doc_id,
       |         $tfCols,
       |         len(w) AS dl
       |       FROM bmw),
       |bmst AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS BIGINT) AS sumdl,
       |              $dfCols
       |       FROM bmtf),
       |bmsc AS (SELECT doc_id,
       |    $termSum AS score
       |  FROM bmtf, bmst),
       |bm25r AS (SELECT doc_id, score,
       |            row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |          FROM bmsc WHERE score > 0)""".stripMargin
  }

  /** Shared oracle for `more_like_this` (scan path) and
    * `more_like_this_indexed` (persisted MinHash index probe): the
    * decontaminate_near band machinery with the corpus on both sides;
    * rank = (jaccard DESC, doc_id ASC) row_number — jaccard is an
    * integer-derived ratio, so the cutoff agrees exactly in both
    * engines, and the two Spark paths sign with the same family. */
  private lazy val moreLikeThisSql: String =
    s"""WITH $corpusSql,
       |seedsrc AS (SELECT doc_id, text FROM corpus WHERE doc_id % 50 = 0),
       |${mhBandChain("seedsrc", "q")},
       |${mhBandChain("corpus", "c")},
       |cand AS (SELECT DISTINCT q.doc_id AS qid, c.doc_id AS did
       |         FROM qband q JOIN cband c USING (band, key)
       |         WHERE q.doc_id <> c.doc_id),
       |ver AS (SELECT cand.qid, cand.did,
       |          len(list_intersect(a.hs, b.hs)) AS i,
       |          len(a.hs) AS na, len(b.hs) AS nb
       |        FROM cand JOIN qhs a ON a.doc_id = cand.qid
       |                  JOIN chs b ON b.doc_id = cand.did),
       |j AS (SELECT qid, did, i * 1.0 / (na + nb - i) AS jaccard FROM ver
       |      WHERE i * 1.0 / (na + nb - i) >= 0.2),
       |r AS (SELECT qid, did, jaccard,
       |        row_number() OVER (PARTITION BY qid ORDER BY jaccard DESC, did ASC) AS rank
       |      FROM j)
       |SELECT qid, rank, did AS doc_id, round(jaccard, 5) AS jaccard
       |FROM r WHERE rank <= 5""".stripMargin
}
