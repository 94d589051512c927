package graft
package registry

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Dedup, Sampling}
import Shared._

/** Sampling, mixing, epoch planning and leakage-safe splits. */
object SamplingQueries {

  val queries: Seq[Query] = Seq(
    Query("sample_stratified", (s, dir) => {
      Sampling.stratified(Tables.documents(s, dir), "doc_id", col("source"),
          Map("src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1)
        .select(col("doc_id"), col("source"))
    },
      """SELECT doc_id, source FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 <
        |      (CASE source WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.25 ELSE 0.1 END) * 1000000""".stripMargin),

    Query("split_temporal", (s, dir) => {
      // embargoed time split: eval after the cutoff, train at least
      // one day BEFORE it, the day between excluded from both sides
      Sampling.temporalSplit(Tables.events(s, dir), "ts",
          "2024-01-24 00:00:00", embargoSeconds = 86400L)
        .select(col("event_id"), col("split"))
    },
      """SELECT event_id,
        |  CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-24 00:00:00' THEN 'eval'
        |       WHEN CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-24 00:00:00' - INTERVAL 86400 SECOND THEN 'train'
        |       ELSE 'embargo' END AS split
        |FROM events""".stripMargin),

    Query("sample_topk", (s, dir) => {
      Sampling.exactSample(Tables.documents(s, dir), "doc_id",
          col("source"), k = 20, seed = "sk0")
        .select(col("stratum"), col("doc_id"), col("sample_rank"))
    },
      // rank by double-cast hash then id: the Spark side's TopKAgg
      // orders (double, long) pairs, so the oracle must rank on the
      // SAME double conversion of the 60-bit hash
      """WITH h AS (SELECT source AS stratum, doc_id,
        |             CAST(CAST('0x' || substr(md5('sk0_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) AS hv
        |           FROM documents),
        |r AS (SELECT stratum, doc_id,
        |        row_number() OVER (PARTITION BY stratum ORDER BY hv, doc_id) AS sample_rank
        |      FROM h)
        |SELECT stratum, doc_id, sample_rank FROM r WHERE sample_rank <= 20""".stripMargin),

    Query("sample_balanced", (s, dir) => {
      // class-balance by language: every lang contributes exactly
      // min-class-count docs, chosen by the deterministic (hash, id)
      // rank — the downsample step before training a label classifier
      Sampling.balancedSample(Tables.documents(s, dir), "doc_id",
          col("lang"), seed = "bal0")
        .select(col("stratum"), col("doc_id"),
          col("sample_rank").cast("long").as("sample_rank"))
    },
      // sample_topk's rank machinery with k = the data-derived
      // min-class-count cap
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |cap AS (SELECT min(n) AS k FROM c),
        |h AS (SELECT lang AS stratum, doc_id,
        |        CAST(CAST('0x' || substr(md5('bal0_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) AS hv
        |      FROM documents),
        |r AS (SELECT stratum, doc_id,
        |        row_number() OVER (PARTITION BY stratum ORDER BY hv, doc_id) AS sample_rank
        |      FROM h)
        |SELECT stratum, doc_id, sample_rank FROM r, cap WHERE sample_rank <= cap.k""".stripMargin),

    Query("split_safe", (s, dir) => {
      // leakage-safe split over the dedup corpus: near-dup clusters
      // (minhash pairs) land wholly in train or wholly in eval
      val corpus = dedupCorpus(s, dir)
      val pairs = Dedup.minhashPairs(corpus, "text", "doc_id",
        numHashes = 16, bands = 4, shingleN = 3, threshold = 0.5)
      Sampling.leakageSafeSplit(corpus.select(col("doc_id")), "doc_id",
        pairs, evalFrac = 0.1, seed = "split0")
    },
      // near-dup clusters (minhash pair graph closure) share a
      // split_key; the whole cluster lands on one side via the same
      // md5-Bernoulli rule sample_stratified uses
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM mh_pairs),
         |cnodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (SELECT id, id AS r FROM cnodes
         |          UNION
         |          SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |keyed AS (SELECT c.doc_id,
         |            CAST(coalesce(l.cluster_id, c.doc_id) AS BIGINT) AS split_key
         |          FROM (SELECT doc_id FROM corpus) c LEFT JOIN lab l ON l.id = c.doc_id)
         |SELECT doc_id, split_key,
         |  CASE WHEN CAST('0x' || substr(md5('split0_' || CAST(split_key AS VARCHAR)), 1, 15) AS BIGINT)
         |         % 1000000 < 0.1 * 1000000
         |       THEN 'eval' ELSE 'train' END AS split
         |FROM keyed""".stripMargin),

    Query("split_kfold", (s, dir) => {
      // leakage-safe 5-fold CV assignment over the dedup corpus:
      // near-dup clusters land wholly inside one fold
      val corpus = dedupCorpus(s, dir)
      val pairs = Dedup.minhashPairs(corpus, "text", "doc_id",
        numHashes = 16, bands = 4, shingleN = 3, threshold = 0.5)
      Sampling.kfoldSplit(corpus.select(col("doc_id")), "doc_id",
        pairs, k = 5, seed = "cv0")
    },
      // the split_safe closure with fold = hash64(seed_unit) mod 5
      // instead of the Bernoulli threshold
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM mh_pairs),
         |cnodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (SELECT id, id AS r FROM cnodes
         |          UNION
         |          SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |keyed AS (SELECT c.doc_id,
         |            CAST(coalesce(l.cluster_id, c.doc_id) AS BIGINT) AS split_key
         |          FROM (SELECT doc_id FROM corpus) c LEFT JOIN lab l ON l.id = c.doc_id)
         |SELECT doc_id, split_key,
         |  CAST(CAST('0x' || substr(md5('cv0_' || CAST(split_key AS VARCHAR)), 1, 15) AS BIGINT)
         |       % 5 AS INT) AS fold
         |FROM keyed""".stripMargin),

    Query("shuffle_shards", (s, dir) => {
      Sampling.shuffleShards(Tables.documents(s, dir), "doc_id", "seed7", 16)
        .select(col("doc_id"), col("shuffle_key"), col("shard"), col("shard_pos"))
    },
      """WITH h AS (SELECT doc_id,
        |  CAST('0x' || substr(md5('seed7_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |    AS shuffle_key
        |  FROM documents)
        |SELECT doc_id, shuffle_key, CAST(shuffle_key % 16 AS INT) AS shard,
        |  row_number() OVER (PARTITION BY shuffle_key % 16
        |                     ORDER BY shuffle_key, doc_id) AS shard_pos
        |FROM h""".stripMargin),

    Query("sample_epoch_plan", (s, dir) => {
      // the GPT-3-style mixing table: per source, available docs vs
      // target mass, split into full epochs + fractional remainder
      Sampling.epochPlan(Tables.documents(s, dir), col("source"),
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), budgetDocs = 200L)
    },
      // weights cast to DOUBLE explicitly (DuckDB decimal literals
      // would otherwise run DECIMAL arithmetic where Spark runs IEEE
      // double — floor/frac sit right on those boundaries); same
      // (w * budget) / n op order as the Spark side
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |r AS (SELECT source, n_docs,
        |        CASE source WHEN 'src0' THEN CAST(0.5 AS DOUBLE)
        |                    WHEN 'src1' THEN CAST(0.3 AS DOUBLE)
        |                    WHEN 'src2' THEN CAST(0.2 AS DOUBLE)
        |                    ELSE CAST(0.0 AS DOUBLE) END AS weight FROM c)
        |SELECT source, n_docs, weight,
        |  round(weight * 200 / n_docs, 5) AS rate,
        |  CAST(floor(weight * 200 / n_docs) AS BIGINT) AS full_epochs,
        |  round(weight * 200 / n_docs - floor(weight * 200 / n_docs), 5) AS frac_rate
        |FROM r WHERE weight > 0""".stripMargin),

    Query("sample_epochs", (s, dir) => {
      // the plan materialized: scarce high-weight sources repeat for
      // floor(rate) epochs plus an md5-Bernoulli fractional epoch,
      // each copy tagged with its epoch index
      Sampling.epochMix(Tables.documents(s, dir), "doc_id", col("source"),
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), budgetDocs = 200L)
        .select(col("doc_id"), col("source"), col("epoch"))
    },
      // reps = floor(rate) + the stratified md5-Bernoulli at the
      // fractional remainder; each kept doc unnests its epoch range
      """WITH c AS (SELECT source AS s, count(*) AS n FROM documents GROUP BY 1),
        |r AS (SELECT s,
        |        (CASE s WHEN 'src0' THEN CAST(0.5 AS DOUBLE)
        |                WHEN 'src1' THEN CAST(0.3 AS DOUBLE)
        |                WHEN 'src2' THEN CAST(0.2 AS DOUBLE)
        |                ELSE CAST(0.0 AS DOUBLE) END * 200) / n AS rate
        |      FROM c),
        |d AS (SELECT doc_id, source, rate,
        |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |          % 1000000 AS hv
        |      FROM documents JOIN r ON source = r.s WHERE rate > 0),
        |e AS (SELECT doc_id, source,
        |        CAST(floor(rate) AS BIGINT)
        |        + CASE WHEN hv < (rate - floor(rate)) * 1000000 THEN 1 ELSE 0 END AS reps
        |      FROM d)
        |SELECT doc_id, source, unnest(range(reps)) AS epoch FROM e WHERE reps >= 1""".stripMargin),

    Query("sample_mix", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // domain mixing end-to-end: derive per-source rates that hit the
      // target weights at a 60-doc budget (ONE count job, a Fixtures
      // member so repeat constructions — plan audits, bench warm/timed
      // passes — stay lazy like every other query), then the
      // zero-shuffle deterministic Bernoulli filter
      val rates = Fixtures.of(s, dir).mixRates
      Sampling.stratified(docs, "doc_id", col("source"), rates)
        .select(col("doc_id"), col("source"))
    },
      // identical IEEE arithmetic on both sides: rate = least(1, w *
      // budget / n) from the same integer counts, keep iff
      // hash64(id) % 1e6 < rate * 1e6
      """WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |r AS (SELECT source,
        |        least(1.0, CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
        |                               WHEN 'src2' THEN 0.2 ELSE 0.0 END * 60 / n) AS rate
        |      FROM counts),
        |h AS (SELECT doc_id, source,
        |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |          % 1000000 AS hv
        |      FROM documents)
        |SELECT doc_id, h.source FROM h JOIN r USING (source)
        |WHERE hv < rate * 1000000""".stripMargin),

    Query("sample_temperature", (s, dir) => {
      // α = 1/2 temperature mixing: per-source mass ∝ √n — the
      // low-resource up-weighting every multilingual pipeline runs,
      // with sqrt (IEEE-exact) keeping the oracle bit-identical
      val docs = Tables.documents(s, dir)
      val rates = Fixtures.of(s, dir).temperatureRates
      Sampling.stratified(docs, "doc_id", col("source"), rates)
        .select(col("doc_id"), col("source"))
    },
      // same IEEE ops in the same order: Z folds sqrt(n) in sorted
      // source order; rate = ((budget * sqrt(n)) / Z) / n capped at 1
      """WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |z AS (SELECT list_sum(list(sqrt(CAST(n AS DOUBLE)) ORDER BY source)) AS z
        |      FROM counts),
        |r AS (SELECT source,
        |        least(1.0, CAST(100 AS DOUBLE) * sqrt(CAST(n AS DOUBLE)) / z
        |                   / CAST(n AS DOUBLE)) AS rate
        |      FROM counts, z),
        |h AS (SELECT doc_id, source,
        |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |          % 1000000 AS hv
        |      FROM documents)
        |SELECT doc_id, h.source FROM h JOIN r USING (source)
        |WHERE hv < rate * 1000000""".stripMargin),

    Query("sample_weighted", (s, dir) => {
      // keep probability ramps with document length: a 2000-char doc
      // always survives, a 200-char doc survives 10% of the time
      Sampling.weighted(Tables.documents(s, dir), "doc_id",
          col("n_chars") / lit(2000.0))
        .select(col("doc_id"), col("source"),
          round(col("sample_rate"), 6).as("sample_rate"))
    },
      // same md5-Bernoulli rule as sample_stratified, rate from the
      // same n_chars/2000 clamp arithmetic
      """WITH rated AS (SELECT doc_id, source,
        |    least(greatest(CAST(n_chars AS DOUBLE) / 2000.0, 0.0), 1.0) AS sample_rate
        |  FROM documents)
        |SELECT doc_id, source, round(sample_rate, 6) AS sample_rate FROM rated
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000
        |      < sample_rate * 1000000""".stripMargin),

    Query("sample_length_strata", (s, dir) => {
      // equal counts from every document-length quartile: quantile
      // thresholds from the deterministic 256-sample, 25 docs per bin
      // by the seed-keyed (hash, id) rank
      Sampling.quantileStrata(Tables.documents(s, dir), "doc_id",
          "n_chars", bins = 4, perBin = 25)
        .select(col("doc_id"), col("value"), col("bin"), col("sample_rank"))
    },
      // thresholds from the events_quantiles sample reconstruction
      // (distinct hash stream), bins by strict-greater HOF count,
      // draw by the sample_topk (hash, id) rank per bin
      """WITH v AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS v FROM documents WHERE n_chars IS NOT NULL),
        |th0 AS (SELECT doc_id, v,
        |          CAST(CAST('0x' || substr(md5('qs0_t_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) AS hv
        |        FROM v),
        |r AS (SELECT *, row_number() OVER (ORDER BY hv, doc_id) AS rn FROM th0),
        |s2 AS (SELECT list(v ORDER BY v) AS vs FROM r WHERE rn <= 256),
        |th AS (SELECT list_transform(range(1, 4), i ->
        |         vs[CAST(floor((CAST(i AS DOUBLE) / 4) * (len(vs) - 1)) AS INT) + 1]) AS ths FROM s2),
        |b AS (SELECT doc_id, v, CAST(len(list_filter(ths, t -> v > t)) AS BIGINT) AS bin FROM v, th),
        |d AS (SELECT doc_id, v, bin,
        |        CAST(CAST('0x' || substr(md5('qs0_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) AS dh
        |      FROM b),
        |sel AS (SELECT doc_id, v, bin,
        |          row_number() OVER (PARTITION BY bin ORDER BY dh, doc_id) AS sample_rank
        |        FROM d)
        |SELECT doc_id, v AS value, bin, sample_rank
        |FROM sel WHERE sample_rank <= 25""".stripMargin),

    Query("sample_dsir", (s, dir) => {
      // "make the crawl look like the English slice": DSIR importance
      // resampling (Xie et al. 2023) — hashed-n-gram models of target
      // (lang='en') vs raw, per-doc log importance weight, Gumbel
      // top-k draw; weights are one map-side fold over a broadcast
      // one-row bucket→logratio map, zero corpus-side shuffles
      val docs = Tables.table(s, dir, "documents")
      val target = docs.filter(col("lang") === "en")
      graft.operators.Sampling.dsirSample(docs, "doc_id", "text",
          target, "text", k = 80, buckets = 4096)
        .select(col("doc_id"), col("n_grams"),
          round(col("dsir_logw"), 5).as("dsir_logw"),
          round(col("gumbel_key"), 5).as("gumbel_key"))
    },
      // identical hashed-gram models (60-bit md5 % 4096), identical
      // Laplace ratios (all ln inputs integer-derived), and the
      // per-doc sum assembled in gram-sequence order
      // (list_sum(list(lr ORDER BY pos)) == the Spark side's ordered
      // aggregate fold); Gumbel key from the shared md5 uniform
      """WITH t AS (SELECT doc_id,
        |       list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
        |     FROM documents),
        |g AS (SELECT doc_id, list_concat(w,
        |        CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)),
        |            i -> w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)])
        |          ELSE CAST([] AS VARCHAR[]) END) AS gs
        |      FROM t),
        |tb AS (SELECT CAST('0x' || substr(md5(x.gm), 1, 15) AS BIGINT) % 4096 AS bkt,
        |         count(*) AS nt
        |       FROM (SELECT unnest(g.gs) AS gm FROM g JOIN documents d USING (doc_id)
        |             WHERE d.lang = 'en') x GROUP BY 1),
        |rb AS (SELECT CAST('0x' || substr(md5(x.gm), 1, 15) AS BIGINT) % 4096 AS bkt,
        |         count(*) AS nr
        |       FROM (SELECT unnest(gs) AS gm FROM g) x GROUP BY 1),
        |tt AS (SELECT sum(nt) AS t FROM tb), tr AS (SELECT sum(nr) AS r FROM rb),
        |m AS (SELECT rb.bkt,
        |        ln((coalesce(tb.nt, 0) + 1.0) / (coalesce(tt.t, 0) + 4096))
        |          - ln((rb.nr + 1.0) / (tr.r + 4096)) AS lr
        |      FROM rb LEFT JOIN tb USING (bkt), tt, tr),
        |p AS (SELECT doc_id, unnest(list_transform(range(1, len(gs) + 1),
        |        i -> {'pos': i, 'gm': gs[CAST(i AS INT)]})) AS s FROM g),
        |p2 AS (SELECT doc_id, s.pos AS pos,
        |         CAST('0x' || substr(md5(s.gm), 1, 15) AS BIGINT) % 4096 AS bkt
        |       FROM p),
        |sc AS (SELECT p2.doc_id, p2.pos, m.lr FROM p2 JOIN m USING (bkt)),
        |agg AS (SELECT doc_id, count(*) AS n_grams,
        |          list_sum(list(lr ORDER BY pos)) AS sw
        |        FROM sc GROUP BY doc_id),
        |wts AS (SELECT g.doc_id, coalesce(agg.n_grams, 0) AS n_grams,
        |          coalesce(agg.sw, 0.0) AS logw
        |        FROM g LEFT JOIN agg USING (doc_id)),
        |keyed AS (SELECT doc_id, n_grams, logw,
        |        logw - ln(-ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |          AS BIGINT) % 1000000 + 0.5) / 1000000)) AS gk
        |      FROM wts)
        |SELECT doc_id, n_grams, round(logw, 5) AS dsir_logw, round(gk, 5) AS gumbel_key
        |FROM keyed ORDER BY gk DESC, doc_id LIMIT 80""".stripMargin)
  )
}
