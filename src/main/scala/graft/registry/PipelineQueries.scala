package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Dedup, Sampling, TextAnalysis}
import Shared._

/** End-to-end curation pipelines chaining the operator families. */
object PipelineQueries {

  val queries: Seq[Query] = Seq(
    Query("pipeline_curate", (s, dir) => {
      // END-TO-END curation over the dedup corpus (originals + exact
      // copies + truncated near-dups): quality gate -> exact dedup ->
      // benchmark decontamination -> leakage-safe split. Every stage
      // is the already-verified operator; this query proves the
      // COMPOSITION matches the oracle end to end.
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("source") === "src0").select(col("text"))
      val corpus = dedupCorpus(s, dir)
      val kept = TextAnalysis.filterFunnel(corpus, "text",
          minTokens = 20, maxTokens = 90, keepLangs = Seq("en"), minStop = 0.02)
        .filter(col("verdict") === "kept")
        .select(col("doc_id"), col("text"))
      // ded feeds decontamination AND the survivor join; clean feeds
      // the pair job (twice: signatures + shingle sets) and the split.
      // Both are cut eagerly (the pretrainV3Stages rule), so the
      // upstream funnel/dedup/decon chain runs once — exactly what a
      // production pipeline does with its stage outputs (or writes
      // them out)
      val ded = Dedup.exactDedup(kept, "text", "doc_id").localCheckpoint()
      val flags = Dedup.decontaminate(ded, "text", "doc_id", bench, "text",
        n = 3, minHits = 3)
      val clean = ded.join(
        flags.filter(col("contaminated")).select(col("doc_id")),
        Seq("doc_id"), "left_anti").localCheckpoint()
      val pairs = Dedup.minhashPairs(clean, "text", "doc_id",
        numHashes = 16, bands = 4, shingleN = 3, threshold = 0.5)
      Sampling.leakageSafeSplit(clean.select(col("doc_id")), "doc_id",
        pairs, evalFrac = 0.1, seed = "cur0")
    },
      // the composition of the funnel, exact-dedup, decontaminate and
      // split_safe oracle fragments, each stage reading the previous
      s"""WITH RECURSIVE $corpusSql,
         |fw AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |fg AS (SELECT doc_id, len(w) AS n,
         |  len(list_filter(w, t -> list_contains(${LangSql.en}, t)))::DOUBLE / len(w) AS stop,
         |  ${LangSql.scoreCols}
         |FROM fw),
         |fv AS (SELECT doc_id, n, stop,
         |         CASE WHEN ${LangSql.best} = 0 THEN 'und' ${LangSql.caseChain} END AS lang_pred
         |       FROM fg),
         |kept AS (SELECT c.doc_id, c.text FROM corpus c JOIN fv USING (doc_id)
         |         WHERE n IS NOT NULL AND n >= 20 AND n <= 90
         |           AND lang_pred IN ('en') AND stop >= 0.02),
         |ex AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
         |ded AS (SELECT k.doc_id, k.text FROM kept k JOIN ex USING (doc_id)),
         |ben AS (SELECT string_split(text, ' ') AS w FROM documents WHERE source = 'src0'),
         |bsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(
         |          range(1, greatest(len(w)-1, 1)),
         |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh FROM ben),
         |dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM ded),
         |csh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |          range(1, greatest(len(w)-1, 1)),
         |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh FROM dw),
         |hits AS (SELECT doc_id, count(*) AS bench_hits
         |         FROM csh JOIN bsh USING (sh) GROUP BY doc_id),
         |clean AS (SELECT d.doc_id, d.text FROM ded d LEFT JOIN hits h USING (doc_id)
         |          WHERE coalesce(h.bench_hits, 0) < 3),
         |${minhashPairChain("clean")},
         |edges AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM mh_pairs),
         |cnodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (SELECT id, id AS r FROM cnodes
         |          UNION
         |          SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |keyed AS (SELECT c.doc_id,
         |            CAST(coalesce(l.cluster_id, c.doc_id) AS BIGINT) AS split_key
         |          FROM (SELECT doc_id FROM clean) c LEFT JOIN lab l ON l.id = c.doc_id)
         |SELECT doc_id, split_key,
         |  CASE WHEN CAST('0x' || substr(md5('cur0_' || CAST(split_key AS VARCHAR)), 1, 15) AS BIGINT)
         |         % 1000000 < 0.1 * 1000000
         |       THEN 'eval' ELSE 'train' END AS split
         |FROM keyed""".stripMargin),

    Query("pipeline_pretrain_v3", (s, dir) => {
      // END-TO-END pretraining-data assembly with the round-12
      // operators: quality funnel -> BLOOM benchmark decontamination
      // (the O(1)-per-gram deployment shape — the src0 benchmark
      // docs inside the crawl die here) -> quality-aware keep-BEST
      // near-dedup -> epoch-aware source mixture (scarce high-weight
      // sources repeat, tagged by epoch) -> deterministic split.
      // Proves the round-12 operators COMPOSE, as curate_v2 does for
      // round 11's. Every stage is the §2-verified operator reading
      // the previous frame; shared subtrees dedupe via ReuseExchange.
      pretrainV3Stages(s, dir).mixed
    },
      // the composition of the funnel fragment (over the dedup
      // corpus), the bloom position-set membership, the keep-best
      // closure + integer-score argmax, the epoch-mix floor/frac
      // arithmetic and the md5-Bernoulli split — each stage reads
      // the previous, every fragment verbatim from its own oracle
      s"""$pretrainV3Ctes
         |SELECT doc_id, source, n_tokens, epoch, split FROM mixed""".stripMargin),

    Query("pipeline_report", (s, dir) => {
      // the "where did my data go" funnel report every pipeline run
      // logs: one row per pretrain_v3 stage with its surviving row
      // count — raw corpus through funnel, decontamination, keep-best
      // dedup, the epoch mixture, and the final split sizes. Each
      // stage count is a single-row agg over the shared chain
      // (ReuseExchange dedupes the common subtrees in the one plan)
      // pretrainV3Stages cuts the spine frames, so the two arms read
      // checkpointed stage outputs instead of re-deriving the chain
      // (VERDICT r14 #5) — the cuts execute INSIDE the timed builder,
      // so the bench line stays honest
      val st = pretrainV3Stages(s, dir)
      // TWO aggregation arms, not one per stage: the early stages are
      // nested prefixes of one chain — and since they are cut,
      // they are CHECKPOINTED prefixes, so each stage count is one
      // partial-aggregated count over its own cut frame, crossJoined
      // into the single row (r20, guide §1.2): the doc-spine shape
      // this replaces left-joined kept/clean/survivors back onto the
      // corpus and summed match flags — three full doc-keyed joins
      // (plus a corpus re-derivation) to compute what are provably
      // the same integers (each stage is a filtered SUBSET of the
      // unique-id corpus, so sum-of-matches == count; oracle
      // re-gated). The mixed/train/eval trio stays one agg over the
      // mixture frame; the 7 output rows then EXPLODE from the single
      // joined row (map-side). The naive 7-branch union re-planned
      // the chain per branch: 19 s at sf0.1; the join shape landed at
      // ~1.2x the composition itself; this shape removes the last
      // three joins on top of it.
      val early = st.corpus.agg(count(lit(1)).as("_n0"))
        .crossJoin(st.kept.agg(count(lit(1)).as("_n1")))
        .crossJoin(st.clean.agg(count(lit(1)).as("_n2")))
        .crossJoin(st.survivors.agg(count(lit(1)).as("_n3")))
      val late = st.mixed.agg(count(lit(1)).as("_n4"),
        sum((col("split") === "train").cast("long")).as("_n5"),
        sum((col("split") === "eval").cast("long")).as("_n6"))
      early.crossJoin(late)
        .select(explode(array(
          struct(lit(0L).as("stage_ord"), lit("corpus").as("stage"), col("_n0").as("n_rows")),
          struct(lit(1L).as("stage_ord"), lit("funnel_kept").as("stage"), coalesce(col("_n1"), lit(0L)).as("n_rows")),
          struct(lit(2L).as("stage_ord"), lit("decontaminated").as("stage"), coalesce(col("_n2"), lit(0L)).as("n_rows")),
          struct(lit(3L).as("stage_ord"), lit("dedup_survivors").as("stage"), coalesce(col("_n3"), lit(0L)).as("n_rows")),
          struct(lit(4L).as("stage_ord"), lit("mixed").as("stage"), col("_n4").as("n_rows")),
          struct(lit(5L).as("stage_ord"), lit("train").as("stage"), coalesce(col("_n5"), lit(0L)).as("n_rows")),
          struct(lit(6L).as("stage_ord"), lit("eval").as("stage"), coalesce(col("_n6"), lit(0L)).as("n_rows")))).as("_r"))
        .select(col("_r.stage_ord"), col("_r.stage"), col("_r.n_rows"))
    },
      // the same chain, rolled to one count per stage
      s"""$pretrainV3Ctes
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS stage_ord, 'corpus' AS stage,
         |    (SELECT count(*) FROM corpus) AS n_rows
         |  UNION ALL SELECT 1, 'funnel_kept', (SELECT count(*) FROM kept)
         |  UNION ALL SELECT 2, 'decontaminated', (SELECT count(*) FROM clean)
         |  UNION ALL SELECT 3, 'dedup_survivors', (SELECT count(*) FROM surv)
         |  UNION ALL SELECT 4, 'mixed', (SELECT count(*) FROM mixed)
         |  UNION ALL SELECT 5, 'train', (SELECT count(*) FROM mixed WHERE split = 'train')
         |  UNION ALL SELECT 6, 'eval', (SELECT count(*) FROM mixed WHERE split = 'eval'))""".stripMargin),

    Query("pipeline_curate_v2", (s, dir) => {
      // END-TO-END curation with the round-11 operators: quality
      // funnel -> trained-classifier language gate (NB must AGREE the
      // doc is English — a second opinion over the stopword heuristic)
      // -> quality-aware keep-BEST near-dedup (longest copy survives,
      // not the arbitrary first) -> deterministic split. Proves the
      // new operators COMPOSE, like pipeline_curate does for round 7's
      val corpus = kbCorpus(s, dir)
      // localCheckpoint the multi-reader stages (the pretrainV3Stages
      // cut rule, VERDICT r14 #5): `gated` feeds the minhash
      // pair chain AND the score frame AND keep-best AND the final
      // pred_lang join — ReuseExchange dedupes only identical
      // exchanges, so as a plain plan the funnel+NB chain re-executed
      // per reader. The cuts run inside the timed builder; same rows,
      // same hash. (Construction-time persist/unpersist stays wrong
      // for declared builders — ADVICE r11 — but an EAGER cut is not
      // a deferred cache: it materializes here and now.)
      val kept = TextAnalysis.filterFunnel(corpus, "text",
          minTokens = 20, maxTokens = 90, keepLangs = Seq("en"), minStop = 0.02)
        .filter(col("verdict") === "kept")
        .select(col("doc_id"), col("text"))
        .localCheckpoint()
      // the NB gate in deployment form (r16): the SAME model the
      // classify_nb rows read (identical train split — documents
      // %5 != 0, 4096 buckets), scored at scan speed by the NbScore
      // kernel; bit-identical preds by the trainNaiveBayes contract,
      // so the chain-restating oracle is unchanged — and the
      // composition now shows the real pipeline shape: train once,
      // gate every corpus pass at scan speed. The text rides THROUGH
      // the scorer (carry, r20 guide §2.4): the old shape joined the
      // scored (doc_id, pred) frame back onto kept — a corpus-sized
      // doc-keyed join per construction to re-attach columns the
      // scan-speed kernel never had to drop. Same rows (doc_id is
      // unique; filter-then-join == carry-then-filter), oracle
      // re-gated.
      val gated = TextAnalysis.naiveBayesScoreAll(kept, "text", "doc_id",
            Fixtures.of(s, dir).nb, carry = Seq("text"))
        .filter(col("pred") === "en")
        .select(col("doc_id"), col("text"), col("pred").as("pred_lang"))
        .localCheckpoint()
      val pairs = Dedup.minhashPairs(gated, "text", "doc_id",
        numHashes = 16, bands = 4, shingleN = 3, threshold = 0.5)
      val scores = gated.select(col("doc_id"),
        size(filter(split(col("text"), " "), t => t =!= ""))
          .cast("long").as("n_tokens"))
      val best = Dedup.dedupKeepBest(gated, "doc_id", pairs, scores, "n_tokens")
      best.filter(col("keep"))
        .join(gated.select(col("doc_id"), col("pred_lang")), Seq("doc_id"))
        .select(col("doc_id"), col("pred_lang"), col("n_tokens"),
          when(Dedup.hash64(concat(lit("cur2_"), col("doc_id").cast("string")))
            % 1000000 < lit(0.1) * 1000000, "eval").otherwise("train").as("split"))
    },
      // the composition of the funnel fragment (over kb), the
      // nb-prefixed classifier chain gating on pred = 'en', the
      // keep-best closure + integer-score argmax, and the
      // md5-Bernoulli split — each stage reads the previous
      s"""WITH RECURSIVE $kbSql,
         |fw AS (SELECT doc_id, string_split(text, ' ') AS w FROM kb),
         |fg AS (SELECT doc_id, len(w) AS n,
         |  len(list_filter(w, t -> list_contains(${LangSql.en}, t)))::DOUBLE / len(w) AS stop,
         |  ${LangSql.scoreCols}
         |FROM fw),
         |fv AS (SELECT doc_id, n, stop,
         |         CASE WHEN ${LangSql.best} = 0 THEN 'und' ${LangSql.caseChain} END AS lang_pred
         |       FROM fg),
         |kept AS (SELECT k.doc_id, k.text FROM kb k JOIN fv USING (doc_id)
         |         WHERE n IS NOT NULL AND n >= 20 AND n <= 90
         |           AND lang_pred IN ('en') AND stop >= 0.02),
         |${nbGateChain("kept")},
         |gated AS (SELECT kept.doc_id, kept.text, nbwin.pred AS pred_lang
         |          FROM kept JOIN nbwin USING (doc_id) WHERE nbwin.pred = 'en'),
         |${minhashPairChain("gated")},
         |edges AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM mh_pairs),
         |cnodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (SELECT id, id AS r FROM cnodes
         |          UNION
         |          SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |scored AS (SELECT g.doc_id,
         |             CAST(coalesce(l.cluster_id, g.doc_id) AS BIGINT) AS cluster_id,
         |             len(list_filter(string_split(g.text, ' '), x -> x <> '')) AS n_tokens,
         |             g.pred_lang
         |           FROM gated g LEFT JOIN lab l ON l.id = g.doc_id),
         |mxs AS (SELECT cluster_id, max(n_tokens) AS m FROM scored GROUP BY 1),
         |wins AS (SELECT s.cluster_id, min(s.doc_id) AS wid
         |        FROM scored s JOIN mxs ON mxs.cluster_id = s.cluster_id AND s.n_tokens = mxs.m
         |        GROUP BY 1)
         |SELECT s.doc_id, s.pred_lang, s.n_tokens,
         |  CASE WHEN CAST('0x' || substr(md5('cur2_' || CAST(s.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         |         % 1000000 < 0.1 * 1000000 THEN 'eval' ELSE 'train' END AS split
         |FROM scored s JOIN wins w ON w.cluster_id = s.cluster_id AND s.doc_id = w.wid""".stripMargin)
  )

  /** The pretrain_v3 stage frames, shared by the composition query
    * and the pipeline_report stage-count funnel. */
  private case class PretrainStages(corpus: DataFrame, kept: DataFrame,
                                    clean: DataFrame, survivors: DataFrame,
                                    mixed: DataFrame)

  /** The three spine frames (funnel output, decontaminated corpus,
    * dedup survivors) are localCheckpointed — the
    * pagerank `cut` rule for MULTI-READER stages (VERDICT r14 #5):
    * `clean` feeds the minhash pair chain AND the score frame AND
    * keep-best's survivor join, and ReuseExchange only dedupes
    * IDENTICAL exchanges, so as plain plans the funnel→bloom chain
    * re-executed per reader. Same rows, same hash — only where the
    * plan is cut changes; the cuts run inside the timed query
    * builder, so bench lines stay honest. Measured at sf0.1:
    * pipeline_report 8.7 → 3.6 s, pipeline_pretrain_v3 8.8 → 3.5 s. */
  private def pretrainV3Stages(s: SparkSession, dir: String): PretrainStages = {
    val docs = Tables.documents(s, dir)
    val corpus = dedupCorpus(s, dir)
    val kept = TextAnalysis.filterFunnel(corpus, "text",
        minTokens = 20, maxTokens = 90, keepLangs = Seq("en"), minStop = 0.02)
      .filter(col("verdict") === "kept")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val flags = Dedup.decontaminateBloom(kept, "text", "doc_id",
      docs.filter(col("source") === "src0"), "text",
      n = 3, minHits = 3, mBits = 1 << 22)
    val clean = kept.join(
      flags.filter(col("contaminated")).select(col("doc_id")),
      Seq("doc_id"), "left_anti").localCheckpoint()
    val pairs = Dedup.minhashPairs(clean, "text", "doc_id",
      numHashes = 16, bands = 4, shingleN = 3, threshold = 0.5)
    val scores = clean.select(col("doc_id"),
      size(filter(split(col("text"), " "), t => t =!= ""))
        .cast("long").as("n_tokens"))
    val best = Dedup.dedupKeepBest(clean, "doc_id", pairs, scores, "n_tokens")
    // copies carry +100000/+200000 id offsets; the base id recovers
    // the source stratum for the mixture
    val survivors = best.filter(col("keep"))
      .join(docs.select(col("doc_id").as("_base"), col("source")),
        pmod(col("doc_id"), lit(100000L)) === col("_base"))
      .select(col("doc_id"), col("source"), col("n_tokens")).localCheckpoint()
    val mixed = Sampling.epochMix(survivors, "doc_id", col("source"),
        Map("src1" -> 0.5, "src2" -> 0.3, "src3" -> 0.2), budgetDocs = 120L)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("epoch"),
        when(Dedup.hash64(concat(lit("v3_"), col("doc_id").cast("string")))
          % 1000000 < lit(0.1) * 1000000, "eval").otherwise("train")
          .as("split"))
    PretrainStages(corpus, kept, clean, survivors, mixed)
  }

  /** Shared CTE chain for pipeline_pretrain_v3 / pipeline_report:
    * ends in the `mixed` frame (epoch-tagged, split-labeled). */
  private lazy val pretrainV3Ctes: String =
    s"""WITH RECURSIVE $corpusSql,
       |fw AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |fg AS (SELECT doc_id, len(w) AS n,
         |  len(list_filter(w, t -> list_contains(${LangSql.en}, t)))::DOUBLE / len(w) AS stop,
         |  ${LangSql.scoreCols}
         |FROM fw),
         |fv AS (SELECT doc_id, n, stop,
         |         CASE WHEN ${LangSql.best} = 0 THEN 'und' ${LangSql.caseChain} END AS lang_pred
         |       FROM fg),
         |kept AS MATERIALIZED (SELECT c.doc_id, c.text FROM corpus c JOIN fv USING (doc_id)
         |         WHERE n IS NOT NULL AND n >= 20 AND n <= 90
         |           AND lang_pred IN ('en') AND stop >= 0.02),
         |ben AS (SELECT string_split(text, ' ') AS w FROM documents WHERE source = 'src0'),
         |bsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(
         |          range(1, greatest(len(w)-1, 1)),
         |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh FROM ben),
         |bh AS (SELECT DISTINCT CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h FROM bsh),
         |bp AS (SELECT DISTINCT
         |         CAST('0x' || substr(md5('bl0_' || CAST(h AS VARCHAR)), 1 + 8*t.t, 8) AS BIGINT)
         |           % 4194304 AS pos
         |       FROM bh, (VALUES (0), (1), (2)) t(t)),
         |kw AS (SELECT doc_id, string_split(text, ' ') AS w FROM kept),
         |csh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h
         |        FROM (SELECT doc_id, unnest(list_distinct(list_transform(
         |                range(1, greatest(len(w)-1, 1)),
         |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh FROM kw)),
         |cp AS (SELECT doc_id, h, t.t,
         |         CAST('0x' || substr(md5('bl0_' || CAST(h AS VARCHAR)), 1 + 8*t.t, 8) AS BIGINT)
         |           % 4194304 AS pos
         |       FROM csh, (VALUES (0), (1), (2)) t(t)),
         |ghit AS (SELECT doc_id, h FROM cp JOIN bp USING (pos)
         |         GROUP BY doc_id, h HAVING count(*) = 3),
         |bhits AS (SELECT doc_id, count(*) AS bloom_hits FROM ghit GROUP BY doc_id),
         |clean AS MATERIALIZED (SELECT k.doc_id, k.text FROM kept k LEFT JOIN bhits h USING (doc_id)
         |          WHERE coalesce(h.bloom_hits, 0) < 3),
         |${minhashPairChain("clean")},
         |edges AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM mh_pairs),
         |cnodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (SELECT id, id AS r FROM cnodes
         |          UNION
         |          SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |scored AS (SELECT c.doc_id,
         |             CAST(coalesce(l.cluster_id, c.doc_id) AS BIGINT) AS cluster_id,
         |             CAST(len(list_filter(string_split(c.text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
         |           FROM clean c LEFT JOIN lab l ON l.id = c.doc_id),
         |mxs AS (SELECT cluster_id, max(n_tokens) AS m FROM scored GROUP BY 1),
         |wins AS (SELECT s.cluster_id, min(s.doc_id) AS wid
         |        FROM scored s JOIN mxs ON mxs.cluster_id = s.cluster_id AND s.n_tokens = mxs.m
         |        GROUP BY 1),
         |surv AS MATERIALIZED (SELECT s.doc_id, s.n_tokens, d.source
         |         FROM scored s JOIN wins w2 ON w2.cluster_id = s.cluster_id AND s.doc_id = w2.wid
         |         JOIN documents d ON d.doc_id = s.doc_id % 100000),
         |scnt AS (SELECT source AS s2, count(*) AS n FROM surv GROUP BY 1),
         |srate AS (SELECT s2,
         |        (CASE s2 WHEN 'src1' THEN CAST(0.5 AS DOUBLE)
         |                 WHEN 'src2' THEN CAST(0.3 AS DOUBLE)
         |                 WHEN 'src3' THEN CAST(0.2 AS DOUBLE)
         |                 ELSE CAST(0.0 AS DOUBLE) END * 120) / n AS rate
         |      FROM scnt),
         |se AS (SELECT doc_id, source, n_tokens, rate,
         |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         |          % 1000000 AS hv
         |      FROM surv JOIN srate ON source = srate.s2 WHERE rate > 0),
         |sreps AS (SELECT doc_id, source, n_tokens,
         |        CAST(floor(rate) AS BIGINT)
         |        + CASE WHEN hv < (rate - floor(rate)) * 1000000 THEN 1 ELSE 0 END AS reps
         |      FROM se),
         |mixed AS MATERIALIZED (SELECT doc_id, source, n_tokens, unnest(range(reps)) AS epoch,
         |  CASE WHEN CAST('0x' || substr(md5('v3_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         |         % 1000000 < 0.1 * 1000000 THEN 'eval' ELSE 'train' END AS split
         |FROM sreps WHERE reps >= 1)""".stripMargin
}
