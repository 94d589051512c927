package graft
package registry

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{AnnLsh, Dedup, Eval, TextAnalysis}
import Shared._

/** Near-duplicate detection and resolution over the dedup test corpora. */
object DedupQueries {

  val queries: Seq[Query] = Seq(
    Query("dedup_exact", (s, dir) => {
      Dedup.exactGroups(dedupCorpus(s, dir), "text", "doc_id")
        .filter(col("dup_count") > 1)
        .select(col("canonical_id"), col("dup_count"))
    },
      s"""WITH $corpusSql
         |SELECT canonical_id, dup_count FROM (
         |  SELECT min(doc_id) AS canonical_id, count(*) AS dup_count
         |  FROM corpus GROUP BY md5(text))
         |WHERE dup_count > 1""".stripMargin),

    Query("dedup_minhash", (s, dir) => {
      Dedup.minhashPairs(dedupCorpus(s, dir), "text", "doc_id",
          numHashes = 16, bands = 4, shingleN = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 5).as("jaccard"))
    },
      s"""WITH $minhashPairsCtes
         |SELECT id_a, id_b, round(jaccard, 5) AS jaccard FROM mh_pairs""".stripMargin),

    Query("dedup_incremental", (s, dir) => {
      // delta = a synthetic "new crawl": exact corpus copies (%4),
      // tail-truncated corpus copies (%6), and word-REVERSED docs
      // (%5, twice — full + truncated) whose 3-shingles are disjoint
      // from the corpus but overlap each other, so all three verdicts
      // (dup_corpus / dup_delta / kept) are exercised
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val withW = docs.select(col("doc_id"), col("text"),
        split(col("text"), " ").as("_w"))
      val delta = docs.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 500000).as("doc_id"), col("text"))
        .unionByName(withW.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 600000).as("doc_id"),
            array_join(slice(col("_w"), lit(1),
              greatest(size(col("_w")) - 5, lit(1))), " ").as("text")))
        .unionByName(withW.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 700000).as("doc_id"),
            array_join(reverse(col("_w")), " ").as("text")))
        .unionByName(withW.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 800000).as("doc_id"),
            array_join(slice(reverse(col("_w")), lit(1),
              greatest(size(col("_w")) - 3, lit(1))), " ").as("text")))
      Dedup.incrementalNearDup(docs, delta, "text", "doc_id")
        .select(col("doc_id"), col("verdict"), col("canonical_id"),
          round(col("jaccard"), 5).as("jaccard"))
    },
      // same delta construction as the Spark side; corpus matches take
      // precedence (smallest cid via row_number), then a recursive
      // closure over verified pairs among the corpus-UNMATCHED delta
      s"""WITH RECURSIVE delta AS (
         |  SELECT doc_id + 500000 AS doc_id, text FROM documents WHERE doc_id % 4 = 0
         |  UNION ALL
         |  SELECT doc_id + 600000, array_to_string(w[1:greatest(len(w)-5, 1)], ' ')
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |  WHERE doc_id % 6 = 0
         |  UNION ALL
         |  SELECT doc_id + 700000, array_to_string(list_reverse(w), ' ')
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |  WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 800000, array_to_string(list_reverse(w)[1:greatest(len(w)-3, 1)], ' ')
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |  WHERE doc_id % 5 = 0),
         |${mhBandChain("documents", "c")},
         |${mhBandChain("delta", "d")},
         |xc AS (SELECT DISTINCT d.doc_id AS did, c.doc_id AS cid
         |       FROM dband d JOIN cband c USING (band, key)),
         |xv AS (SELECT did, cid, i * 1.0 / (na + nb - i) AS j FROM (
         |         SELECT x.did, x.cid, len(list_intersect(a.hs, b.hs)) AS i,
         |                len(a.hs) AS na, len(b.hs) AS nb
         |         FROM xc x JOIN chs a ON a.doc_id = x.cid
         |                   JOIN dhs b ON b.doc_id = x.did)
         |       WHERE i * 1.0 / (na + nb - i) >= 0.5),
         |best AS (SELECT did, cid, j FROM (
         |           SELECT *, row_number() OVER (PARTITION BY did ORDER BY cid) AS rn
         |           FROM xv) WHERE rn = 1),
         |dd AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |       FROM dband a JOIN dband b USING (band, key)
         |       WHERE a.doc_id < b.doc_id
         |         AND a.doc_id NOT IN (SELECT did FROM best)
         |         AND b.doc_id NOT IN (SELECT did FROM best)),
         |ddv AS (SELECT id_a, id_b FROM (
         |          SELECT p.id_a, p.id_b, len(list_intersect(a.hs, b.hs)) AS i,
         |                 len(a.hs) AS na, len(b.hs) AS nb
         |          FROM dd p JOIN dhs a ON a.doc_id = p.id_a
         |                    JOIN dhs b ON b.doc_id = p.id_b)
         |        WHERE i * 1.0 / (na + nb - i) >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM ddv
         |          UNION ALL SELECT id_b, id_a FROM ddv),
         |cnodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (SELECT id, id AS r FROM cnodes
         |          UNION
         |          SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |lab AS (SELECT id, min(r) AS lbl FROM reach GROUP BY id)
         |SELECT d.doc_id,
         |  CASE WHEN best.cid IS NOT NULL THEN 'dup_corpus'
         |       WHEN lab.lbl IS NOT NULL AND lab.lbl <> d.doc_id THEN 'dup_delta'
         |       ELSE 'kept' END AS verdict,
         |  coalesce(best.cid, lab.lbl, d.doc_id) AS canonical_id,
         |  round(best.j, 5) AS jaccard
         |FROM delta d LEFT JOIN best ON best.did = d.doc_id
         |             LEFT JOIN lab ON lab.id = d.doc_id""".stripMargin),

    Query("dedup_cluster", (s, dir) => {
      val pairs = Dedup.minhashPairs(dedupCorpus(s, dir), "text", "doc_id",
        numHashes = 16, bands = 4, shingleN = 3, threshold = 0.5)
      Dedup.connectedComponents(pairs)
    },
      // connected components over the minhash near-dup pair graph:
      // transitive closure via recursive CTE; cluster = min reachable id
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM mh_pairs),
         |cnodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (SELECT id, id AS r FROM cnodes
         |          UNION
         |          SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst)
         |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin),

    Query("dedup_cluster_stats", (s, dir) => {
      // the "how duplicated is my corpus" dashboard: cluster-size
      // histogram over the near-dup components plus the singleton row
      // (docs in no pair) — the numbers a dedup budget is set from
      val corpus = dedupCorpus(s, dir)
      val cc = Dedup.connectedComponents(
        Dedup.minhashPairs(corpus, "text", "doc_id",
          numHashes = 16, bands = 4, shingleN = 3, threshold = 0.5))
      val hist = cc.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("_sz"))
        .groupBy(col("_sz").cast("long").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
      // pair-graph components have >= 2 members, so size 1 is free
      val singles = corpus.agg(count(lit(1)).as("_nt"))
        .crossJoin(broadcast(cc.agg(count(lit(1)).as("_nc"))))
        .select(lit(1L).as("cluster_size"),
          (col("_nt") - col("_nc")).as("n_clusters"))
      hist.unionByName(singles)
    },
      // the dedup_cluster closure rolled to a size histogram, plus
      // the singleton row from two scalar counts
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM mh_pairs),
         |cnodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (SELECT id, id AS r FROM cnodes
         |          UNION
         |          SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |szs AS (SELECT cluster_id, count(*) AS sz FROM cc GROUP BY 1)
         |SELECT CAST(sz AS BIGINT) AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM szs GROUP BY sz
         |UNION ALL
         |SELECT 1, (SELECT count(*) FROM corpus) - (SELECT count(*) FROM cc)""".stripMargin),

    Query("dedup_simhash", (s, dir) => {
      Dedup.simhashPairs(dedupCorpus(s, dir), "text", "doc_id", maxHamming = 8)
        .select(col("id_a"), col("id_b"), col("hamming").cast("bigint").as("hamming"))
    },
      s"""WITH $corpusSql,
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus),
         |th AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS th FROM tok),
         |bits AS (SELECT doc_id, i,
         |           sum(CASE WHEN (th >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |         FROM th, range(60) r(i) GROUP BY doc_id, i),
         |sim AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS simhash
         |        FROM bits GROUP BY doc_id),
         |banded AS (SELECT doc_id, simhash, bb.b AS band, (simhash >> (bb.b * 15)) & 32767 AS key
         |           FROM sim, range(4) bb(b)),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |            bit_count(xor(a.simhash, b.simhash)) AS hamming
         |          FROM banded a JOIN banded b USING (band, key)
         |          WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 8""".stripMargin),

    Query("dedup_ngram", (s, dir) => {
      Dedup.ngramJaccardPairs(dedupCorpus(s, dir), "text", "doc_id",
          n = 3, threshold = 0.6, maxDf = 20, maxDfFrac = 0.005)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 5).as("jaccard"))
    },
      s"""WITH $corpusSql,
         |wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |shl AS (SELECT doc_id, list_distinct(list_transform(
         |          list_transform(range(1, greatest(len(w)-1, 1)),
         |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
         |          s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS hs FROM wt),
         |sh AS (SELECT doc_id, unnest(hs) AS sh FROM shl),
         |rare AS (SELECT sh FROM (SELECT sh, count(*) AS c FROM sh GROUP BY sh)
         |         WHERE c <= greatest(20, ceil((SELECT count(*) FROM corpus) * 0.005))),
         |f AS (SELECT doc_id, sh.sh FROM sh JOIN rare USING (sh)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM f a JOIN f b USING (sh) WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(i * 1.0 / (na + nb - i), 5) AS jaccard FROM (
         |  SELECT c.id_a, c.id_b, len(list_intersect(a.hs, b.hs)) AS i,
         |         len(a.hs) AS na, len(b.hs) AS nb
         |  FROM cand c JOIN shl a ON a.doc_id = c.id_a
         |              JOIN shl b ON b.doc_id = c.id_b)
         |WHERE i * 1.0 / (na + nb - i) >= 0.6""".stripMargin),

    Query("dedup_substring", (s, dir) =>
      Dedup.duplicatedSpans(dedupCorpus(s, dir), "text", "doc_id", minLen = 8),
      // ExactSubstr spans: every 8-word window occurring >= 2 times
      // anywhere marks its positions; islands merge into spans
      s"""WITH $corpusSql,
         |wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |wins AS (SELECT doc_id, unnest(range(1, greatest(len(w) - 6, 1))) AS pos, w
         |         FROM wt),
         |hh AS (SELECT doc_id, pos, CAST('0x' || substr(md5(
         |          array_to_string(w[pos:pos+7], ' ')), 1, 15) AS BIGINT) AS h
         |       FROM wins),
         |dup AS (SELECT h FROM (SELECT h, count(*) AS c FROM hh GROUP BY h)
         |        WHERE c >= 2),
         |cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS wp
         |        FROM hh JOIN dup USING (h)),
         |isl AS (SELECT doc_id, wp,
         |          wp - row_number() OVER (PARTITION BY doc_id ORDER BY wp) AS grp
         |        FROM cov)
         |SELECT doc_id, min(wp) AS span_start, max(wp) + 1 AS span_end,
         |       count(*) AS span_words
         |FROM isl GROUP BY doc_id, grp""".stripMargin),

    Query("dedup_substring_keep", (s, dir) =>
      Dedup.duplicatedSpansKeepFirst(dedupCorpus(s, dir), "text", "doc_id",
        minLen = 8),
      // keep-first ExactSubstr: only non-first occurrences of a
      // duplicated 8-word window mark positions
      s"""WITH $corpusSql,
         |wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |wins AS (SELECT doc_id, unnest(range(1, greatest(len(w) - 6, 1))) AS pos, w
         |         FROM wt),
         |hh AS (SELECT doc_id, pos, CAST('0x' || substr(md5(
         |          array_to_string(w[pos:pos+7], ' ')), 1, 15) AS BIGINT) AS h
         |       FROM wins),
         |marked AS (SELECT doc_id, pos FROM (
         |  SELECT doc_id, pos,
         |         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         |         count(*) OVER (PARTITION BY h) AS c
         |  FROM hh) WHERE c >= 2 AND rn > 1),
         |flg AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER
         |          (PARTITION BY doc_id ORDER BY pos) > 8 THEN 1 ELSE 0 END AS f
         |        FROM marked),
         |isl AS (SELECT doc_id, pos, sum(f) OVER
         |          (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
         |        FROM flg)
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end,
         |       max(pos) + 8 - min(pos) AS span_words
         |FROM isl GROUP BY doc_id, grp""".stripMargin),

    Query("dedup_canonical", (s, dir) => {
      val (_, pairs) = Dedup.canonicalNearDup(dedupCorpus(s, dir), "text", "doc_id")(
        canon => Dedup.ngramJaccardPairs(canon, "text", "doc_id",
          n = 3, threshold = 0.6, maxDf = 20, maxDfFrac = 0.005))
      pairs.select(col("id_a"), col("id_b"), round(col("jaccard"), 5).as("jaccard"))
    },
      // exact-first composition: near-dup runs over one canonical doc
      // per distinct text (min doc_id), not the raw corpus
      s"""WITH $corpusSql,
         |canon AS (SELECT min(doc_id) AS doc_id, min(text) AS text
         |          FROM corpus GROUP BY md5(text)),
         |wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM canon),
         |shl AS (SELECT doc_id, list_distinct(list_transform(
         |          list_transform(range(1, greatest(len(w)-1, 1)),
         |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
         |          s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS hs FROM wt),
         |sh AS (SELECT doc_id, unnest(hs) AS sh FROM shl),
         |rare AS (SELECT sh FROM (SELECT sh, count(*) AS c FROM sh GROUP BY sh)
         |         WHERE c <= greatest(20, ceil((SELECT count(*) FROM canon) * 0.005))),
         |f AS (SELECT doc_id, sh.sh FROM sh JOIN rare USING (sh)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM f a JOIN f b USING (sh) WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(i * 1.0 / (na + nb - i), 5) AS jaccard FROM (
         |  SELECT c.id_a, c.id_b, len(list_intersect(a.hs, b.hs)) AS i,
         |         len(a.hs) AS na, len(b.hs) AS nb
         |  FROM cand c JOIN shl a ON a.doc_id = c.id_a
         |              JOIN shl b ON b.doc_id = c.id_b)
         |WHERE i * 1.0 / (na + nb - i) >= 0.6""".stripMargin),

    Query("dedup_embedding", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val vd = col("embedding").cast("array<double>")
      val perturbed = emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 10000).as("vec_id"),
          concat(array(element_at(vd, 1) + 0.1), slice(vd, 2, 63)).as("embedding"),
          col("label"))
      val corpus = emb.select(col("vec_id"), vd.as("embedding"), col("label"))
        .unionByName(perturbed)
      // block on the LSH bucket (16 buckets from 4 md5-derived
      // hyperplanes), NOT a low-cardinality attribute: the self-join
      // stays per-bucket at any corpus size, and more planes shrink
      // buckets as the corpus grows
      Dedup.embeddingPairs(corpus, "embedding", "vec_id",
          AnnLsh.bucketCol(col("embedding"), numPlanes = 4, dim = 64), 0.99)
        .select(col("id_a"), col("id_b"), round(col("cos"), 5).as("cos"))
    },
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, v, label FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000, list_concat([v[1] + 0.1], v[2:len(v)]), label
        |  FROM base WHERE vec_id % 10 = 0),
        |planes AS (
        |  SELECT h, list_transform(range(64), d ->
        |    (CAST('0x' || substr(md5(h || '_' || d), 1, 15) AS BIGINT) % 1000) / 1000.0 - 0.5) AS p
        |  FROM range(4) t(h)),
        |buckets AS (
        |  SELECT vec_id,
        |    sum(CASE WHEN list_dot_product(v, p) > 0 THEN (1::BIGINT << h) ELSE 0 END) AS bucket
        |  FROM corpus, planes GROUP BY vec_id),
        |nrm AS (SELECT c.vec_id, buckets.bucket,
        |          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
        |        FROM corpus c JOIN buckets USING (vec_id)),
        |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |            least(greatest(list_dot_product(a.nv, b.nv), -1.0), 1.0) AS cos
        |          FROM nrm a JOIN nrm b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cos, 5) AS cos FROM pairs WHERE cos >= 0.99""".stripMargin),

    Query("dedup_embedding_forest", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val vd = col("embedding").cast("array<double>")
      val perturbed = emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 10000).as("vec_id"),
          concat(array(element_at(vd, 1) + 0.1), slice(vd, 2, 63)).as("embedding"),
          col("label"))
      val corpus = emb.select(col("vec_id"), vd.as("embedding"), col("label"))
        .unionByName(perturbed)
      // forest blocking closes the single bucket's blind spot: a true
      // near-dup pair straddling one hyperplane still collides in
      // another of the 4 tables (pairs dedup across tables before
      // cosine verification)
      Dedup.embeddingPairsForest(corpus, "embedding", "vec_id",
          numTables = 4, bitsPerTable = 4, dim = 64, tau = 0.99)
        .select(col("id_a"), col("id_b"), round(col("cos"), 5).as("cos"))
    },
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, v, label FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000, list_concat([v[1] + 0.1], v[2:len(v)]), label
        |  FROM base WHERE vec_id % 10 = 0),
        |planes AS (
        |  SELECT h, h // 4 AS tbl, h % 4 AS bit, list_transform(range(64), d ->
        |    (CAST('0x' || substr(md5(h || '_' || d), 1, 15) AS BIGINT) % 1000) / 1000.0 - 0.5) AS p
        |  FROM range(16) t(h)),
        |keys AS (
        |  SELECT vec_id, tbl,
        |    CAST(sum(CASE WHEN list_dot_product(v, p) > 0 THEN (1 << bit) ELSE 0 END) AS BIGINT) AS key
        |  FROM corpus, planes GROUP BY vec_id, tbl),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |         FROM keys a JOIN keys b
        |           ON a.tbl = b.tbl AND a.key = b.key AND a.vec_id < b.vec_id),
        |nrm AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
        |        FROM corpus),
        |pairs AS (SELECT c.id_a, c.id_b,
        |            least(greatest(list_dot_product(a.nv, b.nv), -1.0), 1.0) AS cos
        |          FROM cand c JOIN nrm a ON a.vec_id = c.id_a
        |                      JOIN nrm b ON b.vec_id = c.id_b)
        |SELECT id_a, id_b, round(cos, 5) AS cos FROM pairs WHERE cos >= 0.99""".stripMargin),

    Query("dedup_minhash_sweep", (s, dir) => {
      // the band-configuration tuning sweep a pipeline runs before
      // committing to a MinHash config: precision/recall/F1 of three
      // (numHashes, bands) points against the exact-Jaccard truth —
      // dedup_eval at one config, swept
      val corpus = dedupCorpus(s, dir)
      // the three arms AND the truth chain share ONE shingle-set
      // frame (r16: the truth arm previously built its own — a fourth
      // split+md5 corpus pass for an identical frame), and the arms
      // share ONE 16-hash signature frame (shorter signatures are
      // prefix slices — minhashPairsFromSigs)
      val sets = Dedup.shingleSets(corpus, "text", "doc_id", 3)
        .localCheckpoint()
      // localCheckpoint the shared truth frame (the pretrainV3Stages
      // cut rule): three sweep arms each join against it, and
      // ReuseExchange dedupes only identical exchanges — as a plain
      // plan the expensive exact-ngram pair chain re-derived per arm.
      // EAGER cut inside the timed builder, unlike the deferred
      // construction-time persist ADVICE r11 rejected; same pairs.
      val truth = Dedup.ngramJaccardPairsFromSets(sets,
          threshold = 0.6, maxDf = 20, maxDfFrac = 0.005)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      val (as16, bs16) = Dedup.minhashConsts(16)
      val sigs = sets.filter(size(col("shs")) > 0)
        .select(col("sid").as("doc_id"),
          graft.functions.SketchExprs.minhashSig(
            col("shs"), as16, bs16, Dedup.MINHASH_M).as("sig"))
        .localCheckpoint()
      // all three arms in ONE fused plan (r19, guide §2.4): one
      // arm-tagged band self-join, each distinct candidate pair
      // verified once, one join+agg for every arm's tp/fp/fn — same
      // integers, same guarded ratio expressions as the per-arm
      // pairQuality reduce (DedupSpec pins equality); was 3 arms ×
      // ~8 tiny exchanges of pure per-stage overhead at sf0.1
      Dedup.minhashSweepQuality(sets, sigs, "doc_id",
          Seq((16, 4), (16, 8), (8, 4)), threshold = 0.5, truth)
        .select(col("num_hashes"), col("bands"),
          col("tp"), col("fp"), col("fn"),
          round(col("precision"), 5).as("precision"),
          round(col("recall"), 5).as("recall"),
          round(col("f1"), 5).as("f1"))
    },
      // shared shingle/hash-set CTEs, one parameterized pair chain
      // per configuration, the dedup_eval ngram chain as the shared
      // truth, one metric row per config
      s"""WITH $corpusSql,
         |wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |shl AS (SELECT doc_id, list_distinct(list_transform(
         |          range(1, greatest(len(w)-1, 1)),
         |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shs FROM wt),
         |hsh AS (SELECT doc_id, list_distinct(list_transform(shs,
         |          s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS hs FROM shl),
         |${mhPairChainParam("c1", 16, 4)},
         |${mhPairChainParam("c2", 16, 8)},
         |${mhPairChainParam("c3", 8, 4)},
         |ngsh AS (SELECT doc_id, unnest(hs) AS sh FROM hsh),
         |ngrare AS (SELECT sh FROM (SELECT sh, count(*) AS c FROM ngsh GROUP BY sh)
         |           WHERE c <= greatest(20, ceil((SELECT count(*) FROM corpus) * 0.005))),
         |ngf AS (SELECT doc_id, ngsh.sh FROM ngsh JOIN ngrare USING (sh)),
         |ngcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |           FROM ngf a JOIN ngf b USING (sh) WHERE a.doc_id < b.doc_id),
         |ng_pairs AS (SELECT id_a, id_b FROM (
         |    SELECT c.id_a, c.id_b, len(list_intersect(a.hs, b.hs)) AS i,
         |           len(a.hs) AS na, len(b.hs) AS nb
         |    FROM ngcand c JOIN hsh a ON a.doc_id = c.id_a
         |                  JOIN hsh b ON b.doc_id = c.id_b)
         |  WHERE i * 1.0 / (na + nb - i) >= 0.6),
         |tn AS (SELECT DISTINCT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b
         |       FROM ng_pairs),
         |${sweepMetrics("c1")},
         |${sweepMetrics("c2")},
         |${sweepMetrics("c3")}
         |SELECT 16 AS num_hashes, 4 AS bands, tp, fp, fn,
         |  round(p, 5) AS precision, round(r, 5) AS recall,
         |  round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END, 5) AS f1
         |FROM c1m
         |UNION ALL
         |SELECT 16, 8, tp, fp, fn, round(p, 5), round(r, 5),
         |  round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END, 5)
         |FROM c2m
         |UNION ALL
         |SELECT 8, 4, tp, fp, fn, round(p, 5), round(r, 5),
         |  round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END, 5)
         |FROM c3m""".stripMargin),

    Query("doc_fingerprint", (s, dir) => {
      TextAnalysis.fingerprint(Tables.documents(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("fp_min"), col("n_fp"))
    },
      """WITH wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |h AS (SELECT doc_id, list_transform(range(1, greatest(len(w)-1, 1)),
        |        i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT)) AS hs
        |      FROM wt)
        |SELECT doc_id,
        |  CASE WHEN len(hs) = 0 THEN NULL ELSE list_min(hs) END AS fp_min,
        |  CASE WHEN len(hs) = 0 THEN 0 WHEN len(hs) < 8 THEN 1
        |       ELSE len(list_distinct(list_transform(range(1, len(hs)-6),
        |              i -> list_min(hs[i:i+7])))) END AS n_fp
        |FROM h""".stripMargin),

    Query("dedup_semantic", (s, dir) => {
      // end-to-end semantic dedup over the same perturbed corpus the
      // forest near-dup query uses: pairs -> components -> keeper
      val emb = Tables.embeddings(s, dir)
      val vd = col("embedding").cast("array<double>")
      val perturbed = emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 10000).as("vec_id"),
          concat(array(element_at(vd, 1) + 0.1), slice(vd, 2, 63)).as("embedding"))
      val corpus = emb.select(col("vec_id"), vd.as("embedding"))
        .unionByName(perturbed)
      Dedup.semanticDedup(corpus, "embedding", "vec_id",
        numTables = 4, bitsPerTable = 4, dim = 64, tau = 0.99)
    },
      // forest near-dup pairs (same chain as dedup_embedding_forest,
      // labels dropped) -> recursive-CTE components -> keeper = the
      // component's min id; singletons keep themselves
      """WITH RECURSIVE base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000, list_concat([v[1] + 0.1], v[2:len(v)])
        |  FROM base WHERE vec_id % 10 = 0),
        |planes AS (
        |  SELECT h, h // 4 AS tbl, h % 4 AS bit, list_transform(range(64), d ->
        |    (CAST('0x' || substr(md5(h || '_' || d), 1, 15) AS BIGINT) % 1000) / 1000.0 - 0.5) AS p
        |  FROM range(16) t(h)),
        |keys AS (
        |  SELECT vec_id, tbl,
        |    CAST(sum(CASE WHEN list_dot_product(v, p) > 0 THEN (1 << bit) ELSE 0 END) AS BIGINT) AS key
        |  FROM corpus, planes GROUP BY vec_id, tbl),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |         FROM keys a JOIN keys b
        |           ON a.tbl = b.tbl AND a.key = b.key AND a.vec_id < b.vec_id),
        |nrm AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
        |        FROM corpus),
        |prs AS (SELECT c.id_a, c.id_b
        |        FROM cand c JOIN nrm a ON a.vec_id = c.id_a
        |                    JOIN nrm b ON b.vec_id = c.id_b
        |        WHERE least(greatest(list_dot_product(a.nv, b.nv), -1.0), 1.0) >= 0.99),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
        |          UNION ALL SELECT id_b AS src, id_a AS dst FROM prs),
        |cnodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (SELECT id, id AS r FROM cnodes
        |          UNION
        |          SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
        |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT c.vec_id, CAST(coalesce(l.cluster_id, c.vec_id) AS BIGINT) AS cluster_id,
        |       c.vec_id = coalesce(l.cluster_id, c.vec_id) AS keep
        |FROM corpus c LEFT JOIN lab l ON l.id = c.vec_id""".stripMargin),

    Query("dedup_eval", (s, dir) => {
      // the dedup deploy gate: how well does the MinHash sketch at
      // tau 0.5 recover the exact-Jaccard >= 0.6 pair set? One row of
      // tp/fp/fn + precision/recall/F1 (integer counts, fixed-order
      // divisions)
      // BOTH chains read the same 3-shingle sets: one shingle frame,
      // localCheckpointed, instead of each chain paying its own
      // split+md5 corpus pass (the dedup_minhash_sweep sharing rule;
      // minhashPairsFromSigs == minhashPairs and
      // ngramJaccardPairsFromSets == ngramJaccardPairs by contract)
      val corpus = dedupCorpus(s, dir)
      val sets = Dedup.shingleSets(corpus, "text", "doc_id", 3)
        .localCheckpoint()
      val (as16, bs16) = Dedup.minhashConsts(16)
      val sigs = sets.filter(size(col("shs")) > 0)
        .select(col("sid").as("doc_id"),
          graft.functions.SketchExprs.minhashSig(
            col("shs"), as16, bs16, Dedup.MINHASH_M).as("sig"))
      val predicted = Dedup.minhashPairsFromSigs(sets, sigs, "doc_id",
          bands = 4, rowsPerBand = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val truth = Dedup.ngramJaccardPairsFromSets(sets,
          threshold = 0.6, maxDf = 20, maxDfFrac = 0.005)
        .select(col("id_a"), col("id_b"))
      Eval.pairQuality(predicted, truth)
        .select(col("tp"), col("fp"), col("fn"),
          round(col("precision"), 5).as("precision"),
          round(col("recall"), 5).as("recall"),
          round(col("f1"), 5).as("f1"))
    },
      // mh_pairs (sketch, tau 0.5) vs the ngram chain (exact Jaccard
      // >= 0.6) over the SAME corpus and the SAME hashed shingle sets
      // (hsh) — pairs normalized (min, max), counts integer, ratios
      // in fixed order
      s"""WITH $minhashPairsCtes,
         |ngsh AS (SELECT doc_id, unnest(hs) AS sh FROM hsh),
         |ngrare AS (SELECT sh FROM (SELECT sh, count(*) AS c FROM ngsh GROUP BY sh)
         |           WHERE c <= greatest(20, ceil((SELECT count(*) FROM corpus) * 0.005))),
         |ngf AS (SELECT doc_id, ngsh.sh FROM ngsh JOIN ngrare USING (sh)),
         |ngcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |           FROM ngf a JOIN ngf b USING (sh) WHERE a.doc_id < b.doc_id),
         |ng_pairs AS (SELECT id_a, id_b FROM (
         |    SELECT c.id_a, c.id_b, len(list_intersect(a.hs, b.hs)) AS i,
         |           len(a.hs) AS na, len(b.hs) AS nb
         |    FROM ngcand c JOIN hsh a ON a.doc_id = c.id_a
         |                  JOIN hsh b ON b.doc_id = c.id_b)
         |  WHERE i * 1.0 / (na + nb - i) >= 0.6),
         |pn AS (SELECT DISTINCT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b
         |       FROM mh_pairs),
         |tn AS (SELECT DISTINCT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b
         |       FROM ng_pairs),
         |j AS (SELECT p.id_a IS NOT NULL AS inp, t.id_a IS NOT NULL AS intr
         |      FROM pn p FULL OUTER JOIN tn t
         |        ON p.id_a = t.id_a AND p.id_b = t.id_b),
         |c AS (SELECT
         |  CAST(sum(CASE WHEN inp AND intr THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN inp AND NOT intr THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN NOT inp AND intr THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM j),
         |m AS (SELECT tp, fp, fn,
         |  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END AS p,
         |  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END AS r
         |  FROM c)
         |SELECT tp, fp, fn, round(p, 5) AS precision, round(r, 5) AS recall,
         |  round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END, 5) AS f1
         |FROM m""".stripMargin),

    Query("dedup_containment", (s, dir) => {
      // directional near-dup: 12-word excerpts planted as their own
      // docs have Jaccard ~0.04 against their source (threshold-J
      // dedup keeps both) but containment 1.0 — the subset-duplicate
      // case the dedup family needs a directional member for
      val docs = Tables.documents(s, dir)
      val w = split(col("text"), " ")
      val excerpts = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat_ws(" ", slice(w, lit(3), lit(12))).as("text"))
      val corpus = docs.select(col("doc_id"), col("text")).unionByName(excerpts)
      Dedup.containmentPairs(corpus, "text", "doc_id", n = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 5).as("containment"),
          round(col("jaccard"), 5).as("jaccard"))
    },
      // the dedup_ngram CTE chain over the excerpt-augmented corpus;
      // the final statistic divides by the SMALLER set (containment),
      // jaccard carried alongside
      """WITH corpus2 AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, array_to_string(w[3:14], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE doc_id % 11 = 0),
        |wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus2),
        |shl AS (SELECT doc_id, list_distinct(list_transform(
        |          list_transform(range(1, greatest(len(w)-1, 1)),
        |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
        |          s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS hs FROM wt),
        |sh AS (SELECT doc_id, unnest(hs) AS sh FROM shl),
        |rare AS (SELECT sh FROM (SELECT sh, count(*) AS c FROM sh GROUP BY sh)
        |         WHERE c <= greatest(100, ceil((SELECT count(*) FROM corpus2) * 0.005))),
        |f AS (SELECT doc_id, sh.sh FROM sh JOIN rare USING (sh)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM f a JOIN f b USING (sh) WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(i * 1.0 / least(na, nb), 5) AS containment,
        |       round(i * 1.0 / (na + nb - i), 5) AS jaccard FROM (
        |  SELECT c.id_a, c.id_b, len(list_intersect(a.hs, b.hs)) AS i,
        |         len(a.hs) AS na, len(b.hs) AS nb
        |  FROM cand c JOIN shl a ON a.doc_id = c.id_a
        |              JOIN shl b ON b.doc_id = c.id_b)
        |WHERE i * 1.0 / least(na, nb) >= 0.8""".stripMargin),

    Query("dedup_paragraph", (s, dir) => {
      // keep-first corpus-wide passage dedup: the SAME chunk grid as
      // remove_boilerplate, the complementary keep rule (one global
      // copy survives instead of zero)
      Dedup.paragraphDedup(Tables.documents(s, dir), "text", "doc_id",
          chunkWords = 8)
        .select(col("doc_id"), col("n_chunks"), col("n_dropped"),
          md5(col("clean_text")).as("clean_md5"))
    },
      // same grid CTEs as remove_boilerplate; the keep rule is
      // row_number() = 1 over (chunk ORDER BY doc_id, pos) — the
      // globally earliest occurrence — instead of chunk_df <= maxDf
      """WITH w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
        |b AS (SELECT doc_id, unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS pos, w
        |      FROM w),
        |c AS (SELECT doc_id, pos,
        |        array_to_string(w[(pos*8+1)::INT:(pos*8+8)::INT], ' ') AS chunk
        |      FROM b),
        |f AS (SELECT doc_id, pos, chunk,
        |        row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |      FROM c)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
        |    ORDER BY pos), '')) AS clean_md5
        |FROM f GROUP BY doc_id""".stripMargin),

    Query("dedup_keep_best", (s, dir) => {
      // keep-BEST near-dup resolution: minhash pair-graph clusters,
      // keeper = most tokens (ties to min id). The corpus plants
      // truncated copies (keeper = the original) AND extended copies
      // (keeper = the HIGH-id longer version — the case any
      // keep-first/min-id rule gets wrong by construction)
      val corpus = kbCorpus(s, dir)
      val pairs = Dedup.minhashPairs(corpus, "text", "doc_id",
        numHashes = 16, bands = 4, shingleN = 3, threshold = 0.5)
      val scores = corpus.select(col("doc_id"),
        size(filter(split(col("text"), " "), t => t =!= ""))
          .cast("long").as("n_tokens"))
      Dedup.dedupKeepBest(corpus, "doc_id", pairs, scores, "n_tokens")
    },
      // the split_safe closure over a corpus with truncated AND
      // extended variants; keeper = max token count then min id —
      // integer scores, so max-equality is exact in both engines
      s"""WITH RECURSIVE $kbSql,
         |${minhashPairChain("kb")},
         |edges AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM mh_pairs),
         |cnodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (SELECT id, id AS r FROM cnodes
         |          UNION
         |          SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |scored AS (SELECT k.doc_id,
         |             CAST(coalesce(l.cluster_id, k.doc_id) AS BIGINT) AS cluster_id,
         |             len(list_filter(string_split(k.text, ' '), x -> x <> '')) AS n_tokens
         |           FROM kb k LEFT JOIN lab l ON l.id = k.doc_id),
         |mx AS (SELECT cluster_id, max(n_tokens) AS m FROM scored GROUP BY 1),
         |win AS (SELECT s.cluster_id, min(s.doc_id) AS wid
         |        FROM scored s JOIN mx ON mx.cluster_id = s.cluster_id AND s.n_tokens = mx.m
         |        GROUP BY 1)
         |SELECT s.doc_id, s.cluster_id, (s.doc_id = w.wid) AS keep, s.n_tokens
         |FROM scored s JOIN win w ON w.cluster_id = s.cluster_id""".stripMargin),

    Query("dedup_soft", (s, dir) => {
      // soft dedup: keep every doc, weight = 1/cluster_size — the
      // SlimPajama-style alternative to dropping (the crawl
      // frequency IS sometimes the quality signal); planted copies
      // form clusters whose members split one doc's worth of weight
      val corpus = dedupCorpus(s, dir)
      val pairs = Dedup.minhashPairs(corpus, "text", "doc_id",
        numHashes = 16, bands = 4, shingleN = 3, threshold = 0.5)
      Dedup.dedupSoft(corpus, "doc_id", pairs)
        .select(col("doc_id"), col("cluster_id"), col("dup_count"),
          round(col("weight"), 6).as("weight"))
    },
      // the dedup_cluster closure + one cluster-size count; weight
      // divides exact integers, rounded 6dp on both sides
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM mh_pairs),
         |cnodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (SELECT id, id AS r FROM cnodes
         |          UNION
         |          SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |labeled AS (SELECT c.doc_id,
         |              CAST(coalesce(l.cluster_id, c.doc_id) AS BIGINT) AS cluster_id
         |            FROM corpus c LEFT JOIN lab l ON l.id = c.doc_id),
         |szs AS (SELECT cluster_id, count(*) AS dup_count FROM labeled GROUP BY 1)
         |SELECT x.doc_id, x.cluster_id, s.dup_count,
         |  round(1.0e0 / s.dup_count, 6) AS weight
         |FROM labeled x JOIN szs s USING (cluster_id)""".stripMargin),

    Query("entity_resolution", (s, dir) => {
      // catalog reconciliation: a "re-crawled" parts catalog whose
      // names carry deterministic one-char deletions resolves back to
      // the reference catalog — fuzzy work runs on DISTINCT names
      // (vocabulary-sized), prefix/suffix blocks guarantee single-edit
      // recall, levenshtein verifies, min-(dist,name) struct picks
      val parts = Tables.table(s, dir, "part")
        .select(col("p_partkey"), col("p_name"))
      val pos = (col("p_partkey") % length(col("p_name"))) + 1
      val dirty = parts.select(
        (col("p_partkey") + 100000).as("id"),
        when(col("p_partkey") % 3 === 0,
          concat(col("p_name").substr(lit(1), pos - 1),
            col("p_name").substr(pos + 1, lit(1000))))
          .otherwise(col("p_name")).as("name"))
      graft.operators.Entity.resolve(parts, "p_name", dirty, "id", "name",
          maxDist = 2, graft.operators.Entity.prefixSuffixBlockers(3))
        .select(col("entity_id"), col("name"), col("matched_name"),
          col("dist").cast("long").as("dist"))
    },
      // identical typo arithmetic, identical prefix/suffix blocks,
      // levenshtein is the classic unit-cost DP in both engines, and
      // the best-match pick orders by the same (dist, name) total order
      """WITH parts AS (SELECT p_partkey, p_name FROM part),
        |dirty AS (SELECT p_partkey + 100000 AS id,
        |    CASE WHEN p_partkey % 3 = 0 THEN
        |      substring(p_name, 1, CAST((p_partkey % length(p_name)) + 1 AS INT) - 1) ||
        |      substring(p_name, CAST((p_partkey % length(p_name)) + 1 AS INT) + 1, 1000)
        |    ELSE p_name END AS name
        |  FROM parts),
        |ln AS (SELECT DISTINCT p_name AS name_l FROM parts WHERE p_name IS NOT NULL),
        |rn AS (SELECT DISTINCT name AS name_r FROM dirty WHERE name IS NOT NULL),
        |cand AS (SELECT DISTINCT name_l, name_r FROM (
        |    SELECT l.name_l, r.name_r FROM ln l JOIN rn r
        |      ON substring(l.name_l, 1, 3) = substring(r.name_r, 1, 3)
        |    UNION ALL
        |    SELECT l.name_l, r.name_r FROM ln l JOIN rn r
        |      ON substring(l.name_l, length(l.name_l) - 2, 3) =
        |         substring(r.name_r, length(r.name_r) - 2, 3))),
        |m AS (SELECT name_l, name_r, levenshtein(name_l, name_r) AS dist FROM cand),
        |mf AS (SELECT * FROM m WHERE dist <= 2),
        |best AS (SELECT name_r, name_l AS matched_name, dist FROM (
        |    SELECT *, row_number() OVER (PARTITION BY name_r ORDER BY dist, name_l) AS rnk
        |    FROM mf) WHERE rnk = 1)
        |SELECT d.id AS entity_id, d.name, b.matched_name, CAST(b.dist AS BIGINT) AS dist
        |FROM dirty d LEFT JOIN best b ON b.name_r = d.name""".stripMargin)
  )

  /** Parameterized MinHash pair chain over shared `shl`/`hsh` CTEs
    * (distinct shingle lists / hash sets from the corpus): signature
    * with `numHashes` permutations, `bands` bands of `numHashes /
    * bands` rows, verified at Jaccard ≥ 0.5 — the generalization of
    * [[minhashPairChain]] the dedup_minhash_sweep oracle instantiates
    * once per configuration. Emits `{p}pairs(id_a, id_b)`. */
  private def mhPairChainParam(p: String, numHashes: Int, bands: Int): String = {
    val rows = numHashes / bands
    val (as, bs) = Dedup.minhashConsts(numHashes)
    val aLit = as.mkString("[", ", ", "]")
    val bLit = bs.mkString("[", ", ", "]")
    s"""${p}sig AS (SELECT doc_id, list_transform(range($numHashes), j ->
       |          list_min(list_transform(
       |            list_transform(shs, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 2147483647),
       |            h -> ($aLit[j+1] * h + $bLit[j+1]) % 2147483647))) AS sig
       |        FROM shl WHERE len(shs) > 0),
       |${p}band AS (SELECT doc_id, b.b AS band,
       |              array_to_string(sig[($rows*b.b+1):($rows*b.b+$rows)], ',') AS key
       |            FROM ${p}sig, range($bands) b(b)),
       |${p}cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM ${p}band a JOIN ${p}band b USING (band, key)
       |         WHERE a.doc_id < b.doc_id),
       |${p}pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT c.id_a, c.id_b, len(list_intersect(a.hs, b.hs)) AS i,
       |           len(a.hs) AS na, len(b.hs) AS nb
       |    FROM ${p}cand c JOIN hsh a ON a.doc_id = c.id_a
       |                JOIN hsh b ON b.doc_id = c.id_b)
       |  WHERE i * 1.0 / (na + nb - i) >= 0.5)""".stripMargin
  }

  /** Per-config confusion + metric CTEs against the shared `tn` truth
    * frame; emits `{p}m(tp, fp, fn, p, r)`. */
  private def sweepMetrics(p: String): String =
    s"""${p}pn AS (SELECT DISTINCT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b
       |       FROM ${p}pairs),
       |${p}j AS (SELECT p.id_a IS NOT NULL AS inp, t.id_a IS NOT NULL AS intr
       |      FROM ${p}pn p FULL OUTER JOIN tn t
       |        ON p.id_a = t.id_a AND p.id_b = t.id_b),
       |${p}c AS (SELECT
       |  CAST(sum(CASE WHEN inp AND intr THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |  CAST(sum(CASE WHEN inp AND NOT intr THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |  CAST(sum(CASE WHEN NOT inp AND intr THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM ${p}j),
       |${p}m AS (SELECT tp, fp, fn,
       |  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END AS p,
       |  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END AS r
       |  FROM ${p}c)""".stripMargin
}
