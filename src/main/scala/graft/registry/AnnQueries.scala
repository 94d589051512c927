package graft
package registry

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Quantization
import graft.operators.{AnnIvf, AnnLsh, AnnPq, Eval, Knn}
import Shared._

/** Approximate nearest-neighbour queries: quantization, PQ, IVF, IVFPQ and LSH/forest indexes. */
object AnnQueries {

  val queries: Seq[Query] = Seq(
    Query("quantize", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val err = Quantization.reconstructionError(col("embedding"), 8)
      emb.select(col("vec_id"),
        round(array_max(err), 7).as("max_err"),
        round(aggregate(err, lit(0.0), (a, x) => a + x) / size(col("embedding")), 7).as("mean_err"))
    },
      """SELECT vec_id,
        |  round(list_max(err), 7) AS max_err,
        |  round(list_sum(err) / len(err), 7) AS mean_err
        |FROM (
        |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> abs(x - (round((least(greatest(x, -1.0), 1.0) + 1.0) / 2.0 * 255.0) / 255.0 * 2.0 - 1.0))) AS err
        |  FROM embeddings)""".stripMargin),

    Query("quantize_sweep", (s, dir) => {
      // the pick-your-width table: corpus mean/max reconstruction
      // error at every lossy width the reference supports
      Quantization.errorSweep(Tables.embeddings(s, dir), "embedding",
          widths = Seq(4, 8, 16))
        .select(col("bits"), col("n_vectors"),
          round(col("mean_abs_err"), 9).as("mean_abs_err"),
          round(col("max_err"), 7).as("max_err"))
    },
      // per-vector error sums fold in list order, quantize to the
      // 1e-12 integer grid, corpus mean divides the exact integers
      (Seq(4, 8, 16).map { bits =>
        val l = (1 << bits) - 1
        s"""SELECT $bits AS bits, count(*) AS n_vectors,
           |  round((CAST(sum(qs) AS DOUBLE) / 1000000000000.0) / sum(d), 9) AS mean_abs_err,
           |  round(max(mx), 7) AS max_err
           |FROM (
           |  SELECT CAST(round(list_sum(err) * 1000000000000.0) AS BIGINT) AS qs,
           |         len(err) AS d, list_max(err) AS mx
           |  FROM (SELECT list_transform(CAST(embedding AS DOUBLE[]),
           |          x -> abs(x - (round((least(greatest(x, -1.0), 1.0) + 1.0) / 2.0 * $l) / $l * 2.0 - 1.0))) AS err
           |        FROM embeddings))""".stripMargin
      }.mkString("\nUNION ALL\n"))),

    Query("knn_quantized", (s, dir) => {
      // the reference's storage contract: vectors live QUANTIZED (8-bit
      // codes, 4x narrower than floats on the scan) and search runs on
      // dequantized values (quantization.go, collection.go:569) — top-k
      // over the lossy store, full-precision query
      val emb = Tables.embeddings(s, dir)
      val stored = emb.select(col("vec_id"), col("label"),
        Quantization.quantize(col("embedding"), 8).as("codes"))
      val deq = stored.withColumn("vec", Quantization.dequantize(col("codes"), 8))
      Knn.knn(deq, "vec", queryVec(s, dir), 10, Knn.Cosine, "vec_id")
        .select(col("vec_id"), col("label"), round(col("dist"), 5).as("dist"))
    },
      s"""WITH b AS (SELECT vec_id, label,
         |  list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> round((least(greatest(x, -1.0), 1.0) + 1.0) / 2.0 * 255.0) / 255.0 * 2.0 - 1.0) AS v
         |  FROM embeddings),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, round(d, 5) AS dist FROM (
         |  SELECT vec_id, label, ${angSql("b.v", "q.qvec")} AS d FROM b, q)
         |ORDER BY d, vec_id LIMIT 10""".stripMargin),

    Query("knn_pq", (s, dir) => {
      // product quantization: 64 floats → 8 codes of 4 bits (the
      // 256-byte row becomes 4 packed bytes); the scan reads ONLY the
      // code column and distance is 8 table lookups per row (ADC).
      // Codebook = deterministic md5-ordered data sample, so the
      // oracle rebuilds it exactly
      val emb = Tables.embeddings(s, dir)
      val model = Fixtures.of(s, dir).pq
      val coded = AnnPq.encode(emb, "embedding", model)
      AnnPq.knnAdc(coded, "pq_code", queryVec(s, dir), 10, model, "vec_id")
        .select(col("vec_id"), col("label"), round(col("dist_adc"), 5).as("dist_adc"))
    },
      s"""WITH $pqSql
         |SELECT e.vec_id, e.label, round(a.d, 5) AS dist_adc
         |FROM adc a JOIN emb e USING (vec_id)
         |ORDER BY a.d, e.vec_id LIMIT 10""".stripMargin),

    Query("knn_pq_rerank", (s, dir) => {
      // the production composition: ADC keeps 50 candidates off the
      // narrow code scan, exact cosine on just those rows picks the 10
      val emb = Tables.embeddings(s, dir)
      val model = Fixtures.of(s, dir).pq
      val coded = AnnPq.encode(emb, "embedding", model)
      AnnPq.knnRerank(coded, "embedding", "pq_code", queryVec(s, dir), 10, 50,
          model, Knn.Cosine, "vec_id")
        .select(col("vec_id"), col("label"), round(col("dist"), 5).as("dist"))
    },
      s"""WITH $pqSql,
         |cand AS (SELECT vec_id FROM adc ORDER BY d, vec_id LIMIT 50),
         |ex AS (SELECT e.vec_id, e.label, ${angSql("e.v", "q.qv")} AS d
         |       FROM emb e JOIN cand USING (vec_id), q)
         |SELECT vec_id, label, round(d, 5) AS dist FROM ex
         |ORDER BY d, vec_id LIMIT 10""".stripMargin),

    Query("ann_ivfpq", (s, dir) => {
      // both scale levers composed: the probe reads 2/8 of the cells
      // (partition pruning) and each row it reads is a 4-byte packed
      // code, not a 256-byte vector (ADC) — the billion-scale layout
      val emb = Tables.embeddings(s, dir)
      val centroids = AnnIvf.seedCentroids(emb, "embedding", "vec_id", 0L to 7L)
      AnnPq.knnIvfPq(s, Fixtures.of(s, dir).ivfPqIndex, queryVec(s, dir), 10,
          centroids, nprobe = 2, Knn.Cosine, Fixtures.of(s, dir).pq, "vec_id")
        .select(col("vec_id"), col("label"), round(col("dist_adc"), 5).as("dist_adc"))
    },
      // the ann_ivf oracle's cell machinery (seeded centroids,
      // argmin assignment, 2-cell probe) composed with the pq chain's
      // ADC distances — candidates restricted to probed cells
      s"""WITH $pqSql,
         |cent AS (SELECT vec_id AS cell, v AS c FROM emb WHERE vec_id < 8),
         |adist AS (SELECT e.vec_id, cent.cell, ${angSql("e.v", "cent.c")} AS cd
         |          FROM emb e, cent),
         |assigned AS (SELECT vec_id, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cd, cell) AS rn
         |    FROM adist) WHERE rn = 1),
         |probe AS (SELECT cell FROM cent, q ORDER BY ${angSql("cent.c", "q.qv")}, cell LIMIT 2)
         |SELECT e.vec_id, e.label, round(a.d, 5) AS dist_adc
         |FROM adc a JOIN assigned s ON s.vec_id = a.vec_id
         |           JOIN probe USING (cell)
         |           JOIN emb e ON e.vec_id = a.vec_id
         |ORDER BY a.d, e.vec_id LIMIT 10""".stripMargin),

    Query("ann_ivfpq_residual", (s, dir) => {
      // the true FAISS IVFADC: codes quantize the RESIDUAL to the
      // cell centroid, so the probe computes one lookup table per
      // probed cell — a union of nprobe single-cell pruned scans,
      // each still a 4-byte-code read with no vector column
      val emb = Tables.embeddings(s, dir)
      val centroids = AnnIvf.seedCentroids(emb, "embedding", "vec_id", 0L to 7L)
      AnnPq.knnIvfPqResidual(s, Fixtures.of(s, dir).ivfPqResidualIndex, queryVec(s, dir), 10,
          centroids, nprobe = 2, Knn.Cosine, Fixtures.of(s, dir).pqResidual, "vec_id")
        .select(col("vec_id"), col("label"), round(col("dist_adc"), 5).as("dist_adc"))
    }, {
      // the ann_ivfpq cell machinery with the pq chain rebuilt over
      // RESIDUALS: rv = v - centroid(cell); the codebook samples rv
      // rows by md5 total order (seed pqr0); the LUT is per probed
      // cell (qrv = qv - centroid); fold order pinned by ORDER BY j
      def sq(a: String, b: String) = s"(($a) - ($b)) * (($a) - ($b))"
      val qsub = sq("qrv[CAST(js.j*8+i+1 AS INT)]", "rcb.v[CAST(js.j*8+i+1 AS INT)]")
      val esub = sq("r.rv[CAST(js.j*8+i+1 AS INT)]", "rcb.v[CAST(js.j*8+i+1 AS INT)]")
      s"""WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS cell, v AS c FROM emb WHERE vec_id < 8),
         |q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
         |adist AS (SELECT e.vec_id, cent.cell, ${angSql("e.v", "cent.c")} AS cd
         |          FROM emb e, cent),
         |assigned AS (SELECT vec_id, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cd, cell) AS rn
         |    FROM adist) WHERE rn = 1),
         |res AS (SELECT e.vec_id, e.label, a.cell,
         |          list_transform(range(64),
         |            i -> e.v[CAST(i+1 AS INT)] - ct.c[CAST(i+1 AS INT)]) AS rv
         |        FROM emb e JOIN assigned a USING (vec_id)
         |                   JOIN cent ct ON ct.cell = a.cell),
         |rcb AS (SELECT cid, rv AS v FROM (
         |    SELECT rv, row_number() OVER (ORDER BY md5('pqr0_' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
         |    FROM res) WHERE cid < 16),
         |js AS (SELECT unnest(range(8)) AS j),
         |probe AS (SELECT cell FROM cent, q ORDER BY ${angSql("cent.c", "q.qv")}, cell LIMIT 2),
         |qres AS (SELECT p.cell,
         |           list_transform(range(64),
         |             i -> q.qv[CAST(i+1 AS INT)] - ct.c[CAST(i+1 AS INT)]) AS qrv
         |         FROM probe p JOIN cent ct ON ct.cell = p.cell, q),
         |lut AS (SELECT qres.cell, js.j, rcb.cid,
         |          list_sum(list_transform(range(8), i -> $qsub)) AS d
         |        FROM rcb, js, qres),
         |sub AS (SELECT r.vec_id, js.j, rcb.cid,
         |          list_sum(list_transform(range(8), i -> $esub)) AS d
         |        FROM res r JOIN probe USING (cell), js, rcb),
         |code AS (SELECT vec_id, j, cid FROM (
         |    SELECT vec_id, j, cid, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn
         |    FROM sub) WHERE rn = 1),
         |adc AS (SELECT c2.vec_id, list_sum(list(l.d ORDER BY c2.j)) AS d
         |        FROM code c2 JOIN res r ON r.vec_id = c2.vec_id
         |                     JOIN lut l ON l.j = c2.j AND l.cid = c2.cid AND l.cell = r.cell
         |        GROUP BY c2.vec_id)
         |SELECT r.vec_id, r.label, round(a.d, 5) AS dist_adc
         |FROM adc a JOIN res r USING (vec_id)
         |ORDER BY a.d, r.vec_id LIMIT 10""".stripMargin
    }),

    Query("ann_lsh", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      AnnLsh.knnForest(emb, "embedding", queryVec(s, dir), 10,
          numTables = 1, bitsPerTable = 4, dim = 64, Knn.Cosine, "vec_id")
        .select(col("vec_id"), col("label"), round(col("dist"), 5).as("dist"))
    },
      s"""WITH planes AS (
         |  SELECT h, list_transform(range(64), d ->
         |    (CAST('0x' || substr(md5(h || '_' || d), 1, 15) AS BIGINT) % 1000) / 1000.0 - 0.5) AS p
         |  FROM range(4) t(h)),
         |b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |buckets AS (
         |  SELECT vec_id,
         |    sum(CASE WHEN list_dot_product(v, p) > 0 THEN (1::BIGINT << h) ELSE 0 END) AS bucket
         |  FROM b, planes GROUP BY vec_id),
         |bb AS (SELECT b.vec_id, b.label, b.v, buckets.bucket FROM b JOIN buckets USING (vec_id)),
         |q AS (SELECT v AS qvec, bucket AS qbucket FROM bb WHERE vec_id = 0)
         |SELECT vec_id, label, round(d, 5) AS dist FROM (
         |  SELECT bb.vec_id, bb.label, ${angSql("bb.v", "q.qvec")} AS d
         |  FROM bb, q WHERE bb.bucket = q.qbucket)
         |ORDER BY d, vec_id LIMIT 10""".stripMargin),

    Query("ann_lsh_multitable", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // forest of 100 independent 8-plane tables: candidates are the
      // union of the query's 100 buckets (any-table agreement), exact
      // distance within — recall@10 >= 0.8 on worst-case uniform
      // embeddings where the single-table probe floors at 0.35
      // (AnnSpec pins the frontier)
      AnnLsh.knnForest(emb, "embedding", queryVec(s, dir), 10,
          numTables = 100, bitsPerTable = 8, dim = 64, Knn.Cosine, "vec_id")
        .select(col("vec_id"), col("label"), round(col("dist"), 5).as("dist"))
    },
      s"""WITH planes AS (
         |  SELECT h, h // 8 AS tbl, h % 8 AS bit,
         |    list_transform(range(64), d ->
         |      (CAST('0x' || substr(md5(h || '_' || d), 1, 15) AS BIGINT) % 1000) / 1000.0 - 0.5) AS p
         |  FROM range(800) t(h)),
         |b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |keys AS (
         |  SELECT vec_id, tbl,
         |    (tbl << 8) | CAST(sum(CASE WHEN list_dot_product(v, p) > 0
         |                              THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS key
         |  FROM b, planes GROUP BY vec_id, tbl),
         |q AS (SELECT tbl, key FROM keys WHERE vec_id = 0),
         |cand AS (SELECT DISTINCT k.vec_id FROM keys k JOIN q USING (tbl, key)),
         |qv AS (SELECT v AS qvec FROM b WHERE vec_id = 0)
         |SELECT vec_id, label, round(d, 5) AS dist FROM (
         |  SELECT b.vec_id, b.label, ${angSql("b.v", "qv.qvec")} AS d
         |  FROM b JOIN cand USING (vec_id), qv)
         |ORDER BY d, vec_id LIMIT 10""".stripMargin),

    Query("ann_forest_multiprobe", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // query-directed multiprobe (Lv et al. 2007): 50 tables probed
      // twice each — the exact bucket plus the lowest-|margin| bit
      // flip. Sweep-measured same frontier point as 100 single-probe
      // tables (recall@10 0.84 vs 0.86 at ~32% mass on worst-case
      // uniform embeddings) with HALF the persisted index (L longs
      // per row) and half the index-build hashing — the scan analogue
      // of the reference's boundary backtracking (lshtree.go:283-336)
      AnnLsh.knnForest(emb, "embedding", queryVec(s, dir), 10,
          numTables = 50, bitsPerTable = 8, dim = 64, Knn.Cosine, "vec_id",
          probes = 2)
        .select(col("vec_id"), col("label"), round(col("dist"), 5).as("dist"))
    },
      // 50 tables x 8 bits; per table probe the exact bucket AND the
      // bucket with the lowest-|margin| bit flipped (ties by bit — the
      // Scala side's stable sortBy breaks ties the same way)
      s"""WITH planes AS (
         |  SELECT h, h // 8 AS tbl, h % 8 AS bit,
         |    list_transform(range(64), d ->
         |      (CAST('0x' || substr(md5(h || '_' || d), 1, 15) AS BIGINT) % 1000) / 1000.0 - 0.5) AS p
         |  FROM range(400) t(h)),
         |b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |keys AS (
         |  SELECT vec_id, tbl,
         |    (tbl << 8) | CAST(sum(CASE WHEN list_dot_product(v, p) > 0
         |                              THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS key
         |  FROM b, planes GROUP BY vec_id, tbl),
         |qm AS (SELECT tbl, bit, list_dot_product(b.v, planes.p) AS m
         |       FROM b, planes WHERE b.vec_id = 0),
         |qkey AS (SELECT tbl, key FROM keys WHERE vec_id = 0),
         |qflip AS (SELECT tbl, bit FROM qm
         |          QUALIFY row_number() OVER (PARTITION BY tbl ORDER BY abs(m), bit) = 1),
         |qprobes AS (
         |  SELECT tbl, key FROM qkey
         |  UNION
         |  SELECT q.tbl, xor(q.key, 1::BIGINT << f.bit) AS key
         |  FROM qkey q JOIN qflip f USING (tbl)),
         |cand AS (SELECT DISTINCT k.vec_id FROM keys k JOIN qprobes USING (tbl, key)),
         |qv AS (SELECT v AS qvec FROM b WHERE vec_id = 0)
         |SELECT vec_id, label, round(d, 5) AS dist FROM (
         |  SELECT b.vec_id, b.label, ${angSql("b.v", "qv.qvec")} AS d
         |  FROM b JOIN cand USING (vec_id), qv)
         |ORDER BY d, vec_id LIMIT 10""".stripMargin),

    Query("ann_bits_sweep", (s, dir) => {
      // the bucket-WIDTH tuning table — the knob that keeps forest
      // candidate volume sub-quadratic as the corpus grows (the
      // mine_triplets sf1 finding: bits must rise with corpus size to
      // hold per-bucket occupancy constant): recall@10 vs candidate
      // volume at bitsPerTable in {2, 4, 8}, 20 tables; the fourth
      // tuning sweep (minhash bands, quantize widths, IVF probes)
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = Knn.knnBatch(emb, "embedding", qs, 10, Knn.Cosine, "vec_id")
      Seq(2, 4, 8).map { bits =>
        val approx = AnnLsh.knnForestBatch(emb, "embedding", qs, 10,
          numTables = 20, bitsPerTable = bits, dim = 64, Knn.Cosine, "vec_id")
        val rec = Eval.recallAtK(exact, approx)
          .agg(sum(col("n_exact")).as("n_exact"), sum(col("n_hit")).as("n_hit"))
        val fk = AnnLsh.indexForest(emb.select(col("vec_id"), col("embedding")),
            "embedding", 20, bits, 64)
          .select(col("vec_id"), explode(col("fkeys")).as("fkey"))
        val qk = fk.join(broadcast(qs.select(col("qid"))),
            col("vec_id") === col("qid"))
          .select(col("qid"), col("fkey"))
        val cand = fk.join(qk, Seq("fkey"))
          .select(col("qid"), col("vec_id")).distinct()
          .agg(count(lit(1)).as("n_candidates"))
        rec.crossJoin(cand)
          .select(lit(bits.toLong).as("bits"), col("n_exact"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_exact"), 5).as("recall"),
            col("n_candidates"))
      }.reduce(_ unionByName _)
    }, bitsSweepSql(Seq(2, 4, 8), numTables = 20)),

    Query("ann_forest_batch", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // batch twin of ann_lsh_multitable: (id, fkey) pairs equi-join
      // broadcast query keys — vectors never duplicated, candidates
      // deduped before scoring, TopKAgg bounds the final shuffle
      AnnLsh.knnForestBatch(emb, "embedding", qs, 5, numTables = 100,
          bitsPerTable = 8, dim = 64, Knn.Cosine, "vec_id")
        .select(col("qid"), col("vec_id"), col("rank"),
          round(col("dist"), 5).as("dist"))
    },
      s"""WITH planes AS (
         |  SELECT h, h // 8 AS tbl, h % 8 AS bit,
         |    list_transform(range(64), d ->
         |      (CAST('0x' || substr(md5(h || '_' || d), 1, 15) AS BIGINT) % 1000) / 1000.0 - 0.5) AS p
         |  FROM range(800) t(h)),
         |b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |keys AS (
         |  SELECT vec_id, tbl,
         |    (tbl << 8) | CAST(sum(CASE WHEN list_dot_product(v, p) > 0
         |                              THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS key
         |  FROM b, planes GROUP BY vec_id, tbl),
         |q AS (SELECT vec_id AS qid, v AS qvec FROM b WHERE vec_id < 5),
         |qk AS (SELECT vec_id AS qid, tbl, key FROM keys WHERE vec_id < 5),
         |cand AS (SELECT DISTINCT qk.qid, k.vec_id
         |         FROM keys k JOIN qk ON k.tbl = qk.tbl AND k.key = qk.key),
         |d AS (SELECT c.qid, c.vec_id, ${angSql("b.v", "q.qvec")} AS d
         |      FROM cand c JOIN b ON b.vec_id = c.vec_id JOIN q ON q.qid = c.qid),
         |r AS (SELECT qid, vec_id, d,
         |        row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rank FROM d)
         |SELECT qid, vec_id, rank, round(d, 5) AS dist FROM r WHERE rank <= 5""".stripMargin),

    Query("ann_recall_eval", (s, dir) => {
      // the deploy-gate report: recall@10 of the production forest
      // config against exact ground truth, per query — both arms are
      // batch operators, the evaluator just joins their k-row outputs
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = Knn.knnBatch(emb, "embedding", qs, 10, Knn.Cosine, "vec_id")
      val approx = AnnLsh.knnForestBatch(emb, "embedding", qs, 10,
        numTables = 100, bitsPerTable = 8, dim = 64, Knn.Cosine, "vec_id")
      graft.operators.Eval.recallAtK(exact, approx)
        .select(col("qid"), col("n_exact"), col("n_hit"),
          round(col("recall"), 5).as("recall"))
    },
      // exact arm = the knn_batch window formulation at k=10; approx
      // arm = the ann_forest_batch union-of-buckets formulation at
      // k=10; recall divides their integer intersection counts
      s"""WITH planes AS (
         |  SELECT h, h // 8 AS tbl, h % 8 AS bit,
         |    list_transform(range(64), d ->
         |      (CAST('0x' || substr(md5(h || '_' || d), 1, 15) AS BIGINT) % 1000) / 1000.0 - 0.5) AS p
         |  FROM range(800) t(h)),
         |b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qvec FROM b WHERE vec_id < 5),
         |ed AS (SELECT q.qid, b.vec_id, ${angSql("b.v", "q.qvec")} AS d FROM b, q),
         |er AS (SELECT qid, vec_id FROM (
         |         SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rank
         |         FROM ed) WHERE rank <= 10),
         |keys AS (
         |  SELECT vec_id, tbl,
         |    (tbl << 8) | CAST(sum(CASE WHEN list_dot_product(v, p) > 0
         |                              THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS key
         |  FROM b, planes GROUP BY vec_id, tbl),
         |qk AS (SELECT vec_id AS qid, tbl, key FROM keys WHERE vec_id < 5),
         |cand AS (SELECT DISTINCT qk.qid, k.vec_id
         |         FROM keys k JOIN qk ON k.tbl = qk.tbl AND k.key = qk.key),
         |ad AS (SELECT c.qid, c.vec_id, ${angSql("b.v", "q.qvec")} AS d
         |       FROM cand c JOIN b ON b.vec_id = c.vec_id JOIN q ON q.qid = c.qid),
         |ar AS (SELECT qid, vec_id FROM (
         |         SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rank
         |         FROM ad) WHERE rank <= 10)
         |SELECT er.qid, count(*) AS n_exact,
         |  CAST(sum(CASE WHEN ar.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  round(CAST(sum(CASE WHEN ar.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 5) AS recall
         |FROM er LEFT JOIN ar ON er.qid = ar.qid AND er.vec_id = ar.vec_id
         |GROUP BY er.qid""".stripMargin),

    Query("ann_batch", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      AnnLsh.knnBatch(emb, "embedding", qs, 5, numPlanes = 4, dim = 64,
          Knn.Cosine, "vec_id")
        .select(col("qid"), col("vec_id"), col("rank"),
          round(col("dist"), 5).as("dist"))
    },
      s"""WITH planes AS (
         |  SELECT h, list_transform(range(64), d ->
         |    (CAST('0x' || substr(md5(h || '_' || d), 1, 15) AS BIGINT) % 1000) / 1000.0 - 0.5) AS p
         |  FROM range(4) t(h)),
         |b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |buckets AS (
         |  SELECT vec_id,
         |    sum(CASE WHEN list_dot_product(v, p) > 0 THEN (1::BIGINT << h) ELSE 0 END) AS bucket
         |  FROM b, planes GROUP BY vec_id),
         |bb AS (SELECT b.vec_id, b.v, buckets.bucket FROM b JOIN buckets USING (vec_id)),
         |q AS (SELECT vec_id AS qid, v AS qvec, bucket AS qbucket FROM bb WHERE vec_id < 5),
         |d AS (SELECT q.qid, bb.vec_id, ${angSql("bb.v", "q.qvec")} AS d
         |      FROM bb JOIN q ON bb.bucket = q.qbucket),
         |r AS (SELECT qid, vec_id, d,
         |        row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rank FROM d)
         |SELECT qid, vec_id, rank, round(d, 5) AS dist FROM r WHERE rank <= 5""".stripMargin),

    Query("ann_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = AnnIvf.seedCentroids(emb, "embedding", "vec_id", 0L to 7L)
      // index built ONCE per corpus (assignment rides that one scan),
      // then every query is a cell-partition-pruned probe reading
      // nprobe/nlist of the data — never a full-corpus re-assign
      val idx = Fixtures.of(s, dir).ivfIndex
      AnnIvf.knnIndexed(s, idx, "embedding", queryVec(s, dir), 10,
          centroids, nprobe = 2, Knn.Cosine, "vec_id")
        .select(col("vec_id"), col("label"), round(col("dist"), 5).as("dist"))
    },
      s"""WITH b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS cell, v AS c FROM b WHERE vec_id < 8),
         |adist AS (SELECT b.vec_id, b.label, b.v, cent.cell, ${angSql("b.v", "cent.c")} AS cd
         |          FROM b, cent),
         |assigned AS (SELECT vec_id, label, v, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cd, cell) AS rn
         |    FROM adist) WHERE rn = 1),
         |q AS (SELECT v AS qvec FROM b WHERE vec_id = 0),
         |probe AS (SELECT cell FROM cent, q ORDER BY ${angSql("cent.c", "q.qvec")}, cell LIMIT 2)
         |SELECT vec_id, label, round(d, 5) AS dist FROM (
         |  SELECT a.vec_id, a.label, ${angSql("a.v", "q.qvec")} AS d
         |  FROM assigned a JOIN probe USING (cell), q)
         |ORDER BY d, vec_id LIMIT 10""".stripMargin),

    Query("ann_nprobe_sweep", (s, dir) => {
      // the probe-width tuning table consulted before freezing an IVF
      // deployment: recall@10 (micro-averaged over the query batch)
      // vs candidate volume at nprobe in {1, 2, 4} — the
      // dedup_minhash_sweep / quantize_sweep posture applied to the
      // IVF recall/cost tradeoff. Index built once (a Fixtures
      // member); the exact arm and cell-size frame are shared
      // subtrees across the three arms of the single union plan.
      val emb = Tables.embeddings(s, dir)
      val centroids = AnnIvf.seedCentroids(emb, "embedding", "vec_id", 0L to 7L)
      val idx = Fixtures.of(s, dir).ivfIndex
      val indexed = s.read.parquet(idx)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = Knn.knnBatch(emb, "embedding", qs, 10, Knn.Cosine, "vec_id")
      val cellSizes = indexed.groupBy(col("cell"))
        .agg(count(lit(1)).as("_cs"))
      // ONE probe pass at the widest nprobe with the per-query cell
      // rank carried (r19, guide §2.4): a narrower probe is exactly
      // cell_rank <= np of the widest, so every arm's candidate set,
      // top-k, and candidate count derive map-side from one scored
      // frame — the un-fused shape scanned + broadcast-joined the
      // index once PER arm. The scored frame is candidate-bounded
      // (queries x widest probe's cells); cut once, three topk aggs
      // and the count roll-up read it.
      val nps = Seq(1, 2, 4)
      val probed = AnnIvf.probedCellsRanked(qs, centroids, nps.max, Knn.Cosine)
      val cellUnion = probed.select(col("cell")).distinct()
        .collect().map(_.getLong(0)).sorted
      val scored = indexed.select(col("cell"), col("vec_id"), col("embedding"))
        .filter(col("cell").isin(cellUnion: _*))
        .join(broadcast(probed), Seq("cell"))
        .select(col("qid"), col("cell_rank"),
          Knn.distCol(Knn.Cosine, col("embedding"), col("qvec")).as("dist"),
          col("vec_id"))
        .localCheckpoint()
      val counts = probed.join(broadcast(cellSizes), Seq("cell"))
        .groupBy(col("cell_rank")).agg(sum(col("_cs")).as("_csr"))
        .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
      nps.map { np =>
        val approx = scored.filter(col("cell_rank") <= np)
          .groupBy(col("qid"))
          .agg(graft.functions.TopKAgg.topk(col("dist"), col("vec_id"), 10).as("top"))
          .select(col("qid"), posexplode(col("top")).as(Seq("_pos", "_t")))
          .select(col("qid"), col("_t.id").as("vec_id"))
        val rec = graft.operators.Eval.recallAtK(exact, approx)
          .agg(sum(col("n_exact")).as("n_exact"), sum(col("n_hit")).as("n_hit"))
        val nCand = (1 to np).map(r => counts.getOrElse(r.toLong, 0L)).sum
        rec.select(lit(np).as("nprobe"), col("n_exact"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_exact"), 5).as("recall"),
          lit(nCand).as("n_candidates"))
      }.reduce(_ unionByName _)
    }, nprobeSweepSql(Seq(1, 2, 4))),

    Query("ann_ivf_batch", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = AnnIvf.seedCentroids(emb, "embedding", "vec_id", 0L to 7L)
      val idx = Fixtures.of(s, dir).ivfIndex
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      AnnIvf.knnBatch(s.read.parquet(idx), "embedding", qs, 5,
          centroids, nprobe = 2, Knn.Cosine, "vec_id")
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rank"),
          round(col("dist"), 5).as("dist"))
    },
      // per-query probe = same (dist, cell) ranking as the ann_ivf
      // oracle's probe CTE, partitioned by qid; candidates need no
      // dedup — a corpus row lives in exactly one cell
      s"""WITH b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS cell, v AS c FROM b WHERE vec_id < 8),
         |adist AS (SELECT b.vec_id, b.v, cent.cell, ${angSql("b.v", "cent.c")} AS cd
         |          FROM b, cent),
         |assigned AS (SELECT vec_id, v, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cd, cell) AS rn
         |    FROM adist) WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, v AS qvec FROM b WHERE vec_id < 5),
         |probe AS (SELECT qid, cell FROM (
         |    SELECT q.qid, cent.cell,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY ${angSql("cent.c", "q.qvec")}, cent.cell) AS rn
         |    FROM cent, q) WHERE rn <= 2),
         |d AS (SELECT p.qid, a.vec_id, ${angSql("a.v", "q.qvec")} AS d
         |      FROM assigned a JOIN probe p USING (cell) JOIN q ON q.qid = p.qid),
         |r AS (SELECT qid, vec_id, d,
         |        row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rank
         |      FROM d)
         |SELECT qid, vec_id, rank, round(d, 5) AS dist FROM r WHERE rank <= 5""".stripMargin),

    Query("ann_ivf_trained", (s, dir) => {
      // Lloyd-trained centroids (2 iterations, amortized at index-
      // build time like writeIndexed). Each iteration's means snap to
      // a 1e-6 decimal grid (roundDp) — coarser than the last-ulp
      // summation-order noise, so training is engine-reproducible and
      // the oracle can replay the identical two iterations in SQL.
      val fixtures = Fixtures.of(s, dir)
      val centroids = s.createDataFrame(
          s.sparkContext.parallelize(fixtures.ivfTrainedCentroids, 1))
        .toDF("cell", "centroid")
      val idx = fixtures.ivfTrainedIndex
      AnnIvf.knnIndexed(s, idx, "embedding", queryVec(s, dir), 10,
          centroids, nprobe = 2, Knn.Cosine, "vec_id")
        .select(col("vec_id"), col("label"), round(col("dist"), 5).as("dist"))
    },
      // the same two grid-rounded Lloyd iterations the Spark side runs
      // (roundDp = 6 snaps each mean to a 1e-6 grid, coarser than any
      // engine's summation-order noise): assign -> per-(cell, dim)
      // rounded mean -> reassemble, twice, then the standard probe
      s"""WITH b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS BIGINT) AS cell, v AS c FROM b WHERE vec_id < 8),
         |a1 AS (SELECT vec_id, v, cell FROM (
         |    SELECT b.vec_id, b.v, c0.cell,
         |      row_number() OVER (PARTITION BY b.vec_id ORDER BY ${angSql("b.v", "c0.c")}, c0.cell) AS rn
         |    FROM b, c0) WHERE rn = 1),
         |m1 AS (SELECT cell, d, round(avg(x), 6) AS m FROM (
         |    SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS d FROM a1) GROUP BY cell, d),
         |c1 AS (SELECT cell, list(m ORDER BY d) AS c FROM m1 GROUP BY cell),
         |a2 AS (SELECT vec_id, v, cell FROM (
         |    SELECT b.vec_id, b.v, c1.cell,
         |      row_number() OVER (PARTITION BY b.vec_id ORDER BY ${angSql("b.v", "c1.c")}, c1.cell) AS rn
         |    FROM b, c1) WHERE rn = 1),
         |m2 AS (SELECT cell, d, round(avg(x), 6) AS m FROM (
         |    SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS d FROM a2) GROUP BY cell, d),
         |c2 AS (SELECT cell, list(m ORDER BY d) AS c FROM m2 GROUP BY cell),
         |af AS (SELECT vec_id, label, v, cell FROM (
         |    SELECT b.vec_id, b.label, b.v, c2.cell,
         |      row_number() OVER (PARTITION BY b.vec_id ORDER BY ${angSql("b.v", "c2.c")}, c2.cell) AS rn
         |    FROM b, c2) WHERE rn = 1),
         |q AS (SELECT v AS qvec FROM b WHERE vec_id = 0),
         |probe AS (SELECT cell FROM c2, q ORDER BY ${angSql("c2.c", "q.qvec")}, cell LIMIT 2)
         |SELECT vec_id, label, round(d, 5) AS dist FROM (
         |  SELECT a.vec_id, a.label, ${angSql("a.v", "q.qvec")} AS d
         |  FROM af a JOIN probe USING (cell), q)
         |ORDER BY d, vec_id LIMIT 10""".stripMargin)
  )

  /** ann_bits_sweep oracle: per-bits forest chains (planes, keys with
    * `(tbl << bits) | bucket` packing, candidate distinct, top-10)
    * against the shared brute-force arm; candidate volume counts the
    * distinct (qid, corpus id) contact pairs. */
  private def bitsSweepSql(allBits: Seq[Int], numTables: Int): String = {
    val per = allBits.map { bits =>
      s"""p$bits AS (
         |  SELECT h, h // $bits AS tbl, h % $bits AS bit,
         |    list_transform(range(64), d ->
         |      (CAST('0x' || substr(md5(h || '_' || d), 1, 15) AS BIGINT) % 1000) / 1000.0 - 0.5) AS p
         |  FROM range(${numTables * bits}) t(h)),
         |k$bits AS (
         |  SELECT vec_id, tbl,
         |    (tbl << $bits) | CAST(sum(CASE WHEN list_dot_product(v, p) > 0
         |                              THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS key
         |  FROM b, p$bits GROUP BY vec_id, tbl),
         |qk$bits AS (SELECT vec_id AS qid, tbl, key FROM k$bits WHERE vec_id < 5),
         |c$bits AS (SELECT DISTINCT qk.qid, k.vec_id
         |         FROM k$bits k JOIN qk$bits qk ON k.tbl = qk.tbl AND k.key = qk.key),
         |d$bits AS (SELECT c.qid, c.vec_id, ${angSql("b.v", "q.qvec")} AS d
         |      FROM c$bits c JOIN b ON b.vec_id = c.vec_id JOIN q ON q.qid = c.qid),
         |a$bits AS (SELECT qid, vec_id FROM (
         |      SELECT qid, vec_id,
         |        row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rank
         |      FROM d$bits) WHERE rank <= 10),
         |row$bits AS (SELECT CAST($bits AS BIGINT) AS bits,
         |      (SELECT count(*) FROM er) AS n_exact,
         |      (SELECT CAST(count(*) AS BIGINT)
         |       FROM er JOIN a$bits USING (qid, vec_id)) AS n_hit,
         |      (SELECT CAST(count(*) AS BIGINT) FROM c$bits) AS n_candidates)"""
        .stripMargin
    }
    val prefix =
      s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qvec FROM b WHERE vec_id < 5),
         |ed AS (SELECT q.qid, b.vec_id, ${angSql("b.v", "q.qvec")} AS d FROM b, q),
         |er AS (SELECT qid, vec_id FROM (
         |         SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rank
         |         FROM ed) WHERE rank <= 10)""".stripMargin
    val rows = allBits.map(bits =>
      s"SELECT bits, n_exact, n_hit, " +
        s"round(CAST(n_hit AS DOUBLE) / n_exact, 5) AS recall, n_candidates " +
        s"FROM row$bits").mkString("\nUNION ALL\n")
    (prefix +: per).mkString("", ",\n", "\n") + rows
  }

  /** ann_nprobe_sweep oracle: the shared exact arm (brute-force
    * top-10) and seed-8 IVF assignment, then per-nprobe the SAME
    * probe/candidate/top-10 CTEs as the ann_ivf_batch oracle plus a
    * probed-cell-size roll-up — one row per configuration. */
  private def nprobeSweepSql(nps: Seq[Int]): String = {
    val per = nps.map { np =>
      s"""probe$np AS (SELECT qid, cell FROM (
         |    SELECT q.qid, cent.cell,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY ${angSql("cent.c", "q.qvec")}, cent.cell) AS rn
         |    FROM cent, q) WHERE rn <= $np),
         |ad$np AS (SELECT p.qid, a.vec_id, ${angSql("a.v", "q.qvec")} AS d
         |      FROM assigned a JOIN probe$np p USING (cell) JOIN q ON q.qid = p.qid),
         |ar$np AS (SELECT qid, vec_id FROM (
         |      SELECT qid, vec_id,
         |        row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rank
         |      FROM ad$np) WHERE rank <= 10),
         |row$np AS (SELECT $np AS nprobe,
         |      (SELECT count(*) FROM er) AS n_exact,
         |      (SELECT CAST(count(*) AS BIGINT)
         |       FROM er JOIN ar$np USING (qid, vec_id)) AS n_hit,
         |      (SELECT CAST(sum(cs) AS BIGINT)
         |       FROM probe$np JOIN cellsize USING (cell)) AS n_candidates)"""
        .stripMargin
    }
    val prefix =
      s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS cell, v AS c FROM b WHERE vec_id < 8),
         |adist AS (SELECT b.vec_id, b.v, cent.cell, ${angSql("b.v", "cent.c")} AS cd
         |          FROM b, cent),
         |assigned AS (SELECT vec_id, v, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cd, cell) AS rn
         |    FROM adist) WHERE rn = 1),
         |cellsize AS (SELECT cell, count(*) AS cs FROM assigned GROUP BY 1),
         |q AS (SELECT vec_id AS qid, v AS qvec FROM b WHERE vec_id < 5),
         |ed AS (SELECT q.qid, b.vec_id, ${angSql("b.v", "q.qvec")} AS d FROM b, q),
         |er AS (SELECT qid, vec_id FROM (
         |         SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rank
         |         FROM ed) WHERE rank <= 10)""".stripMargin
    val rows = nps.map(np =>
      s"SELECT nprobe, n_exact, n_hit, " +
        s"round(CAST(n_hit AS DOUBLE) / n_exact, 5) AS recall, n_candidates " +
        s"FROM row$np").mkString("\nUNION ALL\n")
    (prefix +: per).mkString("", ",\n", "\n") + rows
  }

  /** Shared DuckDB CTE chain replicating the PQ pipeline (m=8 × k=16
    * over 64 dims, seed "pq0"): md5-sampled codebook → per-(row,
    * subspace) argmin code (ties → lowest cid, [[graft.functions.
    * PqExprs.pqEncode]]'s strict-less twin) → the query's lookup
    * table → ADC distance assembled as list_sum(list(… ORDER BY j)),
    * the sequential j-ascending fold the Spark kernel uses — sum()
    * aggregation order would not be bit-stable. */
  private val pqSql: String = {
    def sq(a: String, b: String) = s"(($a) - ($b)) * (($a) - ($b))"
    val qsub = sq("qv[CAST(j*8+i+1 AS INT)]", "v[CAST(j*8+i+1 AS INT)]")
    val esub = sq("e.v[CAST(js.j*8+i+1 AS INT)]", "cb.v[CAST(js.j*8+i+1 AS INT)]")
    s"""emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cb AS (SELECT cid, v FROM (
       |    SELECT v, row_number() OVER (ORDER BY md5('pq0_' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
       |    FROM emb) WHERE cid < 16),
       |js AS (SELECT unnest(range(8)) AS j),
       |q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
       |lut AS (SELECT j, cid, list_sum(list_transform(range(8), i -> $qsub)) AS d
       |        FROM cb, js, q),
       |sub AS (SELECT e.vec_id, js.j, cb.cid,
       |          list_sum(list_transform(range(8), i -> $esub)) AS d
       |        FROM emb e, js, cb),
       |code AS (SELECT vec_id, j, cid FROM (
       |    SELECT vec_id, j, cid, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn
       |    FROM sub) WHERE rn = 1),
       |adc AS (SELECT c.vec_id, list_sum(list(l.d ORDER BY c.j)) AS d
       |        FROM code c JOIN lut l ON l.j = c.j AND l.cid = c.cid
       |        GROUP BY c.vec_id)""".stripMargin
  }
}
