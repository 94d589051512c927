package graft
package registry

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{AnnIvf, AnnLsh, Eval, Knn, Pca}
import Shared._

/** Embedding-space analytics: covariance, PCA, drift, outliers, clustering and negative mining. */
object EmbeddingQueries {

  val queries: Seq[Query] = Seq(
    Query("mine_hard_negatives", (s, dir) => {
      // contrastive-training negatives: per anchor, the 3 nearest
      // neighbors inside the (0.01, 0.45] angular band — dup-range
      // pairs fall below the floor and are excluded by construction
      AnnLsh.hardNegatives(Tables.embeddings(s, dir), "embedding", "vec_id",
          k = 3, numTables = 20, bitsPerTable = 8, dim = 64, Knn.Cosine,
          dMin = 0.01, dMax = 0.45)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rank"),
          round(col("dist"), 5).as("dist"))
    },
      // the similarity_join forest chain with the band filter applied
      // before ranking — same buckets, same angular arithmetic
      s"""WITH planes AS (
         |  SELECT h, h // 8 AS tbl, h % 8 AS bit,
         |    list_transform(range(64), d ->
         |      (CAST('0x' || substr(md5(h || '_' || d), 1, 15) AS BIGINT) % 1000) / 1000.0 - 0.5) AS p
         |  FROM range(160) t(h)),
         |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |keys AS (
         |  SELECT vec_id, tbl,
         |    (tbl << 8) | CAST(sum(CASE WHEN list_dot_product(v, p) > 0
         |                              THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS key
         |  FROM b, planes GROUP BY vec_id, tbl),
         |cand AS (SELECT DISTINCT q.vec_id AS qid, k.vec_id
         |         FROM keys k JOIN keys q ON k.tbl = q.tbl AND k.key = q.key
         |         WHERE k.vec_id <> q.vec_id),
         |d AS (SELECT c.qid, c.vec_id, ${angSql("b.v", "q.v")} AS d
         |      FROM cand c JOIN b ON b.vec_id = c.vec_id
         |                  JOIN b q ON q.vec_id = c.qid),
         |r AS (SELECT qid, vec_id, d,
         |        row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rank
         |      FROM d WHERE d > 0.01 AND d <= 0.45)
         |SELECT qid, vec_id, rank, round(d, 5) AS dist FROM r WHERE rank <= 3""".stripMargin),

    Query("mine_triplets", (s, dir) => {
      // the (anchor, positive, hard-negative) training rows an
      // embedding fine-tune consumes: planted near-dups (the
      // dedup_embedding perturbation) supply positives at dist <=
      // 0.15, natural neighbors in (0.15, 0.45] supply 2 negatives
      val emb = Tables.embeddings(s, dir)
      val vd = col("embedding").cast("array<double>")
      val perturbed = emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 10000).as("vec_id"),
          concat(array(element_at(vd, 1) + 0.1), slice(vd, 2, 63)).as("embedding"),
          col("label"))
      val corpus = emb.select(col("vec_id"), vd.as("embedding"), col("label"))
        .unionByName(perturbed)
      AnnLsh.mineTriplets(corpus, "embedding", "vec_id", kNeg = 2,
          numTables = 20, bitsPerTable = 8, dim = 64, Knn.Cosine,
          dPos = 0.15, dNegMin = 0.15, dNegMax = 0.45)
        .select(col("anchor_id"), col("pos_id"),
          round(col("pos_dist"), 5).as("pos_dist"), col("neg_id"),
          col("neg_rank").cast("long").as("neg_rank"),
          round(col("neg_dist"), 5).as("neg_dist"))
    },
      // the hard-negatives forest chain over the planted corpus, with
      // both bands ranked from the same distance frame and joined on
      // the anchor
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |corpus AS (
         |  SELECT vec_id, v FROM base
         |  UNION ALL
         |  SELECT vec_id + 10000, list_concat([v[1] + 0.1], v[2:len(v)])
         |  FROM base WHERE vec_id % 10 = 0),
         |planes AS (
         |  SELECT h, h // 8 AS tbl, h % 8 AS bit,
         |    list_transform(range(64), d ->
         |      (CAST('0x' || substr(md5(h || '_' || d), 1, 15) AS BIGINT) % 1000) / 1000.0 - 0.5) AS p
         |  FROM range(160) t(h)),
         |b AS (SELECT vec_id, v FROM corpus),
         |keys AS (
         |  SELECT vec_id, tbl,
         |    (tbl << 8) | CAST(sum(CASE WHEN list_dot_product(v, p) > 0
         |                              THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS key
         |  FROM b, planes GROUP BY vec_id, tbl),
         |cand AS (SELECT DISTINCT q.vec_id AS qid, k.vec_id
         |         FROM keys k JOIN keys q ON k.tbl = q.tbl AND k.key = q.key
         |         WHERE k.vec_id <> q.vec_id),
         |d AS (SELECT c.qid, c.vec_id, ${angSql("b.v", "q.v")} AS d
         |      FROM cand c JOIN b ON b.vec_id = c.vec_id
         |                  JOIN b q ON q.vec_id = c.qid),
         |pos AS (SELECT qid, vec_id, d,
         |         row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rank
         |       FROM d WHERE d > 0.0 AND d <= 0.15),
         |neg AS (SELECT qid, vec_id, d,
         |         row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rank
         |       FROM d WHERE d > 0.15 AND d <= 0.45)
         |SELECT p.qid AS anchor_id, p.vec_id AS pos_id, round(p.d, 5) AS pos_dist,
         |  n.vec_id AS neg_id, n.rank AS neg_rank, round(n.d, 5) AS neg_dist
         |FROM pos p JOIN neg n USING (qid)
         |WHERE p.rank = 1 AND n.rank <= 2""".stripMargin),

    Query("embedding_drift", (s, dir) => {
      // vector-space drift dashboard: even vs odd labels stand in for
      // "embeddings from model v1 vs v2" — per-dim mean shift on the
      // 1e-6 integer grid so sums are engine-exact
      Eval.embeddingDrift(Tables.embeddings(s, dir), "embedding",
          pmod(col("label"), lit(2)).cast("string"), "0", "1")
        .select(col("dim"), col("n_a"), col("n_b"),
          round(col("mean_a"), 6).as("mean_a"),
          round(col("mean_b"), 6).as("mean_b"),
          round(col("drift"), 6).as("drift"))
    },
      // same 1e-6 quantization, integer per-(dim, side) sums, means
      // divided in the same fixed expression both engines. The side
      // key uses ((label % 2) + 2) % 2 — the non-negative residue — so
      // it matches Spark's pmod even if labels ever go negative
      // (ADVICE r11: DuckDB's bare % is signed).
      """WITH b AS (SELECT CAST(((label % 2) + 2) % 2 AS VARCHAR) AS side,
        |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e AS (SELECT side, s.d AS dim, CAST(round(s.x * 1000000.0) AS BIGINT) AS qx
        |      FROM (SELECT side, unnest(list_transform(range(1, len(v) + 1),
        |              i -> {'d': i - 1, 'x': v[CAST(i AS INT)]})) AS s FROM b)),
        |c AS (SELECT dim,
        |        sum(CASE WHEN side = '0' THEN qx ELSE 0 END) AS sa,
        |        sum(CASE WHEN side = '0' THEN 1 ELSE 0 END) AS na,
        |        sum(CASE WHEN side = '1' THEN qx ELSE 0 END) AS sb,
        |        sum(CASE WHEN side = '1' THEN 1 ELSE 0 END) AS nb
        |      FROM e GROUP BY 1),
        |m AS (SELECT dim, na, nb,
        |        (CAST(sa AS DOUBLE) / na) / 1000000.0 AS mean_a,
        |        (CAST(sb AS DOUBLE) / nb) / 1000000.0 AS mean_b
        |      FROM c)
        |SELECT dim, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |       round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
        |       round(abs(mean_a - mean_b), 6) AS drift
        |FROM m""".stripMargin),

    Query("embedding_outliers", (s, dir) => {
      // embedding-space QA: the 25 vectors farthest from the corpus
      // centroid with z-scores — grid-exact centroid, ordered distance
      // folds, integer distance moments
      Eval.embeddingOutliers(Tables.embeddings(s, dir), "embedding",
          "vec_id", k = 25)
        .select(col("vec_id"), round(col("dist2"), 6).as("dist2"),
          round(col("zscore"), 5).as("zscore"))
    },
      // identical grid: 1e-6 coordinate quantization, per-dim integer
      // centroid sums, dim-ORDERED distance fold, distance re-snapped
      // to the grid, HUGEINT moments, one fixed z expression; ranking
      // is on the integer distance so the top-k set is engine-exact
      """WITH q AS (SELECT vec_id,
        |       list_transform(CAST(embedding AS DOUBLE[]),
        |         x -> CAST(round(x * 1000000.0) AS BIGINT)) AS qv
        |     FROM embeddings),
        |p AS (SELECT vec_id, s.dim AS dim, s.qx AS qx
        |      FROM (SELECT vec_id, unnest(list_transform(range(1, len(qv) + 1),
        |              i -> {'dim': i - 1, 'qx': qv[CAST(i AS INT)]})) AS s FROM q)),
        |mu AS (SELECT dim, (CAST(sum(qx) AS DOUBLE) / count(*)) / 1000000.0 AS m
        |       FROM p GROUP BY 1),
        |dd AS (SELECT p.vec_id, list_sum(list(
        |         (CAST(p.qx AS DOUBLE) / 1000000.0 - mu.m)
        |         * (CAST(p.qx AS DOUBLE) / 1000000.0 - mu.m) ORDER BY p.dim)) AS d2
        |       FROM p JOIN mu USING (dim) GROUP BY 1),
        |dq AS (SELECT vec_id, CAST(round(d2 * 1000000.0) AS BIGINT) AS dqv FROM dd),
        |st AS (SELECT count(*) AS nn, sum(dqv) AS s1, sum(dqv * dqv) AS s2 FROM dq),
        |zz AS (SELECT vec_id, dqv,
        |         CAST(s1 AS DOUBLE) / nn AS m1, CAST(s2 AS DOUBLE) / nn AS m2
        |       FROM dq, st),
        |z AS (SELECT vec_id, dqv,
        |        CASE WHEN m2 - m1 * m1 <= 0.0 THEN 0.0
        |             ELSE (CAST(dqv AS DOUBLE) - m1) / sqrt(m2 - m1 * m1) END AS zscore
        |      FROM zz)
        |SELECT vec_id, round(CAST(dqv AS DOUBLE) / 1000000.0, 6) AS dist2,
        |       round(zscore, 5) AS zscore
        |FROM z ORDER BY dqv DESC, vec_id LIMIT 25""".stripMargin),

    Query("cluster_kmeans", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = AnnIvf.seedCentroids(emb, "embedding", "vec_id", 0L to 7L)
      AnnIvf.clusterProfile(emb, "embedding", "vec_id", "label",
          centroids, Knn.Cosine)
        .select(col("cell"), col("n_vectors"), col("rep_id"),
          col("top_label"), col("top_label_n"))
    },
      // same assigned CTE as the ann_ivf oracle; majority label picks
      // (n DESC, label ASC) — the total order the Spark struct-max uses
      s"""WITH b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS cell, v AS c FROM b WHERE vec_id < 8),
         |adist AS (SELECT b.vec_id, b.label, cent.cell, ${angSql("b.v", "cent.c")} AS cd
         |          FROM b, cent),
         |assigned AS (SELECT vec_id, label, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cd, cell) AS rn
         |    FROM adist) WHERE rn = 1),
         |cl AS (SELECT cell, label, count(*) AS n, min(vec_id) AS rep
         |       FROM assigned GROUP BY 1, 2),
         |tot AS (SELECT cell, CAST(sum(n) AS BIGINT) AS n_vectors, min(rep) AS rep_id
         |        FROM cl GROUP BY 1),
         |top AS (SELECT cell, label AS top_label, n AS top_label_n FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cell ORDER BY n DESC, label ASC) AS rn
         |    FROM cl) WHERE rn = 1)
         |SELECT cell, n_vectors, rep_id, top_label, top_label_n
         |FROM tot JOIN top USING (cell)""".stripMargin),

    Query("embedding_covariance", (s, dir) => {
      // the one-pass sufficient statistics PCA fits from: every value
      // derives from exact integer-grid sums in one fixed expression,
      // so any engine reproduces the matrix bit-for-bit
      Pca.covariance(Tables.embeddings(s, dir), "embedding", 64)
        .select(col("i"), col("j"), col("n"), round(col("cov"), 10).as("cov"))
    },
      // same 1e-6 grid as embedding_drift; pair sums are exact
      // integers (DuckDB sums BIGINT into HUGEINT, Spark into
      // decimal(38,0)), and the covariance divides them in the
      // identical fixed expression both engines
      """WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e AS (SELECT vec_id, s.d AS d, CAST(round(s.x * 1000000.0) AS BIGINT) AS qx
        |      FROM (SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
        |              i -> {'d': i - 1, 'x': v[CAST(i AS INT)]})) AS s FROM b)),
        |p AS (SELECT a.d AS i, b2.d AS j, count(*) AS n, sum(a.qx * b2.qx) AS s
        |      FROM e a JOIN e b2 ON a.vec_id = b2.vec_id AND a.d <= b2.d
        |      GROUP BY 1, 2),
        |m AS (SELECT d, sum(qx) AS s1 FROM e GROUP BY 1)
        |SELECT p.i, p.j, CAST(p.n AS BIGINT) AS n,
        |  round(CAST(p.s * p.n - mi.s1 * mj.s1 AS DOUBLE) /
        |        (CAST(p.n AS DOUBLE) * CAST(p.n AS DOUBLE) * 1e12), 10) AS cov
        |FROM p JOIN m mi ON mi.d = p.i JOIN m mj ON mj.d = p.j""".stripMargin),

    Query.fitted("embedding_pca", (s, dir) => {
      // rotate the corpus into its principal axes: fit collects only
      // the d x d stats (driver-sized by contract), projection is a
      // pure map-side fold. The eigensolve is not SQL-expressible,
      // but the fitted MODEL is driver-sized — it ships into the
      // DuckDB oracle as double literals (pcaOracles), so the
      // distributed projection IS hash-checked; the fit itself stays
      // PcaSpec-pinned. Variance report in Pca.explainedVariance.
      val emb = Tables.embeddings(s, dir)
      val model = Fixtures.of(s, dir).pca
      Pca.project(emb, "embedding", model, 8)
        .select(Seq(col("vec_id")) ++
          (0 until 8).map(k => round(col(s"pc$k"), 6).as(s"pc$k")): _*)
    },
      f => pcaOracles(f.pca)("embedding_pca")),

    Query.fitted("embedding_whiten", (s, dir) => {
      // PCA-whitening ahead of PQ: the projection scaled to unit
      // variance per axis — same shipped-model oracle contract as
      // embedding_pca (the per-axis 1/sqrt(ev+eps) scales are literal
      // doubles in both engines); PcaSpec pins unit variance,
      // projection consistency and partitioning independence
      val emb = Tables.embeddings(s, dir)
      val model = Fixtures.of(s, dir).pca
      Pca.whiten(emb, "embedding", model, 8)
        .select(Seq(col("vec_id")) ++
          (0 until 8).map(k => round(col(s"wpc$k"), 6).as(s"wpc$k")): _*)
    },
      f => pcaOracles(f.pca)("embedding_whiten"))
  )

  private def dArr(a: Seq[Double]): String =
    a.map(dLit).mkString("[", ", ", "]")

  /** DuckDB oracles for embedding_pca / embedding_whiten. The Jacobi
    * eigensolve is driver-side and not SQL-expressible, but the
    * fitted model is driver-sized BY CONTRACT (d means + d
    * eigenvalues + p·d component weights) — so it ships into the
    * oracle as double literals and DuckDB recomputes the DISTRIBUTED
    * part, the projection, from the raw parquet vectors: the same
    * centered zip-multiply and the same order-pinned left fold
    * (list_reduce over a 0.0-prepended list == Spark's `aggregate`
    * with a 0.0 seed), rounded on the same grid. `model` is the
    * checked directory's own [[Fixtures.pca]]. */
  private def pcaOracles(model: Pca.Model): Map[String, String] = {
    val d = model.means.length
    val p = 8
    def foldSql(k: Int): String =
      s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${d + 1}),
         |      i -> cv[CAST(i AS INT)] * w$k.w[CAST(i AS INT)])),
         |    (acc, x) -> acc + x)""".stripMargin
    val wCtes = (0 until p).map(k =>
      s"w$k AS (SELECT ${dArr(model.components(k).toIndexedSeq)}::DOUBLE[] AS w)")
    val base =
      s"""WITH mm AS (SELECT ${dArr(model.means.toIndexedSeq)}::DOUBLE[] AS m),
         |${wCtes.mkString(",\n")},
         |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id, list_transform(range(1, ${d + 1}),
         |        i -> v[CAST(i AS INT)] - m[CAST(i AS INT)]) AS cv
         |      FROM b, mm)""".stripMargin
    val pcaCols = (0 until p).map(k =>
      s"round(${foldSql(k)}, 6) AS pc$k")
    val whitenCols = (0 until p).map { k =>
      // the scale is a DRIVER-computed literal in both engines
      val scale = 1.0 / math.sqrt(model.eigenvalues(k) + 1e-9)
      s"round((${foldSql(k)}) * ${dLit(scale)}, 6) AS wpc$k"
    }
    Map(
      "embedding_pca" ->
        s"$base\nSELECT vec_id,\n  ${pcaCols.mkString(",\n  ")}\nFROM c, ${(0 until p).map(k => s"w$k").mkString(", ")}",
      "embedding_whiten" ->
        s"$base\nSELECT vec_id,\n  ${whitenCols.mkString(",\n  ")}\nFROM c, ${(0 until p).map(k => s"w$k").mkString(", ")}")
  }
}
