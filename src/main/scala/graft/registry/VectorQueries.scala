package graft
package registry

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Vectors
import graft.operators.{Crud, Embed, Knn, Search}
import graft.query.FilterCompiler
import Shared._

/** Exact vector search, record listing, CRUD and filter-language queries. */
object VectorQueries {

  val queries: Seq[Query] = Seq(
    Query("knn_cosine", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Knn.knn(emb, "embedding", queryVec(s, dir), 10, Knn.Cosine, "vec_id")
        .select(col("vec_id"), col("label"), round(col("dist"), 5).as("dist"))
    },
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, round(d, 5) AS dist FROM (
         |  SELECT vec_id, label, $cosDistSql AS d FROM embeddings, q)
         |ORDER BY d, vec_id LIMIT 10""".stripMargin),

    Query("knn_euclidean", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Knn.knn(emb, "embedding", queryVec(s, dir), 10, Knn.Euclidean, "vec_id")
        .select(col("vec_id"), col("label"), round(col("dist"), 5).as("dist"))
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label, round(d, 5) AS dist FROM (
        |  SELECT vec_id, label, list_distance(CAST(embedding AS DOUBLE[]), qvec) AS d
        |  FROM embeddings, q)
        |ORDER BY d, vec_id LIMIT 10""".stripMargin),

    Query("radius_search", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Knn.radius(emb, "embedding", queryVec(s, dir), 0.45, Knn.Cosine)
        .select(col("vec_id"), col("label"), round(col("dist"), 5).as("dist"))
    },
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, round(d, 5) AS dist FROM (
         |  SELECT vec_id, label, $cosDistSql AS d FROM embeddings, q)
         |WHERE d <= 0.45""".stripMargin),

    Query("knn_batch", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Knn.knnBatch(emb, "embedding", qs, 5, Knn.Cosine, "vec_id")
        .select(col("qid"), col("vec_id"), col("rank"),
          round(col("dist"), 5).as("dist"))
    },
      s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
         |           FROM embeddings WHERE vec_id < 5),
         |d AS (SELECT q.qid, e.vec_id, $cosDistSql AS d FROM embeddings e, q),
         |r AS (SELECT qid, vec_id, d,
         |        row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rank
         |      FROM d)
         |SELECT qid, vec_id, rank, round(d, 5) AS dist FROM r WHERE rank <= 5""".stripMargin),

    Query("list_records", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Knn.listRecords(docs, "doc_id", Some(col("n_chars") >= 200), 20, 10)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    },
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE n_chars >= 200 ORDER BY doc_id LIMIT 20 OFFSET 10""".stripMargin),

    Query("upsert_crud", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = docs.select(col("doc_id"), col("source"), col("n_chars"),
        lit(0L).as("version"))
      val upd = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit("updated").as("source"), col("n_chars"),
          lit(1L).as("version"))
      val tombstones = docs.filter(col("doc_id") % 17 === 0).select(col("doc_id"))
      Crud.delete(Crud.upsert(base, upd, "doc_id", "version"), tombstones, "doc_id")
    },
      """WITH base AS (SELECT doc_id, source, n_chars, 0 AS version FROM documents),
        |upd AS (SELECT doc_id, 'updated' AS source, n_chars, 1 AS version
        |        FROM documents WHERE doc_id % 10 = 0),
        |merged AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
        |           FROM merged)
        |SELECT doc_id, source, n_chars, version FROM ranked
        |WHERE rn = 1 AND doc_id % 17 <> 0""".stripMargin),

    Query("collection_stats", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val sample = emb.filter(col("vec_id") < 32)
        .select(col("vec_id"), col("embedding"))
      val a = sample.select(col("vec_id").as("i"), col("embedding").as("va"))
      val b = sample.select(col("vec_id").as("j"), col("embedding").as("vb"))
      val pairs = a.join(broadcast(b), col("i") < col("j"))
        .select(Vectors.angularDist(col("va"), col("vb")).as("d"))
      val pairAgg = pairs.agg(count(lit(1)).as("n_pairs"),
        round(avg(col("d")), 5).as("avg_dist"))
      val tableAgg = emb.agg(count(lit(1)).as("n_records"),
        first(size(col("embedding"))).cast("bigint").as("dims"))
      tableAgg.crossJoin(pairAgg)
    },
      """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings WHERE vec_id < 32),
         |p AS (SELECT acos(least(greatest(
         |        list_dot_product(a.v, b.v) /
         |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
         |        -1.0), 1.0)) / pi() AS d
         |      FROM s a, s b WHERE a.vec_id < b.vec_id)
         |SELECT (SELECT count(*) FROM embeddings) AS n_records,
         |       (SELECT len(embedding) FROM embeddings WHERE vec_id = 0) AS dims,
         |       (SELECT count(*) FROM p) AS n_pairs,
         |       (SELECT round(avg(d), 5) FROM p) AS avg_dist""".stripMargin),

    Query("filter_dsl", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pred = FilterCompiler.compile(
        """(lang IN ["en", "de"] AND n_chars >= 300) OR
          |(source == "src0" AND text CONTAINS "vector")""".stripMargin, docs)
      docs.filter(pred).select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    },
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE (lang IN ('en', 'de') AND n_chars >= 300)
        |   OR (source = 'src0' AND text LIKE '%vector%')""".stripMargin),

    Query("filter_json", (s, dir) => {
      val ev = Tables.events(s, dir)
      val pred = FilterCompiler.compileJson("k >= 50 AND k < 90", col("props"))
      ev.filter(pred).select(col("event_id"), col("event_type"),
        round(col("value"), 5).as("value"))
    },
      """SELECT event_id, event_type, round(value, 5) AS value FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) >= 50
        |  AND CAST(json_extract_string(props, '$.k') AS DOUBLE) < 90""".stripMargin),

    Query("filter_any_all", (s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("words", split(col("text"), " "))
      val pred = FilterCompiler.compile(
        "ANY(words[*] == 'vector') AND ALL(words[*].length <= 6)", docs)
      docs.filter(pred).select(col("doc_id"), col("lang"), col("n_chars"))
    },
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT *, string_split(text, ' ') AS words FROM documents)
        |WHERE len(list_filter(words, w -> w = 'vector')) > 0
        |  AND len(list_filter(words, w -> NOT (length(w) <= 6))) = 0""".stripMargin),

    Query("knn_filtered", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pred = FilterCompiler.compile("label IN [1, 2, 3]", emb)
      Knn.knn(emb.filter(pred), "embedding", queryVec(s, dir), 10, Knn.Cosine, "vec_id")
        .select(col("vec_id"), col("label"), round(col("dist"), 5).as("dist"))
    },
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, round(d, 5) AS dist FROM (
         |  SELECT vec_id, label, $cosDistSql AS d
         |  FROM embeddings, q WHERE label IN (1, 2, 3))
         |ORDER BY d, vec_id LIMIT 10""".stripMargin),

    Query("embed_text", (s, dir) => {
      Embed.embedSparse(Tables.documents(s, dir), "text", "doc_id", 16)
        .select(col("doc_id"), col("bucket"), round(col("weight"), 5).as("weight"))
    },
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |bc AS (SELECT doc_id,
        |         CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 16 AS bucket,
        |         count(*) AS c
        |       FROM tok GROUP BY 1, 2),
        |nrm AS (SELECT doc_id, sqrt(sum(c * c)) AS nrm FROM bc GROUP BY doc_id)
        |SELECT doc_id, bucket, round(c / nrm, 5) AS weight
        |FROM bc JOIN nrm USING (doc_id)""".stripMargin),

    Query("knn_maxsim", (s, dir) => {
      // late interaction: per-chunk embeddings, per-token query
      // vectors, score = sum of per-token max chunk similarity
      Search.maxsimSearch(Tables.documents(s, dir), "text", "doc_id",
          queryTokens = Seq("vector", "stream", "filter"), k = 10,
          chunkTokens = 32, strideTokens = 16, dim = 16)
        .select(col("doc_id"), col("rank"), round(col("score"), 5).as("score"))
    }, {
      // chunk grid = doc_chunks' CTE at (32, 16); chunk embeddings =
      // embed_text's bucket/nrm machinery; each single-token query
      // vector is ONE-HOT under the hash embedder (c=1, nrm=1), so
      // dot(chunk, token) = the chunk's weight at the token's bucket
      // — the same double the Spark dot produces (0-terms add exactly)
      val toks = Seq("vector", "stream", "filter")
      val simCols = toks.zipWithIndex.map { case (t, i) =>
        s"coalesce(max(CASE WHEN b.bucket = CAST('0x' || substr(md5('$t'), 1, 15) AS BIGINT) % 16 " +
          s"THEN b.c / n.nrm END), 0.0) AS s$i"
      }.mkString(",\n    ")
      val maxCols = toks.indices.map(i => s"max(s$i) AS m$i").mkString(", ")
      val scoreSum = toks.indices.map(i => s"m$i").mkString(" + ")
      s"""WITH wt AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
         |ch AS (SELECT doc_id,
         |         list_transform(range(0, CAST(floor((len(w) - 1) / 16.0) AS INT) + 1),
         |           i -> array_to_string(w[CAST(i * 16 + 1 AS INT) : CAST(i * 16 + 32 AS INT)], ' ')) AS chunks
         |       FROM wt),
         |ex AS (SELECT doc_id, unnest(range(len(chunks))) AS cid, chunks FROM ch),
         |tok AS (SELECT doc_id, cid,
         |          unnest(string_split(chunks[CAST(cid AS INT) + 1], ' ')) AS t FROM ex),
         |bc AS (SELECT doc_id, cid,
         |         CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 16 AS bucket,
         |         count(*) AS c
         |       FROM tok GROUP BY 1, 2, 3),
         |nrm AS (SELECT doc_id, cid, sqrt(sum(c * c)) AS nrm FROM bc GROUP BY 1, 2),
         |sims AS (SELECT b.doc_id, b.cid,
         |    $simCols
         |  FROM bc b JOIN nrm n USING (doc_id, cid) GROUP BY 1, 2),
         |dm AS (SELECT doc_id, $maxCols FROM sims GROUP BY 1),
         |sc AS (SELECT doc_id, $scoreSum AS score FROM dm WHERE $scoreSum > 0)
         |SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
         |       round(score, 5) AS score
         |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
    })
  )
}
