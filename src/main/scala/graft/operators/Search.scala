package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TopKAgg

/** Full-text and hybrid retrieval over a document corpus.
  *
  * The reference serves pure vector search (collection.go); a user
  * replacing it with a corpus engine also needs the keyword side —
  * BM25 scoring and the BM25+vector fusion ("hybrid search") every
  * retrieval stack runs. Both are expressed as plain aggregates over
  * the scan:
  *
  *   - term frequencies are per-row array ops (map-side, codegen'd);
  *   - corpus statistics (N, Σdl, df per term) are ONE global
  *     aggregate producing a single row that broadcasts back;
  *   - top-k is a bounded [[graft.functions.TopKAgg]] — partial
  *     aggregation keeps ≤ k rows per partition map-side, so the
  *     only shuffle moves O(partitions × k) rows and there is no
  *     global sort or unpartitioned window anywhere.
  *
  * Determinism: document-length and df sums are integer sums
  * (order-independent); every float derives from those integers in a
  * fixed per-term evaluation order, so scores are reproducible across
  * runs, partitionings, and engines (ties break by id in [[TopKAgg]]).
  */
object Search {

  /** BM25 relevance score per document for a bag of query `terms`
    * (standard Okapi BM25: idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    * saturation k1, length normalization b). Returns (idCol, score);
    * docs matching no term score 0. Term contributions are summed in
    * the given fixed term order. */
  def bm25Scored(df: DataFrame, textCol: String, idCol: String,
                 terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(terms.distinct == terms,
      "duplicate query terms would double-count their contribution")
    val withW = df.select(col(idCol),
      Dedup.words(coalesce(col(textCol), lit(""))).as("_w"))
    val withTf = terms.zipWithIndex.foldLeft(withW) { case (acc, (t, i)) =>
      acc.withColumn(s"_tf$i", size(filter(col("_w"), x => x === lit(t))).cast("double"))
    }.withColumn("_dl", size(col("_w")).cast("long")).drop("_w")
    // corpus stats: one single-row aggregate; dl and df are INTEGER
    // sums, so the stats row is bit-identical however the scan is
    // partitioned
    val stats = withTf.agg(
      count(lit(1)).cast("double").as("_n"),
      sum(col("_dl")).as("_sumdl") +:
        terms.indices.map(i =>
          sum(when(col(s"_tf$i") > 0, 1L).otherwise(0L)).cast("double").as(s"_df$i")): _*)
    val dl = col("_dl").cast("double")
    val avgdl = col("_sumdl").cast("double") / col("_n")
    val score = terms.indices.foldLeft(lit(0.0)) { (acc, i) =>
      val idf = log(lit(1.0) + (col("_n") - col(s"_df$i") + 0.5) / (col(s"_df$i") + 0.5))
      val tf = col(s"_tf$i")
      acc + idf * (tf * lit(k1 + 1.0)) / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / avgdl))
    }
    withTf.crossJoin(broadcast(stats))
      .select(col(idCol), score.as("score"))
  }

  /** Top-k BM25 search: (idCol, rank, score), rank 1 = best, zero
    * scores excluded, score ties broken by id. Global top-k is a
    * bounded aggregate (TopKAgg on negated score), never a global
    * sort. idCol must be integral (long ids). */
  def bm25(df: DataFrame, textCol: String, idCol: String, terms: Seq[String],
           k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scored(df, textCol, idCol, terms, k1, b)
      .filter(col("score") > 0)
      .agg(TopKAgg.topk(-col("score"), col(idCol).cast("long"), k).as("_top"))
      .select(posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("_t.id").as(idCol), (col("_pos") + 1).as("rank"),
        (-col("_t.dist")).as("score"))

  /** BATCH BM25: many queries against the corpus at once — the shape
    * a retrieval service actually runs. [[bm25]] widens per-term tf
    * columns, which works for ONE term set; here the query workload is
    * a FRAME of (qid, term) rows, and the corpus is scanned ONCE for
    * all queries:
    *
    *   - tf: explode words, semi-join the BROADCAST query vocabulary
    *     (everything else drops before the shuffle), one (doc, term)
    *     keyed count carrying dl;
    *   - df/corpus stats: a term-keyed count (vocab-sized, broadcast
    *     back) + the single-row (N, Σdl) agg — integer sums, engine-
    *     exact;
    *   - score: per-(qid, doc) contributions are sorted by term and
    *     folded SEQUENTIALLY (`aggregate` over the sorted array), so
    *     the float sum has one defined order — a plain float `sum()`
    *     agg would be partitioning-dependent;
    *   - top-k per qid: bounded [[TopKAgg]] — ≤ k rows per partition
    *     per query move, no window over all candidates.
    *
    * Queries must not repeat a term within a qid (double-counting). */
  def bm25Batch(df: DataFrame, textCol: String, idCol: String,
                queries: DataFrame, k: Int,
                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val withW = df.select(col(idCol),
      Dedup.words(coalesce(col(textCol), lit(""))).as("_w"))
    val vocab = queries.select(col("term")).distinct()
    val tf = withW
      .select(col(idCol), size(col("_w")).cast("long").as("_dl"),
        explode(col("_w")).as("term"))
      .join(broadcast(vocab), "term")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("double").as("_tf"), first(col("_dl")).as("_dl"))
    val stats = withW.agg(count(lit(1)).cast("double").as("_n"),
      sum(size(col("_w")).cast("long")).as("_sumdl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("_df"))
    val contrib = tf
      .join(broadcast(queries), "term")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("_c",
        log(lit(1.0) + (col("_n") - col("_df") + 0.5) / (col("_df") + 0.5)) *
          (col("_tf") * lit(k1 + 1.0)) /
          (col("_tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("_dl").cast("double") / (col("_sumdl").cast("double") / col("_n")))))
    val scored = contrib.groupBy(col("qid"), col(idCol))
      .agg(array_sort(collect_list(struct(col("term"), col("_c")))).as("_cs"))
      .select(col("qid"), col(idCol),
        aggregate(col("_cs"), lit(0.0), (acc, x) => acc + x.getField("_c")).as("score"))
    scored.filter(col("score") > 0)
      .groupBy(col("qid"))
      .agg(TopKAgg.topk(-col("score"), col(idCol).cast("long"), k).as("_top"))
      .select(col("qid"), posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("qid"), col("_t.id").as(idCol), (col("_pos") + 1).as("rank"),
        (-col("_t.dist")).as("score"))
  }

  /** Persist the BM25 inverted index — the text twin of the ANN
    * index pattern ([[AnnLsh.writeForestIndex]]/[[AnnPq.writeIvfPqIndex]]):
    * one corpus scan produces postings `(term, doc, tf, dl)` stored
    * as parquet PARTITIONED by `term_bucket = hash64(term) mod
    * numBuckets`, plus a one-row stats table (N, Σdl). A query then
    * reads ONLY its terms' bucket partitions (static pruning) — at
    * 100 TB the difference between a keyword search that re-scans the
    * archive and one that reads a few postings partitions. df per
    * term is NOT stored: it is one keyed count over the pruned
    * postings at probe time, so the index never goes stale on its own
    * statistics. */
  def writeTextIndex(df: DataFrame, textCol: String, idCol: String,
                     path: String, numBuckets: Int = 64,
                     positions: Boolean = false): Unit = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val withW = df.select(col(idCol),
      Dedup.words(coalesce(col(textCol), lit(""))).as("_w"))
    // positions=true additionally stores each posting's sorted word
    // offsets — the POSITIONAL index phrase search probes; BM25 probes
    // ignore the extra column, so one index serves both
    val aggs = Seq(count(lit(1)).cast("long").as("tf"),
      first(col("dl")).as("dl")) ++
      (if (positions) Seq(sort_array(collect_list(col("pos"))).as("positions"))
       else Nil)
    withW
      .select(col(idCol), size(col("_w")).cast("long").as("dl"),
        posexplode(col("_w")).as(Seq("pos", "term")))
      .groupBy(col(idCol), col("term"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("term_bucket",
        pmod(Dedup.hash64(col("term")), lit(numBuckets.toLong)))
      .write.mode("overwrite").partitionBy("term_bucket").parquet(path)
    withW.agg(count(lit(1)).as("n_docs"),
        sum(size(col("_w")).cast("long")).as("sum_dl"))
      .write.mode("overwrite").parquet(path + "_stats")
    IndexConfig.writeIndexConfig(df.sparkSession, path,
      Seq("num_buckets" -> numBuckets.toLong,
        "positions" -> (if (positions) 1L else 0L)))
  }

  /** The driver-side twin of [[graft.operators.Dedup.hash64]] (md5
    * hex, first 15 nibbles) — probe-time bucket computation for
    * literal query terms costs zero Spark jobs. */
  private def hash64Local(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)

  /** Top-k BM25 over a [[writeTextIndex]] table: the corpus text is
    * never read — the probe scans the query terms' postings
    * partitions only (`PartitionFilters` on term_bucket, spec-pinned),
    * computes df from them, and folds contributions per doc in sorted
    * term order (the [[bm25Batch]] determinism rule). Scores match
    * the from-scratch computation bit for bit. */
  def bm25Indexed(spark: org.apache.spark.sql.SparkSession, path: String,
                  idCol: String, terms: Seq[String], k: Int, k1: Double = 1.2,
                  b: Double = 0.75, numBuckets: Int = 64,
                  statsFromDocs: Boolean = false): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      "query terms must be non-empty and distinct")
    // a numBuckets mismatch silently prunes to the WRONG partitions
    // (terms look absent) — fail fast against the stored build config
    IndexConfig.validateIndexConfig(spark, path,
      Seq("num_buckets" -> numBuckets.toLong))
    // statsFromDocs: aggregate the streaming build's append-only
    // (id, dl) table — two longs per doc, one narrow scan — instead
    // of the batch build's frozen one-row stats parquet
    val srow =
      if (statsFromDocs)
        spark.read.parquet(path + "_docs")
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
          .collect().head
      else spark.read.parquet(path + "_stats").collect().head
    val nDocs = srow.getLong(0).toDouble
    val avgdl = srow.getLong(1).toDouble / nDocs
    val buckets = terms.map(t => hash64Local(t) % numBuckets).distinct
    // deleted docs drop BEFORE df is counted, so term rarity stays
    // honest against the live corpus; the one-row N/avgdl stats stay
    // index-time until IndexMaintenance.compactIndex + a stats refresh
    // (a few deletes move them negligibly — they are corpus-scale sums)
    val postings = IndexMaintenance.dropTombstoned(spark, path,
      spark.read.parquet(path)
        .filter(col("term_bucket").isin(buckets: _*) &&
          col("term").isin(terms: _*)), idCol)
    val dfreq = postings.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("_df"))
    val contrib = postings.join(broadcast(dfreq), "term")
      .withColumn("_c",
        log(lit(1.0) + (lit(nDocs) - col("_df") + 0.5) / (col("_df") + 0.5)) *
          (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast("double") / lit(avgdl))))
    val scored = contrib.groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("term"), col("_c")))).as("_cs"))
      .select(col(idCol),
        aggregate(col("_cs"), lit(0.0), (acc, x) => acc + x.getField("_c")).as("score"))
    scored.filter(col("score") > 0)
      .agg(TopKAgg.topk(-col("score"), col(idCol).cast("long"), k).as("_top"))
      .select(posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("_t.id").as(idCol), (col("_pos") + 1).as("rank"),
        (-col("_t.dist")).as("score"))
  }

  /** Documents containing the words of `phrase` CONSECUTIVELY, with
    * the exact occurrence count — the quoted-string search BM25's bag
    * of words cannot express ("slow hash batch" as a phrase, not three
    * independent terms).
    *
    * Scale shape: per-term position lists are one (doc, term) keyed
    * agg over posexploded words FILTERED to the phrase's terms before
    * the shuffle (everything else drops map-side); docs missing any
    * term drop at the m-way inner id-join (each side already pruned to
    * one term's postings); the adjacency check is a per-row array
    * predicate — position p starts an occurrence iff term i's list
    * contains p+i for every i. No window, no self-join, no cartesian. */
  def phraseMatches(df: DataFrame, textCol: String, idCol: String,
                    phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least two words")
    val pos = df.select(col(idCol),
        posexplode(Dedup.words(coalesce(col(textCol), lit(""))))
          .as(Seq("_p", "_term")))
      .filter(col("_term").isin(phrase.distinct: _*))
      .groupBy(col(idCol), col("_term"))
      .agg(sort_array(collect_list(col("_p"))).as("_ps"))
    val byTerm = phrase.zipWithIndex.map { case (t, i) =>
      pos.filter(col("_term") === t).select(col(idCol), col("_ps").as(s"_ps$i"))
    }
    phraseTail(byTerm.reduce(_.join(_, Seq(idCol))), idCol, phrase.size)
  }

  /** Top-k phrase search: (idCol, rank, n_occurrences), most
    * occurrences first, ties by id; global top-k is a bounded
    * [[TopKAgg]]. */
  def phraseSearch(df: DataFrame, textCol: String, idCol: String,
                   phrase: Seq[String], k: Int): DataFrame =
    phraseTopK(phraseMatches(df, textCol, idCol, phrase), idCol, k)

  /** Phrase search over a POSITIONAL [[writeTextIndex]] table
    * (`positions = true`): reads only the phrase terms' bucket
    * partitions — the phrase twin of [[bm25Indexed]]. Tombstoned docs
    * never match. */
  def phraseIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                    idCol: String, phrase: Seq[String], k: Int,
                    numBuckets: Int = 64): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least two words")
    IndexConfig.validateIndexConfig(spark, path,
      Seq("num_buckets" -> numBuckets.toLong, "positions" -> 1L))
    val buckets = phrase.distinct.map(t => hash64Local(t) % numBuckets).distinct
    val postings = IndexMaintenance.dropTombstoned(spark, path,
      spark.read.parquet(path)
        .filter(col("term_bucket").isin(buckets: _*) &&
          col("term").isin(phrase.distinct: _*)), idCol)
    require(postings.columns.contains("positions"),
      s"$path was built without positions — writeTextIndex(..., positions = true)")
    val byTerm = phrase.zipWithIndex.map { case (t, i) =>
      postings.filter(col("term") === t)
        .select(col(idCol), col("positions").as(s"_ps$i"))
    }
    phraseTopK(phraseTail(byTerm.reduce(_.join(_, Seq(idCol))), idCol,
      phrase.size), idCol, k)
  }

  /** Shared adjacency count: position p starts an occurrence iff term
    * i's sorted list contains p+i for all i >= 1. */
  private def phraseTail(joined: DataFrame, idCol: String, m: Int): DataFrame = {
    val matched = filter(col("_ps0"), p =>
      (1 until m).map(i => array_contains(col(s"_ps$i"), p + i))
        .reduce(_ && _))
    joined.select(col(idCol), size(matched).cast("long").as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
  }

  private def phraseTopK(matches: DataFrame, idCol: String, k: Int): DataFrame =
    matches
      .agg(TopKAgg.topk(-col("n_occurrences").cast("double"),
        col(idCol).cast("long"), k).as("_top"))
      .select(posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("_t.id").as(idCol), (col("_pos") + 1).as("rank"),
        (-col("_t.dist")).cast("long").as("n_occurrences"))

  /** Late-interaction retrieval (the ColBERT/maxsim scheme, public):
    * documents are split into chunks and embedded PER CHUNK; the
    * query embeds per TOKEN; score(doc) = Σ over query tokens of the
    * MAX chunk similarity — a fine-grained match signal single-vector
    * retrieval flattens away (one off-topic paragraph cannot dilute
    * the paragraph that answers the query).
    *
    * Scale shape: chunking is the zero-shuffle arithmetic grid
    * ([[TextAnalysis.chunkDocs]]); chunk embedding is the
    * deterministic hash-ngram embedder (same documented stub as
    * [[hybridSearch]]'s arm — swap in a model endpoint, the plan is
    * unchanged); per-token similarities are map-side dot products
    * against DRIVER-EMBEDDED token vectors (q tokens × dim doubles
    * ship with the plan, no join); the doc roll-up is ONE keyed agg
    * of q `max()` columns (max is order-independent — float-safe by
    * nature), summed in fixed token order; global top-k is a bounded
    * [[TopKAgg]]. Docs sharing no bucket with any token score 0 and
    * drop. */
  def maxsimSearch(df: DataFrame, textCol: String, idCol: String,
                   queryTokens: Seq[String], k: Int,
                   chunkTokens: Int = 32, strideTokens: Int = 16,
                   dim: Int = 16): DataFrame = {
    require(queryTokens.nonEmpty && queryTokens.distinct == queryTokens,
      "query tokens must be non-empty and distinct")
    // chunk embeddings ride the scan (one map-side expression per
    // chunk); the query tokens embed on the driver with the same kernel
    val base = TextAnalysis.chunkDocs(
        df.select(col(idCol), coalesce(col(textCol), lit("")).as(textCol)),
        textCol, idCol, chunkTokens, strideTokens)
      .select(col(idCol), Embed.embedCol(col("chunk_text"), dim).as("embedding"))
    val qvecs: Seq[Seq[Double]] = queryTokens.map(t => Embed.embedText(t, dim).toSeq)
    val withSims = qvecs.zipWithIndex.foldLeft(base) { case (acc, (qv, i)) =>
      acc.withColumn(s"_sim$i",
        graft.functions.Vectors.dot(col("embedding"), typedlit(qv)))
    }
    val aggs = qvecs.indices.map(i => max(col(s"_sim$i")).as(s"_m$i"))
    val scored = withSims.groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        qvecs.indices.foldLeft(lit(0.0))((acc, i) => acc + col(s"_m$i")).as("score"))
    scored.filter(col("score") > 0)
      .agg(TopKAgg.topk(-col("score"), col(idCol).cast("long"), k).as("_top"))
      .select(posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("_t.id").as(idCol), (col("_pos") + 1).as("rank"),
        (-col("_t.dist")).as("score"))
  }

  /** Hybrid search: reciprocal-rank fusion of BM25 (keyword) and
    * embedding-cosine (semantic) retrieval —
    * rrf = 1/(fusionK + rank_text) + 1/(fusionK + rank_vec), missing
    * ranks contribute 0. Both arms retrieve `poolK` candidates; the
    * fused top-k returns (idCol, rank, rrf_score, rank_text,
    * rank_vec). RRF works on RANKS (integers), so fusion is exactly
    * reproducible even though the two arms' scores live on different
    * scales — the reason every production hybrid stack fuses this way.
    *
    * The semantic arm embeds the corpus with the deterministic
    * hash-ngram embedder ([[Embed.embedDense]] — the documented stand
    * -in for a model endpoint) and scores cosine distance against
    * `queryText`, embedded on the driver ([[Embed.embedText]]); swap
    * in a real embedding column and the plan shape is unchanged. Both
    * arms end in bounded TopKAgg pools of `poolK` rows, so the fusion
    * itself touches ≤ 2·poolK rows — driver-safe at any corpus size. */
  def hybridSearch(df: DataFrame, textCol: String, idCol: String,
                   terms: Seq[String], queryText: String, k: Int,
                   dim: Int = 16, poolK: Int = 20, fusionK: Int = 60): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    // NULL text scores like '' in BOTH arms: bm25Scored coalesces
    // internally, but the embedder drops null-text rows and would
    // silently shrink the vector pool
    val docs = df.select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
    // embed the query on the driver with the SAME kernel/dim as the corpus
    val qvec = Embed.embedText(queryText, dim)
    // BOTH arms end in bounded TopKAgg pools of ≤ poolK rows, so
    // everything downstream of them is model-sized (the AnnIvf.train
    // collect contract). Collect the two pools in ONE union job — the
    // two corpus passes schedule concurrently and back-fill each
    // other's stragglers (guide §2.6) — and run the rank fusion on
    // the ≤ 2·poolK collected rows DRIVER-SIDE: the previous shape
    // re-wrapped each pool as a local relation and fused via a
    // full_outer join + TopKAgg + rank re-attach join, a ~10-job
    // driver-sequential storm of single-task stages (each broadcast
    // exchange is its own job; measured 21 jobs/rep at sf0.1, wall
    // dominated by scheduling, not compute). Arithmetic is identical
    // IEEE ops in identical order: 1.0/(fusionK+rank) per present
    // arm, text part + vec part, top-k by (-rrf, id) ascending — the
    // TopKAgg ordering contract — so rows and hashes are unchanged.
    val textArm = bm25(docs, textCol, idCol, terms, poolK)
      .select(col(idCol).cast("long").as("_id"),
        col("rank").cast("int").as("_rank"), lit(0).as("_arm"))
    val vecArm = Embed.embedDense(docs, textCol, idCol, dim)
      .select(col(idCol),
        Knn.distCol(Knn.Cosine, col("embedding"), array(qvec.map(lit): _*)).as("_d"))
      .agg(TopKAgg.topk(col("_d"), col(idCol).cast("long"), poolK).as("_top"))
      .select(posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("_t.id").as("_id"), (col("_pos") + 1).cast("int").as("_rank"),
        lit(1).as("_arm"))
    val arms = textArm.unionByName(vecArm).collect()
    // ids are unique within a pool for any sane idCol (document ids),
    // but fold with min-rank rather than map-last-wins so a duplicate
    // id could only ever keep its BEST rank, deterministically
    def armRanks(tag: Int): Map[Long, Int] = arms.iterator
      .filter(_.getInt(2) == tag)
      .map(r => r.getLong(0) -> r.getInt(1)).toSeq
      .groupMapReduce(_._1)(_._2)(math.min)
    val tR = armRanks(0)
    val vR = armRanks(1)
    val fused = (tR.keySet ++ vR.keySet).toSeq.map { id =>
      val s = tR.get(id).fold(0.0)(r => 1.0 / (fusionK + r)) +
        vR.get(id).fold(0.0)(r => 1.0 / (fusionK + r))
      (id, s)
    }
    fused.sortBy { case (id, s) => (-s, id) }.take(k)
      .zipWithIndex.map { case ((id, s), i) =>
        (id, i + 1, s, tR.get(id), vR.get(id))
      }
      .toDF(idCol, "rank", "rrf_score", "rank_text", "rank_vec")
  }

  /** "More like this" — per-seed-document top-k most-similar corpus
    * documents by text Jaccard, the related-content / find-the-source
    * retrieval shape (Lucene's MoreLikeThis is the public anchor).
    * Seeds are corpus rows named by `queryIds`; similarity is exact
    * shingle-set Jaccard, but candidate generation is MinHash band
    * blocking — the same family the dedup operators sign with — so
    * the corpus is never all-paired against the seed set.
    *
    * Scale shape: seeds semi-join the corpus (seed-sized); band keys
    * equi-join seed bands × corpus bands (bounded fanout per band
    * bucket); only candidate pairs carry shingle sets to the exact
    * verify; the final top-k is a bounded per-seed [[TopKAgg]] —
    * ≤ k rows per seed per partition survive the map side, no window
    * over candidates. Ranks order (jaccard DESC, doc_id ASC), both
    * integer-derived, so the cutoff reproduces in any engine.
    *
    * Output: (qid, rank, doc_id, jaccard) — seeds with no candidate
    * above `minJaccard` yield no rows (retrieval, not labeling). */
  def moreLikeThis(corpus: DataFrame, textCol: String, idCol: String,
                   queryIds: DataFrame, k: Int, numHashes: Int = 16,
                   bands: Int = 4, shingleN: Int = 3,
                   minJaccard: Double = 0.1): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val rows = numHashes / bands
    val seeds = corpus.join(queryIds.select(col(idCol)), Seq(idCol), "left_semi")
    val cand = Dedup.bandKeys(
        Dedup.minhashSignatures(seeds, textCol, idCol, numHashes, shingleN),
        idCol, "qid", bands, rows)
      .join(Dedup.bandKeys(
        Dedup.minhashSignatures(corpus, textCol, idCol, numHashes, shingleN),
        idCol, "_did", bands, rows), Seq("band", "key"))
      .filter(col("qid") =!= col("_did"))
      .select("qid", "_did").distinct()
    val verified = cand
      .join(Dedup.shingleSets(seeds, textCol, idCol, shingleN)
        .select(col("sid").as("qid"), col("shs").as("_sa")), "qid")
      .join(Dedup.shingleSets(corpus, textCol, idCol, shingleN)
        .select(col("sid").as("_did"), col("shs").as("_sb")), "_did")
      .withColumn("_inter",
        size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .withColumn("jaccard", col("_inter").cast("double") /
        (size(col("_sa")) + size(col("_sb")) - col("_inter")))
      .filter(col("jaccard") >= minJaccard)
    verified.groupBy(col("qid"))
      .agg(TopKAgg.topk(-col("jaccard"), col("_did"), k).as("_top"))
      .select(col("qid"), posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("qid"), (col("_pos") + 1).as("rank"),
        col("_t.id").as(idCol), (-col("_t.dist")).as("jaccard"))
  }

  /** [[moreLikeThis]] over a PERSISTED MinHash index
    * ([[graft.operators.Dedup.writeMinhashIndex]]) — the query-time
    * retrieval shape: at 100 TB the difference between re-signing the
    * archive per seed batch and reading its band keys + candidate
    * hash sets from parquet. Only the SEED side hashes fresh; the
    * corpus contributes zero text scans (the incremental-dedup probe
    * posture, Dedup.incrementalNearDupIndexed). Deleted corpus docs
    * never surface: both index halves anti-join the tombstone set.
    *
    * The index signs with the identical arithmetic as the scan path
    * (the dedup_incremental oracle pins that family), so results
    * equal [[moreLikeThis]] over the indexed corpus — spec-pinned. */
  def moreLikeThisIndexed(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String, seeds: DataFrame,
                          textCol: String, idCol: String, k: Int,
                          numHashes: Int = 16, bands: Int = 4,
                          shingleN: Int = 3,
                          minJaccard: Double = 0.1): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    // probing with parameters the index was not built with would
    // silently produce wrong candidates/ranks — fail fast instead
    IndexConfig.validateIndexConfig(spark, indexPath,
      Seq("num_hashes" -> numHashes.toLong, "bands" -> bands.toLong,
        "shingle_n" -> shingleN.toLong))
    val corpusBands = IndexMaintenance.dropTombstoned(spark, indexPath,
      spark.read.parquet(s"$indexPath/bands").withColumnRenamed(idCol, "_cid"),
      "_cid")
    val corpusSets = IndexMaintenance.dropTombstoned(spark, indexPath,
      spark.read.parquet(s"$indexPath/sets"), "sid")
    val (as, bs) = Dedup.minhashConsts(numHashes)
    val seedSets = Dedup.shingleSets(seeds, textCol, idCol, shingleN)
    val seedSigs = seedSets.filter(size(col("shs")) > 0)
      .select(col("sid").as("qid"),
        graft.functions.SketchExprs.minhashSig(
          col("shs"), as, bs, Dedup.MINHASH_M).as("sig"))
    val seedBands = Dedup.bandKeys(seedSigs, "qid", "qid",
      bands, numHashes / bands)
    // seeds are the small side by construction: band keys and hash
    // sets broadcast onto the index partitions
    val cand = corpusBands.join(broadcast(seedBands), Seq("band", "key"))
      .filter(col("qid") =!= col("_cid"))
      .select(col("qid"), col("_cid")).distinct()
    val ver = cand
      .join(corpusSets.select(col("sid").as("_cid"), col("shs").as("_sb")), "_cid")
      .join(broadcast(seedSets.select(col("sid").as("qid"), col("shs").as("_sa"))),
        "qid")
      .withColumn("_inter",
        size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .withColumn("jaccard", col("_inter").cast("double") /
        (size(col("_sa")) + size(col("_sb")) - col("_inter")))
      .filter(col("jaccard") >= minJaccard)
    ver.groupBy(col("qid"))
      .agg(TopKAgg.topk(-col("jaccard"), col("_cid"), k).as("_top"))
      .select(col("qid"), posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("qid"), (col("_pos") + 1).as("rank"),
        col("_t.id").as(idCol), (-col("_t.dist")).as("jaccard"))
  }
}
