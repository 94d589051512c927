package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{LshForestHit, MultiLshBuckets, TopKAgg}

/** Approximate nearest neighbors via random-hyperplane LSH forests.
  *
  * The reference's ANN index (lshtree.go) is an adaptive in-memory
  * forest of hyperplane splits — a pointer structure that cannot scan.
  * The Spark-native re-expression: L independent plane sets
  * ("tables"), each hashing every row to one bucket (one sign bit per
  * hyperplane), keyed `(table << bits) | bucket`
  * ([[graft.functions.MultiLshBuckets]]). A query probes its own
  * bucket in every table, plus optional multiprobe neighbors, and an
  * approximate search is the exact search ([[Knn]]) over the rows the
  * probe keeps ([[graft.functions.LshForestHit]]). A single-table
  * index is the one-table forest. At 100 TB the keys are parquet
  * partition columns ([[writeForestIndex]]), so a probe is a
  * partition-pruned scan that never touches the rest of the corpus.
  *
  * Hyperplanes are *derived from md5*, not an RNG: plane h, dim d is
  * `(hash64(h + "_" + d) mod 1000) / 1000 - 0.5`. Deterministic across
  * runs, executors, and engines — which keeps ANN oracle-checkable.
  */
object AnnLsh {

  /** 60-bit md5-derived hash of a string — JVM twin of
    * Dedup.hash64 / the DuckDB `CAST('0x'||substr(md5(s),1,15))`. */
  def hash64Local(s: String): Long = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** Deterministic pseudo-random hyperplanes, numPlanes x dim. */
  def planes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim)((h, d) =>
      (hash64Local(s"${h}_${d}") % 1000) / 1000.0 - 0.5)

  /** Bucket id column: bit h set when dot(vec, plane_h) > 0 — the key
    * of the one-table forest, a blocking key for bucketed joins. */
  def bucketCol(vecCol: Column, numPlanes: Int, dim: Int): Column =
    MultiLshBuckets.keys(vecCol, 1, numPlanes, dim).getItem(0)

  /** Batch approximate top-k over the one-table forest, the scale path
    * for query fan-in: queries bucket themselves with the same
    * hyperplanes, broadcast, and equi-join the corpus on bucket, so
    * each query only ever meets its own bucket's rows (the
    * brute-force [[Knn.knnBatch]] meets ALL rows). The per-query top-k
    * is a bounded TopKAgg — the shuffle moves O(buckets-hit x k)
    * rows, not candidates. `queries` carries (qid, qvec). */
  def knnBatch(df: DataFrame, vecCol: String, queries: DataFrame, k: Int,
               numPlanes: Int, dim: Int, metric: Knn.Metric, idCol: String): DataFrame = {
    val indexed = df.withColumn("bucket", bucketCol(col(vecCol), numPlanes, dim))
    val qs = queries.select(col("qid"), col("qvec"),
      bucketCol(col("qvec"), numPlanes, dim).as("bucket"))
    val d = Knn.distCol(metric, col(vecCol), col("qvec"))
    indexed.join(broadcast(qs), "bucket")
      .select(col("qid"), d.as("dist"), col(idCol))
      .groupBy(col("qid"))
      .agg(TopKAgg.topk(col("dist"), col(idCol), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("_pos", "_t")))
      .select(col("qid"), col("_t.id").as(idCol),
        (col("_pos") + 1).as("rank"), col("_t.dist").as("dist"))
  }

  // ---- the forest: L independent tables ----
  //
  // One table reads 1/2^bits of the corpus but misses any neighbor
  // that crosses one of its planes — on cluster-free data that floors
  // 4-plane recall near 0.35. The reference answers from the union of
  // `numTrees` adaptive trees (lshtree.go:88, :283-336 priority-queue
  // descent); here a query probes the union of its L buckets. Recall
  // compounds as 1-(1-p^bits)^L while the probed mass stays
  // ~L/2^bits, so bits trades precision and L buys recall.

  /** Assign every row its L forest keys (one codegen'd pass over the
    * plane matrix — see [[graft.functions.MultiLshBuckets]]). */
  def indexForest(df: DataFrame, vecCol: String, numTables: Int,
                  bitsPerTable: Int, dim: Int): DataFrame =
    df.withColumn("fkeys", MultiLshBuckets.keys(col(vecCol), numTables, bitsPerTable, dim))

  /** The query's L forest keys, collected (one 1-row job). */
  def forestKeys(query: DataFrame, numTables: Int, bitsPerTable: Int,
                 dim: Int): Seq[Long] = {
    val Array(row) = query.select(MultiLshBuckets.keys(col("qvec"), numTables, bitsPerTable, dim).as("k")).collect()
    row.getSeq[Long](0)
  }

  /** Query-directed multiprobe keys (Lv et al. 2007, "Multi-Probe
    * LSH"): table t's probe list is its exact bucket followed by
    * `probes-1` perturbed buckets in increasing sum-of-|margin|
    * order, where a perturbation flips the sign bits whose hyperplane
    * margins are smallest — exactly the buckets a near-boundary
    * neighbor most likely fell into. This is the scan-native analogue
    * of the reference's tree backtracking (lshtree.go:283-336: descend
    * the other side of a split when `|dist-to-hyperplane|` is within
    * the candidate radius). Computed locally from the in-memory query
    * vector — zero extra Spark jobs. Returns numTables*probes keys
    * grouped per table (the layout [[graft.functions.LshForestHit]]
    * expects). */
  def forestProbeKeysLocal(qv: Array[Double], numTables: Int, bitsPerTable: Int,
                           dim: Int, probes: Int): Seq[Long] = {
    // same JVM-wide memoized flat matrix the expressions use —
    // re-deriving numTables*bits*dim md5 strings per query is
    // avoidable constant work (~25k derivations for the 50x8 config)
    val flat = graft.functions.LshPlanes.flat(numTables * bitsPerTable, dim)
    val n = math.min(qv.length, dim)
    val out = Seq.newBuilder[Long]
    var t = 0
    while (t < numTables) {
      val margins = Array.tabulate(bitsPerTable) { j =>
        val base = (t * bitsPerTable + j) * dim
        var acc = 0.0
        var i = 0
        while (i < n) { acc += qv(i) * flat(base + i); i += 1 }
        acc
      }
      var bucket = 0L
      var j = 0
      while (j < bitsPerTable) {
        if (margins(j) > 0.0) bucket |= 1L << j
        j += 1
      }
      val base = (t.toLong << bitsPerTable) | bucket
      out += base
      if (probes > 1) {
        // enumerate perturbation sets in increasing total |margin|
        // via the standard add/shift heap expansion over the
        // ascending-|margin| bit order; sets are kept as
        // descending-position lists so head = max position
        val order = margins.indices.sortBy(j => math.abs(margins(j)))
        val score = order.map(j => math.abs(margins(j)))
        // tie-break equal-score sets lexicographically on their
        // (descending) position lists so emission order for
        // probes >= 3 is fully specified, not heap-order-dependent —
        // the probes = 2 analogue is the ascending-bit sort above
        val pq = scala.collection.mutable.PriorityQueue
          .empty[(Double, List[Int])](Ordering.Tuple2(
            Ordering.Double.TotalOrdering,
            Ordering.Implicits.seqOrdering[List, Int]).reverse)
        pq.enqueue((score(0), List(0)))
        var emitted = 1
        while (emitted < probes && pq.nonEmpty) {
          val (s, set) = pq.dequeue()
          var key = base
          set.foreach(pos => key ^= 1L << order(pos))
          out += key
          emitted += 1
          val mx = set.head
          if (mx + 1 < bitsPerTable) {
            pq.enqueue((s + score(mx + 1), (mx + 1) :: set))
            pq.enqueue((s - score(mx) + score(mx + 1), (mx + 1) :: set.tail))
          }
        }
        // bucket space exhausted (tiny bitsPerTable): repeat the base
        // key so the per-table grouping stays rectangular
        while (emitted < probes) { out += base; emitted += 1 }
      }
      t += 1
    }
    out.result()
  }

  /** The radius probe of a one-table index: the query's bucket, then
    * every bucket at Hamming distance 1 (one sign bit flipped) —
    * `bitsPerTable + 1` keys for one table, in [[LshForestHit]]'s
    * layout. */
  def hammingProbeKeysLocal(qv: Array[Double], bitsPerTable: Int, dim: Int): Seq[Long] = {
    val bucket = forestProbeKeysLocal(qv, 1, bitsPerTable, dim, 1).head
    bucket +: (0 until bitsPerTable).map(h => bucket ^ (1L << h))
  }

  /** [[forestProbeKeysLocal]] over a 1-row (qvec) frame. */
  def forestProbeKeys(query: DataFrame, numTables: Int, bitsPerTable: Int,
                      dim: Int, probes: Int): Seq[Long] = {
    val Array(row) = query.select(col("qvec").cast("array<double>")).collect()
    forestProbeKeysLocal(row.getSeq[Double](0).toArray,
      numTables, bitsPerTable, dim, probes)
  }

  /** Forest approximate top-k: the exact [[Knn.knn]] over the rows in
    * any of the query's L buckets (any-table agreement). The probe
    * predicate is a single early-exit expression on the scan — no
    * join, no signature column to duplicate. `probes` > 1
    * adds query-directed multiprobe: each table also probes the
    * `probes-1` lowest-|margin| bit flips, buying recall at
    * ~probes/2^bits extra mass per table — the sweep-measured frontier
    * beats adding tables at equal mass (see SURVEY §4). */
  def knnForest(df: DataFrame, vecCol: String, query: DataFrame, k: Int,
                numTables: Int, bitsPerTable: Int, dim: Int,
                metric: Knn.Metric, idCol: String, probes: Int = 1): DataFrame = {
    val keys = forestProbeKeys(query, numTables, bitsPerTable, dim, probes)
    Knn.knn(df.filter(LshForestHit.hit(col(vecCol), keys, bitsPerTable, dim, probes)),
      vecCol, query, k, metric, idCol)
  }

  /** Forest radius search: the exact [[Knn.radius]] over the rows in
    * any of the query's L buckets. Returns a subset of the exact
    * radius result (bucketing can miss), touching only the probed
    * fraction of the corpus. */
  def radiusForest(df: DataFrame, vecCol: String, query: DataFrame, r: Double,
                   numTables: Int, bitsPerTable: Int, dim: Int,
                   metric: Knn.Metric, probes: Int = 1): DataFrame = {
    val keys = forestProbeKeys(query, numTables, bitsPerTable, dim, probes)
    Knn.radius(df.filter(LshForestHit.hit(col(vecCol), keys, bitsPerTable, dim, probes)),
      vecCol, query, r, metric)
  }

  /** Persist the forest as an ID index: one (id, fkey) row per table
    * per vector, partitioned by fkey — each forest bucket becomes a
    * parquet partition of IDS ONLY. Vectors stay in the base table,
    * stored once; the index costs L longs per vector, the same shape
    * as the reference's per-tree leaf id lists (lshtree.go). This is
    * the 100 TB layout: a probe is L partition-pruned directory reads,
    * not a corpus scan. */
  def writeForestIndex(df: DataFrame, vecCol: String, idCol: String,
                       numTables: Int, bitsPerTable: Int, dim: Int,
                       path: String): Unit = {
    indexForest(df, vecCol, numTables, bitsPerTable, dim)
      .select(col(idCol), explode(col("fkeys")).as("fkey"))
      .write.mode("overwrite").partitionBy("fkey").parquet(path)
    IndexConfig.writeIndexConfig(df.sparkSession, path, forestConfig(
      numTables, bitsPerTable, dim))
  }

  private def forestConfig(numTables: Int, bitsPerTable: Int,
                           dim: Int): Seq[(String, Long)] =
    Seq("num_tables" -> numTables.toLong,
      "bits_per_table" -> bitsPerTable.toLong, "dim" -> dim.toLong)

  /** Append NEW rows to a [[writeForestIndex]] table (ingest path).
    * Deletes go through [[IndexMaintenance.appendTombstones]]; a
    * changed vector under an existing id needs compaction first (see
    * IndexMaintenance scaladoc). */
  def appendForestIndex(df: DataFrame, vecCol: String, idCol: String,
                        numTables: Int, bitsPerTable: Int, dim: Int,
                        path: String): Unit = {
    // appending rows hashed under DIFFERENT parameters would corrupt
    // the index silently (mixed key spaces in one table) — the worst
    // of the mismatch family, so it fails fast too (ADVICE r11)
    IndexConfig.validateIndexConfig(df.sparkSession, path, forestConfig(
      numTables, bitsPerTable, dim))
    indexForest(df, vecCol, numTables, bitsPerTable, dim)
      .select(col(idCol), explode(col("fkeys")).as("fkey"))
      .write.mode("append").partitionBy("fkey").parquet(path)
  }

  /** Forest top-k against a [[writeForestIndex]] table: read the
    * query's L key partitions (pruned at planning time), dedup the
    * candidate ids, join the base table for exact scoring. Touches
    * candidate-mass vectors instead of hashing the whole corpus —
    * the probe cost a 1000-executor deployment needs. */
  def knnForestIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                       df: DataFrame, vecCol: String, query: DataFrame, k: Int,
                       numTables: Int, bitsPerTable: Int, dim: Int,
                       metric: Knn.Metric, idCol: String, probes: Int = 1): DataFrame = {
    IndexConfig.validateIndexConfig(spark, indexPath, forestConfig(
      numTables, bitsPerTable, dim))
    // multiprobe against the same persisted index: the extra keys are
    // just more pruned partitions to read — the index (L longs/row)
    // does not grow with probes, which is the multiprobe win: the
    // sweep-measured (8 bits, 50 tables, 2 probes) point sits on the
    // (8, 100, 1) recall/mass frontier with HALF the index
    val keys = forestProbeKeys(query, numTables, bitsPerTable, dim, probes)
    // tombstoned ids (deleted docs) must never surface from the index
    val cand = IndexMaintenance.dropTombstoned(spark, indexPath,
      spark.read.parquet(indexPath).filter(col("fkey").isin(keys: _*)), idCol)
      .select(col(idCol)).distinct()
    df.join(cand, idCol)
      .crossJoin(broadcast(query))
      .withColumn("dist", Knn.distCol(metric, col(vecCol), col("qvec")))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
      .drop("qvec")
  }

  /** Batch forest top-k — the many-query twin of [[knnForest]] and
    * the scale path for query fan-in. Corpus rows explode to (id,
    * fkey) pairs ONLY (L longs per row — vectors are never
    * duplicated); queries explode their own L keys and broadcast; the
    * equi-join on fkey yields (qid, id) candidates, deduped BEFORE
    * any vector is touched, then one id-join attaches vectors for
    * exact scoring and a bounded TopKAgg keeps the shuffle at
    * O(queries x k). `queries` carries (qid, qvec). */
  def knnForestBatch(df: DataFrame, vecCol: String, queries: DataFrame, k: Int,
                     numTables: Int, bitsPerTable: Int, dim: Int,
                     metric: Knn.Metric, idCol: String): DataFrame = {
    val corpusKeys = indexForest(df, vecCol, numTables, bitsPerTable, dim)
      .select(col(idCol), explode(col("fkeys")).as("fkey"))
    val queryKeys = queries.select(col("qid"),
      explode(MultiLshBuckets.keys(col("qvec"), numTables, bitsPerTable, dim)).as("fkey"))
    val cand = corpusKeys.join(broadcast(queryKeys), "fkey")
      .select(col("qid"), col(idCol)).distinct()
    scoreCandidates(cand, df, vecCol, queries, k, metric, idCol)
  }

  /** Batch forest top-k against a [[writeForestIndex]] table: the
    * corpus was hashed ONCE at index time; a batch probe filters the
    * id index to the union of all queries' keys (static partition
    * pruning — the key list is queries x L longs, driver-sized), maps
    * ids to qids via the broadcast key set, and scores exactly. */
  def knnForestBatchIndexed(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, df: DataFrame, vecCol: String,
                            queries: DataFrame, k: Int, numTables: Int,
                            bitsPerTable: Int, dim: Int, metric: Knn.Metric,
                            idCol: String, probes: Int = 1): DataFrame = {
    IndexConfig.validateIndexConfig(spark, indexPath, forestConfig(
      numTables, bitsPerTable, dim))
    val queryKeys =
      if (probes == 1)
        queries.select(col("qid"),
          explode(MultiLshBuckets.keys(col("qvec"), numTables, bitsPerTable, dim)).as("fkey"))
      else {
        // queries are driver-sized (they get broadcast below);
        // compute the multiprobe key sets locally and re-parallelize.
        // qid is read generically and its original type carried into
        // the built frame, so any qid type works in both paths; a
        // null qvec yields no keys (mirrors explode dropping the
        // expression's null output) and null elements count as 0.0
        // (mirrors MultiLshBuckets.nullSafeEval skipping them)
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        import scala.jdk.CollectionConverters._
        val rows = queries.select(col("qid"),
          col("qvec").cast("array<double>")).collect()
        val pairRows = rows.toSeq.flatMap { r =>
          if (r.isNullAt(1)) Seq.empty[Row]
          else {
            val qv = r.getSeq[Any](1).map {
              case null => 0.0
              case d: java.lang.Double => d.doubleValue()
            }.toArray
            forestProbeKeysLocal(qv, numTables, bitsPerTable, dim, probes)
              .map(kk => Row(r.get(0), kk))
          }
        }
        spark.createDataFrame(pairRows.asJava, StructType(Seq(
          queries.schema("qid").copy(name = "qid"),
          StructField("fkey", LongType, nullable = false))))
      }
    val allKeys = queryKeys.select(col("fkey")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val cand = IndexMaintenance.dropTombstoned(spark, indexPath,
      spark.read.parquet(indexPath).filter(col("fkey").isin(allKeys: _*)), idCol)
      .join(broadcast(queryKeys), "fkey")
      .select(col("qid"), col(idCol)).distinct()
    scoreCandidates(cand, df, vecCol, queries, k, metric, idCol)
  }

  /** Self-similarity graph: every row's top-k nearest OTHER rows —
    * the neighbor graph semantic-dedup clustering and k-NN-graph
    * pipelines build over a whole corpus. Candidates come from the
    * forest bucket SELF-join on (id, fkey) pairs (bounded fanout per
    * bucket, the same blocking shape as the forest near-dup pass);
    * self-pairs are excluded before any vector attaches, and a
    * bounded [[graft.functions.TopKAgg]] keeps the final shuffle at
    * O(rows x k). Unlike [[knnForestBatch]] the query side IS the
    * corpus, so nothing is broadcast — both joins are key-partitioned
    * shuffles, which is the only shape that survives when "queries"
    * means every row of a 100 TB table.
    *
    * Canonicalize-first (round 8): d exact copies of a vector share
    * every bucket, so a raw member-level self-join grows candidate
    * pairs O(d^2) — a corpus where every vector has 10 copies ran
    * ~240x slower, not 10x (measured before this change; the
    * canonicalized ratio is recorded in TEXTSCALE_PROBE.json). The reference's
    * adaptive tree handles this by splitting overfull leaves
    * (lshtree.go:88-180) — fixed planes cannot split identical
    * vectors, so the scan-native answer is built in: exact-duplicate
    * vectors collapse to their min-id canonical BEFORE any blocking
    * (one vector-keyed shuffle), the forest self-join runs on
    * canonicals only, and members inherit their canonical's scored
    * neighbors by expansion. The result is row-identical to the raw
    * formulation: copies carry exactly their canonical's forest keys,
    * so a member pair is a candidate iff its canonicals share a
    * bucket (or coincide), and exact copies share distances. Own-group
    * distance is computed per canonical with the same `distCol(v, v)`
    * expression the raw plan would evaluate — no `lit(0.0)` shortcut,
    * so float behavior is bit-identical. */
  def similarityJoin(df: DataFrame, vecCol: String, idCol: String, k: Int,
                     numTables: Int, bitsPerTable: Int, dim: Int,
                     metric: Knn.Metric,
                     bucketCap: Option[Int] = None): DataFrame =
    selfJoinTopK(df, vecCol, idCol, k, numTables, bitsPerTable, dim, metric,
      band = None, bucketCap = bucketCap)

  /** Optional per-(table, bucket) occupancy cap for the forest
    * self-joins (VERDICT r14 #7): with `bitsPerTable` fixed, one hot
    * bucket holding m canonicals contributes m² candidate pairs — the
    * benign-at-sf1 67.8× mine_triplets geometry is UNBOUNDED in the
    * adversarial limit (a copy-heavy 100 TB corpus concentrating one
    * bucket). The cap keeps only the `cap` lowest-md5-rank canonicals
    * per forest key (rank = hash64 of "fkey_cid", id tie-break — a
    * pure function of the key frame, so the same members survive in
    * any partitioning), bounding any bucket at cap² pairs. OFF by
    * default: capping is a recall trade (a canonical evicted from a
    * hot bucket can still pair through its other `numTables − 1`
    * tables — AnnSpec pins recall on the graded geometry).
    *
    * Shape (VERDICT r15 #4): a `row_number` window partitioned by
    * fkey would funnel the hot bucket the cap exists for into ONE
    * task's sort; the bounded [[graft.functions.LongTopKAgg]] keeps
    * ≤ cap (rank, cid) pairs per bucket per partition MAP-SIDE, so
    * the shuffle moves O(partitions × cap) rows per bucket and no
    * task ever holds a bucket's full occupancy. The long-tuple
    * (rank, _cid) ordering reproduces the window's
    * `ORDER BY rank, _cid` cut exactly — same survivors in any
    * partitioning. Only the (cid, fkey) key frame is touched,
    * never vectors. */
  private def capBuckets(ckeys: DataFrame, cap: Option[Int]): DataFrame =
    cap match {
      case None => ckeys
      case Some(c) =>
        require(c >= 1, s"bucketCap must be >= 1, got $c")
        val cidType = ckeys.schema("_cid").dataType
        val rank = Dedup.hash64(concat_ws("_", col("fkey").cast("string"),
          col("_cid").cast("string")))
        ckeys.groupBy(col("fkey"))
          .agg(graft.functions.LongTopKAgg.topk(rank, col("_cid"), c).as("_kept"))
          .select(explode(col("_kept")).as("_t"), col("fkey"))
          .select(col("_t.id").cast(cidType).as("_cid"), col("fkey"))
    }

  /** Hard-negative mining for contrastive training — per anchor, the
    * k NEAREST neighbors whose distance falls in `(dMin, dMax]`: close
    * enough to be informative negatives, far enough not to be
    * positives/duplicates (the standard in-batch-negatives upgrade;
    * dense-retrieval training recipes like DPR/ANCE are the public
    * anchor). Exact duplicates sit at distance ~0 and fall below
    * `dMin` by construction, so the positives a dedup pass would
    * catch can never leak into the negative set.
    *
    * Same plan as [[similarityJoin]] (canonicalize-first forest
    * blocking, canonical top-k before expansion, bounded TopKAgg) with
    * the band filter applied at scoring time — the filter tightens the
    * candidate frame BEFORE the top-k aggregates, it never widens
    * anything. Output: (qid, idCol, rank, dist), nearest-in-band
    * first. */
  def hardNegatives(df: DataFrame, vecCol: String, idCol: String, k: Int,
                    numTables: Int, bitsPerTable: Int, dim: Int,
                    metric: Knn.Metric, dMin: Double, dMax: Double,
                    bucketCap: Option[Int] = None): DataFrame = {
    require(dMin < dMax, s"need dMin < dMax, got ($dMin, $dMax]")
    selfJoinTopK(df, vecCol, idCol, k, numTables, bitsPerTable, dim, metric,
      band = Some((dMin, dMax)), bucketCap = bucketCap)
  }

  /** Contrastive-training TRIPLET mining — the (anchor, positive,
    * hard negative) rows an embedding fine-tune consumes (the
    * DPR/ANCE data shape): per anchor, its nearest in-band positive
    * (distance in `(0, dPos]` — a near-dup, never a byte-identical
    * vector, which carries no training signal) crossed with its
    * `kNeg` nearest hard negatives (distance in `(dNegMin, dNegMax]`,
    * the [[hardNegatives]] band). Anchors lacking either side yield
    * no triplet — mining, not labeling.
    *
    * Scale shape: ONE [[similarityJoin]]-style canonicalize-first
    * forest pass serves BOTH bands — the candidate frame and the
    * distance projection are computed once, and each band is a
    * NULL-gate on its own TopKAgg INPUT inside the shared aggregate
    * (the selfJoinTopK no-Filter rule: out-of-band rows die inside
    * the aggregate without re-deriving the distance). The first cut
    * of this operator ran the forest pass twice (once per band); at
    * the sf1 probe the doubled candidate working set fell off the
    * executor-memory cliff (143x the sf0.1 time, GC thrash) — the
    * single-pass shape is not an optimization but the difference
    * between scaling and not. The final join keys on the anchor id
    * over frames already bounded at ≤ 1 and ≤ kNeg rows per
    * anchor. */
  def mineTriplets(df: DataFrame, vecCol: String, idCol: String, kNeg: Int,
                   numTables: Int, bitsPerTable: Int, dim: Int,
                   metric: Knn.Metric, dPos: Double, dNegMin: Double,
                   dNegMax: Double, bucketCap: Option[Int] = None): DataFrame = {
    require(dPos > 0 && dPos <= dNegMin && dNegMin < dNegMax,
      s"need 0 < dPos <= dNegMin < dNegMax, got ($dPos, $dNegMin, $dNegMax)")
    val base = df.select(col(idCol), col(vecCol))
    val groups = base.groupBy(col(vecCol))
      .agg(min(col(idCol)).as("_cid"), collect_list(col(idCol)).as("_mids"))
    val members = groups.select(col("_cid"), explode(col("_mids")).as(idCol))
    val canon = groups
      .select(col("_cid"), col(vecCol), size(col("_mids")).as("_gsz"))
    val ckeys = capBuckets(
      indexForest(canon, vecCol, numTables, bitsPerTable, dim)
        .select(col("_cid"), explode(col("fkeys")).as("fkey")), bucketCap)
    val ccand = ckeys
      .join(ckeys.select(col("_cid").as("_cq"), col("fkey")), "fkey")
      .filter(col("_cid") =!= col("_cq"))
      .select(col("_cq"), col("_cid")).distinct()
    val cvec = canon.select(col("_cid"), col(vecCol))
    val cscored = ccand
      .join(cvec, Seq("_cid"))
      .join(cvec.select(col("_cid").as("_cq"), col(vecCol).as("_qv")), Seq("_cq"))
      .select(col("_cq"), col("_cid"),
        Knn.distCol(metric, col(vecCol), col("_qv")).as("dist"))
    def gPos(d: Column): Column = when(d > 0.0 && d <= dPos, d)
    def gNeg(d: Column): Column = when(d > dNegMin && d <= dNegMax, d)
    // canonical-level top-k per band, both from the ONE scored frame
    val ctops = cscored.groupBy(col("_cq")).agg(
      TopKAgg.topk(gPos(col("dist")), col("_cid"), 1).as("_ctp"),
      TopKAgg.topk(gNeg(col("dist")), col("_cid"), kNeg).as("_ctn"))
    val qm = members.select(col(idCol).as("qid"), col("_cid").as("_cq"))
    val im = members.select(col(idCol).as("_mid"), col("_cid"))
    val selfD = canon.filter(col("_gsz") > 1)
      .select(col("_cid"),
        Knn.distCol(metric, col(vecCol), col(vecCol)).as("dist"))
    // BOTH bands in ONE member-level pass (r20 optimization round,
    // guide §2.4): the r19 shape ran an `arm` chain per band — each
    // exploding its canonical top-k, expanding members through the
    // same qm⋈im join pair, and re-aggregating by anchor — then
    // re-joined the two ≤1/≤kNeg-row-per-anchor results on anchor_id
    // (two full member-expansion join chains + three anchor-keyed
    // exchanges where one suffices). Here the positive and negative
    // canonical top-k entries ride ONE tagged frame (a pos entry
    // carries its distance in _dp, a neg entry in _dn, the other
    // column NULL), the member expansion runs ONCE, and one
    // groupBy(anchor) computes both bounded top-k aggregates —
    // TopKAgg skips NULL inputs, so each aggregate sees exactly the
    // rows its arm saw (same multiset, same (dist, id) ordering
    // contract, bit-identical arrays). The anchors-with-both-sides
    // rule (`pos inner-join neg`) becomes a size()>0 filter on both
    // arrays of the SAME row. The qid =!= _mid filter is the own-pair
    // rule for same-canonical rows and a no-op for cross-canonical
    // rows (distinct canonicals have disjoint member sets).
    val ctBoth = ctops.select(col("_cq"), explode(concat(
        transform(col("_ctp"), t => struct(
          t.getField("dist").as("dist"), t.getField("id").as("id"),
          lit(true).as("_p"))),
        transform(col("_ctn"), t => struct(
          t.getField("dist").as("dist"), t.getField("id").as("id"),
          lit(false).as("_p"))))).as("_t"))
      .select(col("_cq"), col("_t.id").as("_cid"),
        when(col("_t._p"), col("_t.dist")).as("_dp"),
        when(!col("_t._p"), col("_t.dist")).as("_dn"))
    val ownBoth = selfD.select(col("_cid").as("_cq"), col("_cid"),
      gPos(col("dist")).as("_dp"), gNeg(col("dist")).as("_dn"))
    val tops = ctBoth.unionByName(ownBoth)
      .join(qm, Seq("_cq")).join(im, Seq("_cid"))
      .filter(col("qid") =!= col("_mid"))
      .groupBy(col("qid"))
      .agg(TopKAgg.topk(col("_dp"), col("_mid"), 1).as("_tp"),
        TopKAgg.topk(col("_dn"), col("_mid"), kNeg).as("_tn"))
    tops.filter(size(col("_tp")) > 0 && size(col("_tn")) > 0)
      .select(col("qid").as("anchor_id"),
        element_at(col("_tp"), 1).getField("id").as("pos_id"),
        element_at(col("_tp"), 1).getField("dist").as("pos_dist"),
        posexplode(col("_tn")).as(Seq("_pos", "_t")))
      .select(col("anchor_id"), col("pos_id"), col("pos_dist"),
        col("_t.id").as("neg_id"), (col("_pos") + 1).as("neg_rank"),
        col("_t.dist").as("neg_dist"))
  }

  /** Diagnostic: the distinct canonical candidate-pair count the
    * forest blocking of [[similarityJoin]] / [[hardNegatives]] /
    * [[mineTriplets]] scores for this geometry — the ONE number that
    * sets those operators' cost (each candidate pair is one distance
    * evaluation feeding the bounded top-k aggregates). A probe that
    * times those operators across scales should report this count
    * alongside the wall time: a super-linear time ratio with a
    * matching candidate ratio is bucket-occupancy geometry (re-tune
    * `bitsPerTable`), not an execution regression. AnnSpec pins the
    * count against an independently-computed shared-bucket join;
    * SURVEY §4's mine_triplets sf1 band records it. */
  def forestCandidatePairs(df: DataFrame, vecCol: String, idCol: String,
                           numTables: Int, bitsPerTable: Int,
                           dim: Int, bucketCap: Option[Int] = None): Long = {
    val base = df.select(col(idCol), col(vecCol))
    val canon = base.groupBy(col(vecCol)).agg(min(col(idCol)).as("_cid"))
    val ckeys = capBuckets(
      indexForest(canon, vecCol, numTables, bitsPerTable, dim)
        .select(col("_cid"), explode(col("fkeys")).as("fkey")), bucketCap)
    ckeys
      .join(ckeys.select(col("_cid").as("_cq"), col("fkey")), "fkey")
      .filter(col("_cid") =!= col("_cq"))
      .select(col("_cq"), col("_cid")).distinct()
      .count()
  }

  private def selfJoinTopK(df: DataFrame, vecCol: String, idCol: String, k: Int,
                           numTables: Int, bitsPerTable: Int, dim: Int,
                           metric: Knn.Metric,
                           band: Option[(Double, Double)],
                           bucketCap: Option[Int] = None): DataFrame = {
    // the band is applied as a NULL-gate INSIDE the distance
    // projection, never as a Filter node: a filter on the dist
    // attribute gets pushed below the projection and into the join
    // condition, substituting the full 64-dim distance expression
    // into every predicate — measured 2x the whole query (the
    // distance evaluated up to 3x per candidate). TopKAgg skips null
    // inputs, so out-of-band rows drop at the aggregate without a
    // single extra distance evaluation; within one projection the
    // repeated subtree is codegen-CSE'd.
    def gate(d: Column): Column = band match {
      case Some((lo, hi)) => when(d > lo && d <= hi, d)
      case None => d
    }
    val base = df.select(col(idCol), col(vecCol))
    // one vector-keyed agg (map-side partial min; a window would sort
    // and ship every row) — groups are (canonical id, member ids, vec)
    val groups = base.groupBy(col(vecCol))
      .agg(min(col(idCol)).as("_cid"), collect_list(col(idCol)).as("_mids"))
    val members = groups.select(col("_cid"), explode(col("_mids")).as(idCol))
    val canon = groups
      .select(col("_cid"), col(vecCol), size(col("_mids")).as("_gsz"))
    // forest blocking over canonicals only — bounded per-bucket fanout
    val ckeys = capBuckets(
      indexForest(canon, vecCol, numTables, bitsPerTable, dim)
        .select(col("_cid"), explode(col("fkeys")).as("fkey")), bucketCap)
    val ccand = ckeys
      .join(ckeys.select(col("_cid").as("_cq"), col("fkey")), "fkey")
      .filter(col("_cid") =!= col("_cq"))
      .select(col("_cq"), col("_cid")).distinct()
    val cvec = canon.select(col("_cid"), col(vecCol))
    val cscored = ccand
      .join(cvec, Seq("_cid"))
      .join(cvec.select(col("_cid").as("_cq"), col(vecCol).as("_qv")), Seq("_cq"))
      .select(col("_cq"), col("_cid"),
        gate(Knn.distCol(metric, col(vecCol), col("_qv"))).as("dist"))
    // canonical-level top-k BEFORE expansion: k canonical neighbors
    // expand to >= k member candidates, so expanding only these keeps
    // the expanded frame at O(members x k) instead of O(members x
    // candidates) — the step that would otherwise re-square on dup
    // groups. (Exactness caveat: an exact-float distance TIE at the
    // canonical k-boundary could order differently than member-level
    // id tie-breaks; real-valued distances tie only for identical
    // vectors, which share a canonical by construction.)
    val ctop = cscored.groupBy(col("_cq"))
      .agg(TopKAgg.topk(col("dist"), col("_cid"), k).as("_ct"))
      .select(col("_cq"), explode(col("_ct")).as("_t"))
      .select(col("_cq"), col("_t.id").as("_cid"), col("_t.dist").as("dist"))
    // expansion: every member of the query group pairs with every
    // member of the surviving neighbor groups at the canonical distance
    val qm = members.select(col(idCol).as("qid"), col("_cid").as("_cq"))
    val im = members.select(col(idCol).as("_mid"), col("_cid"))
    val cross = ctop
      .join(qm, Seq("_cq")).join(im, Seq("_cid"))
      .select(col("qid"), col("_mid"), col("dist"))
    // ... and groups with >1 member pair internally at self-distance
    val selfd = canon.filter(col("_gsz") > 1)
      .select(col("_cid"),
        gate(Knn.distCol(metric, col(vecCol), col(vecCol))).as("dist"))
    val own = selfd
      .join(qm.withColumnRenamed("_cq", "_cid"), Seq("_cid"))
      .join(im, Seq("_cid"))
      .filter(col("qid") =!= col("_mid"))
      .select(col("qid"), col("_mid"), col("dist"))
    cross.unionByName(own)
      .groupBy(col("qid"))
      .agg(TopKAgg.topk(col("dist"), col("_mid"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("_pos", "_t")))
      .select(col("qid"), col("_t.id").as(idCol),
        (col("_pos") + 1).as("rank"), col("_t.dist").as("dist"))
  }

  /** Shared batch tail: attach vectors to (qid, id) candidates, exact
    * distance, bounded per-query top-k. */
  private def scoreCandidates(cand: DataFrame, df: DataFrame, vecCol: String,
                              queries: DataFrame, k: Int, metric: Knn.Metric,
                              idCol: String): DataFrame = {
    val scored = cand
      .join(df.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), Knn.distCol(metric, col(vecCol), col("qvec")).as("dist"),
        col(idCol))
    scored.groupBy(col("qid"))
      .agg(TopKAgg.topk(col("dist"), col(idCol), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("_pos", "_t")))
      .select(col("qid"), col("_t.id").as(idCol),
        (col("_pos") + 1).as("rank"), col("_t.dist").as("dist"))
  }

  /** PercentSearched for a forest probe: union-candidate mass over
    * corpus size. */
  def percentSearchedForest(df: DataFrame, vecCol: String, query: DataFrame,
                            numTables: Int, bitsPerTable: Int, dim: Int,
                            probes: Int = 1): Double = {
    val keys = forestProbeKeys(query, numTables, bitsPerTable, dim, probes)
    percentProbed(df, LshForestHit.hit(col(vecCol), keys, bitsPerTable, dim, probes))
  }

  /** PercentSearched of a probe — the reference's
    * `SearchResults.PercentSearched` contract (collection.go:133,704):
    * the rows `hit` keeps / all rows * 100. One aggregate job (count
    * and conditional count in one pass); 0 on an empty corpus like
    * the reference's NaN guard (collection.go:707). */
  def percentProbed(df: DataFrame, hit: Column): Double = {
    val row = df.agg(count(lit(1)), sum(when(hit, 1L).otherwise(0L))).head()
    // the sum is null over no rows
    percent(row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** `hits` as a percentage of `total` rows; 0 when `total` is 0. */
  def percent(total: Long, hits: Long): Double =
    if (total == 0L) 0.0 else hits.toDouble / total * 100.0
}
