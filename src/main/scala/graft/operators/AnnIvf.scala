package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** IVF (inverted-file) approximate nearest neighbors — the scale path
  * complementing [[AnnLsh]]: a coarse quantizer of `nlist` centroids
  * partitions the corpus into cells; a query ranks centroids and scans
  * only the `nprobe` nearest cells.
  *
  * At 100 TB: cell id is a partition/bucket column; the centroid table
  * (nlist x dim doubles) broadcasts to every executor; a probe reads
  * nprobe/nlist of the data. Centroid training is Lloyd's k-means
  * expressed as DataFrame ops (assign = broadcast join + argmin,
  * update = groupBy mean over exploded dims) — each iteration is two
  * shuffles of (cell, dim) aggregates, never a driver-side loop over
  * rows.
  */
object AnnIvf {

  /** Deterministic seed centroids: the vectors whose id is in
    * `seedIds` (sampling-by-id keeps this engine-reproducible). */
  def seedCentroids(df: DataFrame, vecCol: String, idCol: String,
                    seedIds: Seq[Long]): DataFrame =
    df.filter(col(idCol).isin(seedIds: _*))
      .select(col(idCol).as("cell"), col(vecCol).cast("array<double>").as("centroid"))

  /** Assign each row to its nearest centroid.
    *
    * The centroid table is tiny (nlist x dim — the reference holds it
    * in memory too), so it is collected and unrolled into ONE argmin
    * expression: `least` over (dist, cell) structs, each dist a
    * codegen'd dot product against a literal centroid. Zero joins,
    * zero shuffles — assignment rides the scan, which is the property
    * that makes IVF indexing feasible on a 100 TB corpus. */
  def assign(df: DataFrame, vecCol: String, idCol: String,
             centroids: DataFrame, metric: Knn.Metric): DataFrame = {
    val cents: Array[(Long, Seq[Double])] = centroids
      .select(col("cell").cast("long"), col("centroid").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "assign() needs at least one centroid")
    val best = cents.map { case (cell, cv) =>
      struct(Knn.distCol(metric, col(vecCol), typedlit(cv)).as("d"),
        lit(cell).as("c"))
    }.reduce(least(_, _))
    df.withColumn("_best", best)
      .withColumn("cell", col("_best.c"))
      .withColumn("centroid_dist", col("_best.d"))
      .drop("_best")
  }

  /** One Lloyd iteration: recompute each cell's centroid as the mean
    * of its members (exploded by dimension; two shuffles, all
    * distributed). With `roundDp` set, each mean snaps to a fixed
    * decimal grid — float averaging is summation-order-dependent at
    * the last ulp, so two engines (or two partitionings) can disagree
    * microscopically; rounding to a grid coarser than that noise makes
    * the trained centroids bit-reproducible anywhere (the same trick
    * the PQ codebook plays with md5-total-order sampling). */
  def lloydStep(df: DataFrame, vecCol: String, idCol: String,
                centroids: DataFrame, metric: Knn.Metric,
                roundDp: Option[Int] = None): DataFrame = {
    val mean = avg(col("x"))
    val m = roundDp.map(dp => round(mean, dp)).getOrElse(mean)
    assign(df, vecCol, idCol, centroids, metric)
      .select(col("cell"), posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      .groupBy(col("cell"), col("d"))
      .agg(m.as("m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
      .select(col("cell"), transform(col("dm"), s => s.getField("m")).as("centroid"))
  }

  /** Train centroids: seeds + `iters` Lloyd iterations. The result is
    * MATERIALIZED (nlist × dim — driver-tiny, the reference holds its
    * centroids in memory too) and returned as a local-relation frame:
    * every downstream consumer collects the centroid table (assign's
    * expression unroll, index keying, cell ranking), and without the
    * materialization each of those collects re-runs the final Lloyd
    * job — training must cost exactly `iters` corpus passes, once.
    * `roundDp` (see [[lloydStep]]) pins every iteration's centroids to
    * a decimal grid, making training engine-reproducible. */
  def train(df: DataFrame, vecCol: String, idCol: String, seedIds: Seq[Long],
            iters: Int, metric: Knn.Metric,
            roundDp: Option[Int] = None): DataFrame = {
    var c = seedCentroids(df, vecCol, idCol, seedIds)
    for (_ <- 0 until iters)
      c = lloydStep(df, vecCol, idCol, c, metric, roundDp)
    val spark = df.sparkSession
    val out = c.select(col("cell").cast("long"), col("centroid").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1))
      .toDF("cell", "centroid")
  }

  /** Batch IVF probe: every query vector probes its own nprobe
    * nearest cells in ONE pass over the indexed corpus (the IVF twin
    * of [[AnnLsh.knnForestBatch]] — per-query [[knn]] calls would
    * re-scan the index once per query).
    *
    * Cell ranking happens inside an expression on the query frame —
    * the same centroid-unroll trick [[assign]] uses (array of
    * (dist, cell) structs, sorted, sliced to nprobe), so ranking
    * never shuffles and ties break (dist, cell) exactly like
    * [[rankCells]]. The exploded (qid, cell) probe frame is
    * query-sized; it BROADCASTS onto the cell-partitioned index, and
    * because a corpus row lives in exactly one cell, (qid, id)
    * candidates are already distinct — no dedup barrier (the forest
    * batch needs one; IVF's partition property is the win here). The
    * driver-computed union of probed cells prunes index partitions
    * statically; per-query top-k is a bounded [[graft.functions.
    * TopKAgg]], so the one shuffle moves O(partitions × queries × k)
    * rows. `indexed` is [[assign]] output or a [[writeIndexed]]
    * read; `queries` is (qid, qvec), driver-sized, any qid type. */
  /** The (qid, qvec, cell) probe frame for a query batch: each
    * query's `nprobe` nearest cells by centroid distance, ranked
    * inside ONE expression on the query frame (centroid unroll —
    * zero shuffles, ties break (dist, cell) like [[rankCells]]).
    * Shared by [[knnBatch]] and the nprobe tuning sweep, so the
    * sweep's candidate-cost accounting probes EXACTLY the cells the
    * search does. */
  def probedCells(queries: DataFrame, centroids: DataFrame, nprobe: Int,
                  metric: Knn.Metric): DataFrame =
    probedCellsRanked(queries, centroids, nprobe, metric).drop("cell_rank")

  /** As [[probedCells]] but carrying each probed cell's 1-based rank
    * in the query's centroid-distance order (r19 sweep fusion): a
    * smaller-nprobe probe is exactly `cell_rank <= nprobe` of a wider
    * one, so a probe-width sweep pays ONE index pass at the widest
    * setting and derives the narrower arms map-side. */
  def probedCellsRanked(queries: DataFrame, centroids: DataFrame,
                        nprobe: Int, metric: Knn.Metric): DataFrame = {
    val cents: Array[(Long, Seq[Double])] = centroids
      .select(col("cell").cast("long"), col("centroid").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "probedCells needs at least one centroid")
    require(nprobe > 0 && nprobe <= cents.length,
      s"nprobe must be in [1, ${cents.length}], got $nprobe")
    val ranked = array_sort(array(cents.map { case (cell, cv) =>
      struct(Knn.distCol(metric, col("qvec"), typedlit(cv)).as("d"),
        lit(cell).as("c"))
    }: _*))
    queries
      .select(col("qid"), col("qvec"),
        posexplode(transform(slice(ranked, 1, nprobe), s => s.getField("c")))
          .as(Seq("_cr", "cell")))
      .select(col("qid"), col("qvec"), col("cell"),
        (col("_cr") + 1).as("cell_rank"))
  }

  def knnBatch(indexed: DataFrame, vecCol: String, queries: DataFrame, k: Int,
               centroids: DataFrame, nprobe: Int, metric: Knn.Metric,
               idCol: String): DataFrame = {
    import graft.functions.TopKAgg
    val probed = probedCells(queries, centroids, nprobe, metric)
    // static partition pruning: the probed-cell union is ≤ queries ×
    // nprobe values, collected from the driver-sized query frame
    val cellUnion = probed.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val scored = indexed.select(col("cell"), col(idCol), col(vecCol))
      .filter(col("cell").isin(cellUnion: _*))
      .join(broadcast(probed), Seq("cell"))
      .select(col("qid"),
        Knn.distCol(metric, col(vecCol), col("qvec")).as("dist"), col(idCol))
    scored.groupBy(col("qid"))
      .agg(TopKAgg.topk(col("dist"), col(idCol), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("_pos", "_t")))
      .select(col("qid"), col("_t.id").as(idCol),
        (col("_pos") + 1).as("rank"), col("_t.dist").as("dist"))
  }

  /** Per-cluster profile of an embedding space: assign every vector
    * to its nearest centroid (the zero-shuffle [[assign]] unroll) and
    * roll each cell up to its population, representative (min id —
    * the stable exemplar a UI links to), and majority `labelCol`
    * value (ties to the smallest label). This is the "what is in this
    * embedding space" dashboard a curation run reads before trusting
    * semantic dedup or ANN recall numbers on a new corpus — a cell
    * whose majority label owns most of the cell means the space
    * separates; all-cells-uniform means the embeddings are noise.
    *
    * Scale shape: assignment rides the scan (no join — centroids are
    * unrolled into one argmin expression), then ONE keyed agg to
    * nlist × label cells and a label-majority roll-up over that
    * driver-tiny frame. All outputs are integers (counts, min ids,
    * label picks) — bit-reproducible in any engine. */
  def clusterProfile(df: DataFrame, vecCol: String, idCol: String,
                     labelCol: String, centroids: DataFrame,
                     metric: Knn.Metric): DataFrame = {
    val cellLabel = assign(df, vecCol, idCol, centroids, metric)
      .groupBy(col("cell"), col(labelCol).as("_lbl"))
      .agg(count(lit(1)).as("_n"), min(col(idCol)).as("_rep"))
    // nlist × labels rows: majority label via one more keyed agg —
    // max (count, -label) struct picks most-common, ties to smallest
    cellLabel.groupBy(col("cell"))
      .agg(sum(col("_n")).as("n_vectors"), min(col("_rep")).as("rep_id"),
        max(struct(col("_n").as("n"), (-col("_lbl")).cast("long").as("nl")))
          .as("_top"))
      .select(col("cell"), col("n_vectors"), col("rep_id"),
        (-col("_top.nl")).cast("int").as("top_label"),
        col("_top.n").as("top_label_n"))
  }

  /** Driver-side distance — same sequential double fold as the
    * codegen'd [[graft.functions.Vectors]] columns, used only on the
    * tiny (nlist x dim) centroid table to rank cells without a Spark
    * job per query. */
  private def distLocal(metric: Knn.Metric, a: Array[Double], b: Array[Double]): Double =
    metric match {
      case Knn.Cosine =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        val c = math.min(1.0, math.max(-1.0, dot / (math.sqrt(na) * math.sqrt(nb))))
        math.acos(c) / math.Pi
      case Knn.Euclidean =>
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        math.sqrt(s)
    }

  /** The `nprobe` cells nearest the query, ranked by query-to-centroid
    * distance (ties by cell id). Centroids are nlist rows — collected
    * and ranked on the driver, so probing costs zero Spark jobs. */
  def rankCells(centroids: DataFrame, query: DataFrame, nprobe: Int,
                metric: Knn.Metric): Seq[Long] = {
    val cents = centroids
      .select(col("cell").cast("long"), col("centroid").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val qv = query.select(col("qvec").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    cents.map { case (cell, cv) => (distLocal(metric, qv, cv), cell) }
      .sortBy(identity).take(nprobe).map(_._2).toSeq
  }

  /** Approximate top-k: rank cells by query-to-centroid distance,
    * scan the nprobe nearest cells, exact distance within.
    *
    * This in-memory path re-assigns the corpus per call — fine for
    * ad-hoc exploration, wrong for repeated search at scale. Build
    * once with [[writeIndexed]] and probe with [[knnIndexed]] so each
    * query reads only its nprobe cell partitions. */
  def knn(df: DataFrame, vecCol: String, query: DataFrame, k: Int,
          centroids: DataFrame, nprobe: Int, metric: Knn.Metric,
          idCol: String): DataFrame = {
    val probeCells = rankCells(centroids, query, nprobe, metric)
    val assigned = assign(df, vecCol, idCol, centroids, metric)
    assigned.filter(col("cell").isin(probeCells: _*))
      .crossJoin(broadcast(query))
      .withColumn("dist", Knn.distCol(metric, col(vecCol), col("qvec")))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
      .drop("qvec")
  }

  /** Persist the IVF index: assignment happens ONCE here, and the
    * table lands partitioned by cell — the reference's contract of a
    * search structure built at index time and reused across queries
    * (lshtree.go forest persisted via spanfile.go). At 100 TB each
    * cell is a parquet partition directory, so a probe reads
    * nprobe/nlist of the data instead of re-assigning the corpus. */
  def writeIndexed(df: DataFrame, vecCol: String, idCol: String,
                   centroids: DataFrame, metric: Knn.Metric,
                   path: String): Unit = {
    assign(df, vecCol, idCol, centroids, metric)
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    IndexConfig.writeIndexConfig(df.sparkSession, path,
      Seq("nlist" -> centroids.count(), "metric" -> Knn.metricCode(metric)))
  }

  /** Approximate top-k against a [[writeIndexed]] table: the
    * `cell isin (...)` predicate prunes partitions at planning time
    * (check PartitionFilters in the probe plan) — only the nprobe
    * nearest cells are ever read. */
  def knnIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                 vecCol: String, query: DataFrame, k: Int,
                 centroids: DataFrame, nprobe: Int, metric: Knn.Metric,
                 idCol: String): DataFrame = {
    IndexConfig.validateIndexConfig(spark, path,
      Seq("nlist" -> centroids.count(), "metric" -> Knn.metricCode(metric)))
    val probeCells = rankCells(centroids, query, nprobe, metric)
    IndexMaintenance.dropTombstoned(spark, path,
      spark.read.parquet(path).filter(col("cell").isin(probeCells: _*)), idCol)
      .crossJoin(broadcast(query))
      .withColumn("dist", Knn.distCol(metric, col(vecCol), col("qvec")))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
      .drop("qvec")
  }
}
