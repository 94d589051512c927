package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge
import graft.functions.{PqAdc, PqEncode}

/** Product-quantized ANN — the memory/scan-width scale path beyond
  * scalar quantization (quantization.go stores 4/8/16-bit codes per
  * DIMENSION; PQ stores one small code per SUBSPACE, so a 64-dim
  * float vector shrinks to m=8 bytes instead of 256 — and search
  * never dequantizes: distance is m table lookups per row).
  *
  * Scale posture (the FAISS IVFADC recipe, public): at 100 TB the
  * exact-kNN bottleneck is vector bytes through the scan. PQ codes
  * cut scan width 16-32×, the ADC scan is a map-side codegen'd
  * expression + TakeOrdered (k-row heap per task — nothing shuffles
  * but k rows per partition), and the optional rerank pass touches
  * full vectors for only the `rerank` survivors via an id semi-join.
  * Codebook and query tables are driver-sized (m·k·dsub doubles) and
  * ship with the serialized plan — no join, no broadcast exchange.
  *
  * The codebook is a deterministic DATA SAMPLE (the k rows winning an
  * md5 total order — kmeans++-style "centroids are data points",
  * engine-reproducible so the DuckDB oracle can rebuild it exactly);
  * [[train]] then runs standard per-subspace Lloyd iterations on top
  * when reconstruction quality matters more than oracle determinism.
  */
object AnnPq {

  /** m subspaces × k centroids × dsub dims, flat:
    * codebook((j*k + c)*dsub + i) = centroid c of subspace j, dim i. */
  case class Model(m: Int, k: Int, dsub: Int, codebook: Array[Double]) {
    def dim: Int = m * dsub
  }

  /** Deterministic sampled codebook: the k rows with the smallest
    * md5(seed_id) hash (ties by id) donate their subvectors as the
    * centroids of every subspace — one TakeOrdered job, k rows
    * collected. The same total order is a 3-line CTE in the oracle. */
  def seedCodebook(df: DataFrame, vecCol: String, idCol: String,
                   m: Int, seed: String, k: Int): Model = {
    val vecs = df
      .select(col(vecCol).cast("array<double>").as("_v"),
        md5(concat(lit(seed + "_"), col(idCol).cast("string"))).as("_h"),
        col(idCol).as("_id"))
      .filter(col("_v").isNotNull)
      .orderBy(col("_h").asc, col("_id").asc)
      .limit(k)
      .select(col("_v")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(vecs.nonEmpty, "empty corpus: cannot build a PQ codebook")
    val dim = vecs.head.length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    val kEff = vecs.length // < k only on corpora smaller than k rows
    val cb = new Array[Double](m * kEff * dsub)
    var c = 0
    while (c < kEff) {
      var j = 0
      while (j < m) {
        var i = 0
        while (i < dsub) {
          cb((j * kEff + c) * dsub + i) = vecs(c)(j * dsub + i)
          i += 1
        }
        j += 1
      }
      c += 1
    }
    Model(m, kEff, dsub, cb)
  }

  def encodeCol(vec: Column, model: Model): Column =
    GraftBridge.toColumn(PqEncode(
      GraftBridge.toExpression(vec.cast("array<double>")),
      model.codebook, model.m, model.k, model.dsub))

  /** Attach the `array<int>` PQ code column — the narrow scan
    * artifact a production pipeline persists (pack with
    * [[graft.functions.BinaryExprs.packCodes]] for byte storage:
    * k ≤ 16 → 4 bits/code, k ≤ 256 → 8). */
  def encode(df: DataFrame, vecCol: String, model: Model,
             outCol: String = "pq_code"): DataFrame =
    df.withColumn(outCol, encodeCol(col(vecCol), model))

  /** The query's m × k subspace-distance table, computed once on the
    * driver: lut(j*k + c) = ‖q_sub(j) − centroid(j,c)‖². */
  def lookupTable(qv: Array[Double], model: Model): Array[Double] = {
    val lut = new Array[Double](model.m * model.k)
    var j = 0
    while (j < model.m) {
      var c = 0
      while (c < model.k) {
        val base = (j * model.k + c) * model.dsub
        var acc = 0.0
        var i = 0
        while (i < model.dsub) {
          val idx = j * model.dsub + i
          val x = if (idx < qv.length) qv(idx) else 0.0
          val d = x - model.codebook(base + i)
          acc += d * d
          i += 1
        }
        lut(j * model.k + c) = acc
        c += 1
      }
      j += 1
    }
    lut
  }

  def adcCol(codes: Column, lut: Array[Double], k: Int): Column =
    GraftBridge.toColumn(PqAdc(GraftBridge.toExpression(codes), lut, k))

  private def queryVector(query: DataFrame): Array[Double] = {
    val Array(row) = query.select(col("qvec").cast("array<double>")).collect()
    row.getSeq[Double](0).toArray
  }

  /** ADC top-k: a pure map-side distance column over the CODE column
    * (vectors never read) + TakeOrdered. `dist_adc` approximates the
    * squared L2 distance to the query. */
  def knnAdc(coded: DataFrame, codesCol: String, query: DataFrame, k: Int,
             model: Model, idCol: String): DataFrame = {
    val lut = lookupTable(queryVector(query), model)
    coded.withColumn("dist_adc", adcCol(col(codesCol), lut, model.k))
      // a row with no code (null vector) has no distance; without the
      // filter Spark's ascending NULLS FIRST would rank it on top
      .filter(col("dist_adc").isNotNull)
      .orderBy(col("dist_adc").asc, col(idCol).asc)
      .limit(k)
  }

  /** Production shape: ADC scan keeps `rerank` candidates (narrow
    * codes-only read), then EXACT distances on just those rows pick
    * the final k — recall of near-exact search at the scan cost of
    * the code column. */
  def knnRerank(coded: DataFrame, vecCol: String, codesCol: String,
                query: DataFrame, k: Int, rerank: Int, model: Model,
                metric: Knn.Metric, idCol: String): DataFrame = {
    val cand = knnAdc(coded, codesCol, query, rerank, model, idCol)
    cand.crossJoin(broadcast(query))
      .withColumn("dist", Knn.distCol(metric, col(vecCol), col("qvec")))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
      .drop("qvec", "dist_adc")
  }

  /** Bits per stored code for a k-centroid codebook (the
    * [[graft.functions.PackCodes]] tiers). */
  def bitsFor(k: Int): Int = if (k <= 16) 4 else if (k <= 256) 8 else 16

  /** Persist the IVFPQ index — the two scale levers COMPOSED, which
    * is the standard billion-scale layout (FAISS IVFADC): `cell` is a
    * partition column (a probe READS nprobe/nlist of the data —
    * static pruning) and the payload per row is id + the PACKED code
    * (4 bits/code at k ≤ 16: a 64-dim float row stores 4 bytes, 64×
    * narrower). Full vectors do NOT live in the index; rerank joins
    * them from the base table by id when needed. */
  def writeIvfPqIndex(df: DataFrame, vecCol: String, idCol: String,
                      centroids: DataFrame, metric: Knn.Metric,
                      model: Model, path: String,
                      keepCols: Seq[String] = Nil): Unit = {
    val bits = bitsFor(model.k)
    val cols = (col(idCol) +: keepCols.map(col)) ++ Seq(col("cell"),
      graft.functions.BinaryExprs.packCodes(
        encodeCol(col(vecCol), model), bits).as("pq_packed"))
    AnnIvf.assign(df, vecCol, idCol, centroids, metric)
      .select(cols: _*)
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    IndexConfig.writeIndexConfig(df.sparkSession, path, pqConfig(model, residual = false))
  }

  /** Sidecar params for a PQ index: codes packed under a different
    * (m, k, dsub) — or plain codes probed as residual codes — decode
    * to garbage distances silently, so the probes fail fast instead. */
  private def pqConfig(model: Model, residual: Boolean): Seq[(String, Long)] =
    Seq("pq_m" -> model.m.toLong, "pq_k" -> model.k.toLong,
      "pq_dsub" -> model.dsub.toLong,
      "residual" -> (if (residual) 1L else 0L))

  /** Approximate top-k against a [[writeIvfPqIndex]] table: rank
    * cells on the driver (zero jobs), prune to nprobe partitions,
    * unpack + ADC on the narrow code scan, TakeOrdered. The corpus'
    * vectors are never read — the probe touches nprobe/nlist of a
    * table that is itself ~64× narrower than the vector store. */
  def knnIvfPq(spark: org.apache.spark.sql.SparkSession, path: String,
               query: DataFrame, k: Int, centroids: DataFrame, nprobe: Int,
               metric: Knn.Metric, model: Model, idCol: String): DataFrame = {
    IndexConfig.validateIndexConfig(spark, path, pqConfig(model, residual = false))
    val probeCells = AnnIvf.rankCells(centroids, query, nprobe, metric)
    val lut = lookupTable(queryVector(query), model)
    val bits = bitsFor(model.k)
    IndexMaintenance.dropTombstoned(spark, path,
      spark.read.parquet(path).filter(col("cell").isin(probeCells: _*)), idCol)
      .withColumn("dist_adc", adcCol(
        graft.functions.BinaryExprs.unpackCodes(col("pq_packed"), bits, model.m),
        lut, model.k))
      .filter(col("dist_adc").isNotNull)
      .orderBy(col("dist_adc").asc, col(idCol).asc)
      .limit(k)
  }

  /** Per-row residual r = v − centroid(cell) as a Column: the cell's
    * centroid is unrolled into a literal CASE chain (nlist branches,
    * driver-sized), so the subtraction rides the scan — no join, no
    * shuffle, same zero-shuffle shape as [[AnnIvf.assign]]. */
  def residualCol(vec: Column, cellCol: Column,
                  centroids: DataFrame): Column = {
    val cents: Array[(Long, Seq[Double])] = centroids
      .select(col("cell").cast("long"), col("centroid").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "residualCol needs at least one centroid")
    val v = vec.cast("array<double>")
    val cases = cents.map { case (cell, cv) =>
      (cellCol === cell) -> zip_with(v, typedlit(cv), (a, b) => a - b)
    }
    cases.tail.foldLeft(when(cases.head._1, cases.head._2)) {
      case (acc, (cond, value)) => acc.when(cond, value)
    }
  }

  /** PQ codebook trained on RESIDUALS (v − centroid(cell)) — the true
    * FAISS IVFADC recipe: when the cells capture cluster structure,
    * within-cell residuals have far smaller spread than raw vectors,
    * so the same m×k codebook spends its centroids on a tighter
    * distribution and the ADC error drops (measured ≥10× on clustered
    * data, AnnPqSpec). On structure-free uniform data residuals
    * against a data-point centroid do NOT shrink — residual encoding
    * buys nothing there, exactly as IVF itself buys nothing; the raw
    * [[writeIvfPqIndex]] variant is the right default for such data.
    * Same md5-total-order data sample as [[seedCodebook]], so the
    * DuckDB oracle can rebuild it bit-exactly. */
  def seedResidualCodebook(df: DataFrame, vecCol: String, idCol: String,
                           centroids: DataFrame, metric: Knn.Metric,
                           m: Int, seed: String, k: Int): Model = {
    val assigned = AnnIvf.assign(df, vecCol, idCol, centroids, metric)
      .withColumn("_rv", residualCol(col(vecCol), col("cell"), centroids))
    seedCodebook(assigned, "_rv", idCol, m, seed, k)
  }

  /** [[writeIvfPqIndex]] with residual encoding: the packed code
    * quantizes r = v − centroid(cell) under a residual-trained
    * `model`. Same index layout (cell-partitioned, id + packed code,
    * no vector column); the probe must be [[knnIvfPqResidual]], which
    * builds one lookup table per probed cell. */
  def writeIvfPqResidualIndex(df: DataFrame, vecCol: String, idCol: String,
                              centroids: DataFrame, metric: Knn.Metric,
                              model: Model, path: String,
                              keepCols: Seq[String] = Nil): Unit = {
    val bits = bitsFor(model.k)
    val assigned = AnnIvf.assign(df, vecCol, idCol, centroids, metric)
      .withColumn("_rv", residualCol(col(vecCol), col("cell"), centroids))
    val cols = (col(idCol) +: keepCols.map(col)) ++ Seq(col("cell"),
      graft.functions.BinaryExprs.packCodes(
        encodeCol(col("_rv"), model), bits).as("pq_packed"))
    assigned.select(cols: _*)
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    IndexConfig.writeIndexConfig(df.sparkSession, path, pqConfig(model, residual = true))
  }

  /** Probe a [[writeIvfPqResidualIndex]] table: ranks cells on the
    * driver, then for EACH probed cell computes the lookup table of
    * the query's residual against that cell's centroid — the LUT is
    * cell-specific under residual encoding, so the probe is a union
    * of nprobe single-cell pruned scans (each `cell = c` filter is a
    * static partition prune; nprobe is small). ADC + TakeOrdered as
    * in [[knnIvfPq]]; vectors are never read. */
  def knnIvfPqResidual(spark: org.apache.spark.sql.SparkSession, path: String,
                       query: DataFrame, k: Int, centroids: DataFrame,
                       nprobe: Int, metric: Knn.Metric, model: Model,
                       idCol: String): DataFrame = {
    IndexConfig.validateIndexConfig(spark, path, pqConfig(model, residual = true))
    val qv = queryVector(query)
    val probeCells = AnnIvf.rankCells(centroids, query, nprobe, metric)
    val centMap = centroids
      .select(col("cell").cast("long"), col("centroid").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    val bits = bitsFor(model.k)
    val scans = probeCells.map { cell =>
      val c = centMap(cell)
      val qres = Array.tabulate(model.dim)(i =>
        (if (i < qv.length) qv(i) else 0.0) - (if (i < c.length) c(i) else 0.0))
      val lut = lookupTable(qres, model)
      spark.read.parquet(path)
        .filter(col("cell") === cell)
        .withColumn("dist_adc", adcCol(
          graft.functions.BinaryExprs.unpackCodes(col("pq_packed"), bits, model.m),
          lut, model.k))
    }
    IndexMaintenance.dropTombstoned(spark, path,
      scans.reduce(_.unionByName(_)), idCol)
      .filter(col("dist_adc").isNotNull)
      .orderBy(col("dist_adc").asc, col(idCol).asc)
      .limit(k)
  }

  /** Standard per-subspace Lloyd refinement over a seeded model:
    * assign codes with the current codebook, recompute each (j, c)
    * centroid as the mean of its assigned subvectors (empty cells
    * keep their centroid). One keyed-agg job per iteration, m·k
    * result rows to the driver — training cost rides the index
    * build, like [[AnnIvf.train]]. Trained centroids are float
    * means (summation-order-dependent), so trained-PQ results are
    * spec/rows-only territory — the seeded model carries the oracle. */
  def train(df: DataFrame, vecCol: String, model: Model, iters: Int): Model = {
    var cur = model
    for (_ <- 1 to iters) {
      val coded = encode(df.select(col(vecCol)), vecCol, cur, "_code")
        .select(posexplode(col("_code")).as(Seq("j", "cid")),
          col(vecCol).cast("array<double>").as("_v"))
        .select(col("j"), col("cid"),
          slice(col("_v"), col("j") * cur.dsub + 1, lit(cur.dsub)).as("_sv"))
      val aggs = (0 until cur.dsub).map(i =>
        avg(element_at(col("_sv"), i + 1)).as(s"_m$i"))
      val rows = coded.groupBy(col("j"), col("cid"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val cb = cur.codebook.clone()
      rows.foreach { r =>
        val j = r.getInt(0); val c = r.getInt(1)
        val base = (j * cur.k + c) * cur.dsub
        var i = 0
        while (i < cur.dsub) {
          val v = r.get(i + 2)
          if (v != null) cb(base + i) = v.asInstanceOf[Double]
          i += 1
        }
      }
      cur = Model(cur.m, cur.k, cur.dsub, cb)
    }
    cur
  }
}
