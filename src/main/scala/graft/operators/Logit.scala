package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic full-batch logistic regression over integer quality
  * signals — the CALIBRATED member of the classifier family (NB /
  * AdaBoost / centroid / kNN give votes or unnormalized scores; a
  * soft-dedup threshold or a quality gate that mixes signals wants a
  * probability). The reference engine has no learner surface; public
  * anchor is the textbook gradient-descent logistic model (Bishop
  * PRML §4.3).
  *
  * Determinism contract (the repo-wide integer-grid rule applied to
  * gradient descent): every per-row gradient contribution is snapped
  * to a 1e-9 integer grid (`CAST(round(g * 1e9) AS BIGINT)` — a pure
  * function of the row), partials sum as exact integers in any
  * partitioning, and the driver applies updates in one fixed
  * expression order — so the fitted model is a pure function of the
  * signal frame, like pagerank's ranks or the Holt fold. Features
  * divide by a POWER-OF-TWO scale (64.0) before entering the model:
  * the division is IEEE-exact, so scaling costs no precision.
  *
  * Scale shape: training = `iterations` single-row aggregations over
  * the signal frame (localCheckpointed once — the Bpe.train rule:
  * iterations read the materialized (id, x, y) frame, never re-run
  * the text parsing); the model is 1 + |features| doubles, driver-
  * resident by contract (the Pca.fit rule). Scoring is one map-side
  * expression per row, zero joins — it rides a scan or a streaming
  * micro-batch unchanged, and the fitted model ships into a DuckDB
  * oracle as shortest-round-trip double literals (the embedding_pca
  * pattern), so only the distributed scoring pass is restated.
  */
object Logit {

  /** Fitted model: driver-resident by contract. `xScale` is the
    * power-of-two every feature divides by inside the model. */
  case class LogitModel(features: Seq[String], xScale: Double,
                        bias: Double, weights: Seq[Double])

  /** Shortest round-trip double literal (see registry.Shared.dLit): the
    * minimal decimal that parses back to the same bits in any
    * correctly-rounded reader, so Spark and DuckDB compute with the
    * identical IEEE doubles. */
  private def dLit(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite model value: $d")
    java.lang.Double.toString(d)
  }

  /** The logit `z = b + Σ w_j · (x_j / xScale)` as ONE fixed
    * left-to-right expression string over literal weights — valid in
    * both Spark SQL and DuckDB, so both engines run the identical
    * IEEE operation sequence on the identical doubles. */
  def zSql(m: LogitModel): String =
    m.features.zip(m.weights).foldLeft(s"CAST(${dLit(m.bias)} AS DOUBLE)") {
      case (acc, (f, w)) =>
        s"($acc + ${dLit(w)} * (CAST($f AS DOUBLE) / ${dLit(m.xScale)}))"
    }

  private def sigmoidSql(z: String): String =
    s"(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-($z))))"

  /** Train by `iterations` full-batch gradient steps at rate `lr`:
    * w ← w − lr · (Σ_i (σ(z_i) − y_i) · x_i) / n, the bias as the
    * implicit all-ones feature. One single-row aggregation job per
    * iteration; per-row contributions on the 1e-9 grid (exact integer
    * partial sums — partitioning-independent), accumulated as
    * decimal(38,0) so corpora past ~1e9 rows cannot overflow the
    * bigint sum. */
  def train(signals: DataFrame, labelCol: String, features: Seq[String],
            iterations: Int, lr: Double, xScale: Double = 64.0): LogitModel = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(features.nonEmpty, "train needs at least one feature")
    require(xScale > 0 && (java.lang.Double.doubleToLongBits(xScale) &
      0x000fffffffffffffL) == 0L, s"xScale must be a power of two: $xScale")
    val sig = signals.select(
      features.map(f => col(f).cast("long").as(f)) :+
        col(labelCol).cast("int").as("_y"): _*)
      .localCheckpoint()
    val n = sig.count()
    require(n > 0, "train needs a non-empty signal frame")
    var model = LogitModel(features, xScale, 0.0,
      Vector.fill(features.length)(0.0))
    for (_ <- 1 to iterations) {
      val resid = s"(${sigmoidSql(zSql(model))} - CAST(_y AS DOUBLE))"
      def grid(g: String): String =
        s"sum(CAST(CAST(round(($g) * 1e9) AS BIGINT) AS DECIMAL(38,0)))"
      val gradCols = expr(grid(resid)).as("_gb") +:
        features.map(f => expr(
          grid(s"$resid * (CAST($f AS DOUBLE) / ${dLit(xScale)})")).as(s"_g_$f"))
      val row = sig.agg(gradCols.head, gradCols.tail: _*).head()
      def step(i: Int, w: Double): Double =
        w - lr * (row.getDecimal(i).doubleValue() / 1e9 / n)
      model = model.copy(
        bias = step(0, model.bias),
        weights = features.indices.map(j =>
          step(j + 1, model.weights(j))).toVector)
    }
    model
  }

  /** Score rows with a fitted model: pure map-side, zero joins.
    * `pred` is the exact double comparison `z >= 0` (no rounding in
    * the decision); `prob`/`z` round on the repo's 1e-6 grid. */
  def score(df: DataFrame, m: LogitModel, keep: Seq[String]): DataFrame = {
    val z = zSql(m)
    df.select(keep.map(col) ++ Seq(
      expr(s"round($z, 6)").as("z"),
      expr(s"round(${sigmoidSql(z)}, 6)").as("prob"),
      expr(s"CAST(CASE WHEN ($z) >= 0.0 THEN 1 ELSE 0 END AS BIGINT)")
        .as("pred")): _*)
  }

  /** Probability-decile edges mapped to z-space, as driver doubles:
    * bin k covers predicted probability [k/10, (k+1)/10). Binning on
    * z against these literals is a pure double comparison — no
    * per-row transcendental, engine-exact by construction. */
  def zEdges: Seq[Double] =
    (1 to 9).map(k => math.log((k / 10.0) / (1.0 - k / 10.0)))

  /** Calibration report over a labeled signal frame: one row per
    * occupied probability decile with its doc count, positive count,
    * empirical positive rate, and mean logit (1e-6-grid integer mean
    * — exact in any partitioning). A calibrated model shows pos_rate
    * tracking the decile; the report is the go/no-go a soft-dedup or
    * quality gate reads before trusting `prob` as a probability. */
  def calibration(df: DataFrame, m: LogitModel, labelCol: String): DataFrame = {
    val z = zSql(m)
    val bin = zEdges
      .map(e => s"(CASE WHEN ($z) >= ${dLit(e)} THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")
    df.select(expr(s"CAST($bin AS BIGINT)").as("bin"),
        col(labelCol).cast("long").as("_y"),
        expr(s"CAST(round(($z) * 1e6) AS BIGINT)").as("_qz"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("n_pos"),
        sum(col("_qz").cast("decimal(38,0)")).as("_sz"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n"), 6).as("pos_rate"),
        round(col("_sz").cast("double") / 1e6 / col("n"), 6).as("mean_z"))
  }
}
