package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** Exact (brute-force) vector search — the reference's
  * `precision: "exact"` path (collection.go:569-712), re-expressed as
  * declarative Spark plans.
  *
  * Scale posture: a single-query kNN is map-side distance math +
  * `orderBy(dist).limit(k)`, which Catalyst executes as
  * TakeOrderedAndProject — each task keeps a k-row heap and only k rows
  * per partition ever move, no full sort and no shuffle of the table.
  * Radius search is a pushed-down-filterable map-side predicate.
  * Batch kNN broadcasts the (small) query set and shuffles once on
  * query id for the per-query top-k.
  */
object Knn {

  sealed trait Metric
  case object Cosine extends Metric    // angular distance, ref collection.go:821
  case object Euclidean extends Metric // ref collection.go:812

  def distCol(metric: Metric, a: Column, b: Column): Column = metric match {
    case Cosine    => Vectors.angularDist(a, b)
    case Euclidean => Vectors.euclideanDist(a, b)
  }

  /** Stable numeric code for the index-config sidecar (an index built
    * under one metric probed under another ranks silently wrong). */
  private[graft] def metricCode(metric: Metric): Long = metric match {
    case Cosine => 0L
    case Euclidean => 1L
  }

  /** Top-k nearest rows to `query` (a column-expression literal vector or a
    * 1-row broadcastable DataFrame with column `qvec`). Ties broken by id
    * for determinism.
    */
  def knn(data: DataFrame, vecCol: String, query: DataFrame, k: Int,
          metric: Metric, idCol: String): DataFrame = {
    val d = distCol(metric, col(vecCol), col("qvec"))
    data.crossJoin(broadcast(query))
      .withColumn("dist", d)
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
      .drop("qvec")
  }

  /** All rows within `radius` of the query vector — reference radius
    * mode (collection.go:597). No shuffle: pure filter. */
  def radius(data: DataFrame, vecCol: String, query: DataFrame, r: Double,
             metric: Metric): DataFrame = {
    val d = distCol(metric, col(vecCol), col("qvec"))
    data.crossJoin(broadcast(query))
      .withColumn("dist", d)
      .filter(col("dist") <= r)
      .drop("qvec")
  }

  /** Batch kNN: top-k for every row of `queries` (columns qid, qvec).
    * Broadcast the small query side; the bounded [[graft.functions.
    * TopKAgg]] aggregate keeps at most k rows per partition per query
    * on the map side, so the one shuffle moves O(partitions x k) rows
    * (a window ranking would move and sort every candidate). */
  def knnBatch(data: DataFrame, vecCol: String, queries: DataFrame, k: Int,
               metric: Metric, idCol: String): DataFrame = {
    import graft.functions.TopKAgg
    val d = distCol(metric, col(vecCol), col("qvec"))
    data.crossJoin(broadcast(queries))
      .select(col("qid"), d.as("dist"), col(idCol))
      .groupBy(col("qid"))
      .agg(TopKAgg.topk(col("dist"), col(idCol), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("_pos", "_t")))
      .select(col("qid"), col("_t.id").as(idCol),
        (col("_pos") + 1).as("rank"), col("_t.dist").as("dist"))
  }

  /** Exhaustive listing with pagination — the reference's
    * k==0 && radius==0 search mode (collection.go:633-666): stable id
    * order, optional filter, offset/limit.
    *
    * Scale shape: `orderBy(id).limit(n)` executes as
    * TakeOrderedAndProject — every task keeps an n-row heap and only n
    * rows per partition ever move; the corpus is never globally sorted
    * or moved to one task. The offset is applied by anti-joining away
    * the first `offset` ids (a second TakeOrdered head, broadcast) —
    * no global-window ranking anywhere in the plan. */
  def listRecords(data: DataFrame, idCol: String, filter: Option[Column],
                  limit: Int, offset: Int): DataFrame = {
    val filtered = filter.map(data.filter).getOrElse(data)
    val page = filtered.orderBy(col(idCol).asc).limit(offset + limit)
    if (offset == 0) page
    else {
      val head = filtered.select(col(idCol)).orderBy(col(idCol).asc).limit(offset)
      page.join(broadcast(head), Seq(idCol), "left_anti")
        .orderBy(col(idCol).asc)
    }
  }

  /** k-NN label propagation — the weak-supervision labeling step a
    * curation pipeline runs when a small labeled seed set must fan its
    * labels out to an unlabeled pool (semi-supervised corpus tagging):
    * each query row takes the MAJORITY label among its k nearest
    * labeled neighbors; ties break to the label holding the single
    * nearest neighbor (min best-rank), then to the smaller label —
    * a deterministic total order.
    *
    * Scale shape: neighbor retrieval is [[knnBatch]] (bounded TopKAgg
    * — one shuffle of O(partitions × k) rows per query, never a
    * corpus sort); labels attach by one equi-join on the LABELED side
    * keyed by id; the vote is two keyed aggs over k-row groups plus a
    * per-query window over ≤ |labels| vote rows — bounded per query,
    * never corpus-wide. For query pools too large to broadcast, swap
    * the retrieval stage for the LSH-bucketed `ann_batch`/forest path
    * (same contract, approximate recall) — the vote machinery is
    * retrieval-agnostic.
    *
    * Output: (qid, pred_label, votes, best_rank) per query row. */
  def knnClassify(labeled: DataFrame, queries: DataFrame, vecCol: String,
                  idCol: String, labelCol: String, k: Int,
                  metric: Metric): DataFrame = {
    val nn = knnBatch(labeled, vecCol,
      queries.select(col(idCol).as("qid"), col(vecCol).as("qvec")),
      k, metric, idCol)
    val votes = nn
      .join(labeled.select(col(idCol), col(labelCol).as("_nl")), Seq(idCol))
      .groupBy(col("qid"), col("_nl"))
      .agg(count(lit(1)).as("votes"), min(col("rank")).as("best_rank"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("best_rank").asc, col("_nl").asc)
    votes.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("qid"), col("_nl").as("pred_label"),
        col("votes"), col("best_rank"))
  }

  /** Nearest-CENTROID (prototype) classifier — the cheapest label
    * router over an embedding space: one mean vector per label, a
    * prediction is one map-side argmin over the broadcast prototypes
    * (Rocchio / nearest-class-mean; the shape production systems
    * deploy when [[knnClassify]]'s per-query retrieval is too
    * expensive). Training is ONE keyed agg bounded at labels × dim
    * rows regardless of corpus size; scoring never shuffles the
    * corpus.
    *
    * Engine-reproducibility: coordinates snap to the 1e-6 integer
    * grid (the embedding_drift rule) so each centroid coordinate is
    * an exact integer sum divided once; the squared distance is a
    * dim-ordered zip_with fold; argmin breaks ties on the smaller
    * label via one struct-min — no window, no float re-derivation.
    *
    * Output: (idCol, pred, dist2) — one row per query row. */
  def centroidClassify(train: DataFrame, test: DataFrame, vecCol: String,
                       idCol: String, labelCol: String): DataFrame = {
    def grid(c: Column): Column =
      transform(c.cast("array<double>"),
        x => round(x * lit(1000000.0), 0).cast("long"))
    val cent = train.select(col(labelCol).as("_lbl"), grid(col(vecCol)).as("_qv"))
      .select(col("_lbl"), posexplode(col("_qv")).as(Seq("dim", "_qx")))
      .groupBy(col("_lbl"), col("dim"))
      .agg(sum(col("_qx")).as("_s"), count(lit(1)).as("_n"))
      .groupBy(col("_lbl"))
      .agg(array_sort(collect_list(struct(col("dim"),
        ((col("_s").cast("double") / col("_n")) / lit(1000000.0)).as("m"))))
        .as("_ms"))
      .select(col("_lbl"), transform(col("_ms"), s => s.getField("m")).as("_c"))
    test.select(col(idCol), grid(col(vecCol)).as("_qv"))
      .crossJoin(broadcast(cent))
      .select(col(idCol), col("_lbl"),
        aggregate(
          zip_with(col("_qv"), col("_c"), (x, m) => {
            val d = x.cast("double") / lit(1000000.0) - m
            d * d
          }),
          lit(0.0), (a, v) => a + v).as("_d2"))
      .groupBy(col(idCol))
      .agg(min(struct(col("_d2"), col("_lbl"))).as("_best"))
      .select(col(idCol), col("_best._lbl").as("pred"),
        col("_best._d2").as("dist2"))
  }
}
