package graft.core

import scala.collection.immutable.ArraySeq
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** One snapshot's view `(id, vector, metadata)`, held on the driver
  * heap: the `UnsafeRow`s one `executeCollect` returns, in id order
  * (a null id first), with their ids in a parallel array for binary
  * search.
  *
  *  - Lifetime: the rows are ordinary heap objects; the GC reclaims a
  *    superseded view once nothing references it. Nothing frees them
  *    by hand.
  *  - Sharing: no code writes into a held row, so a result or a plan
  *    over one may hold held rows themselves, and outlives the
  *    snapshot. A row a projection computes reuses the projection's
  *    buffer and is `copy()`'d before it leaves a scan.
  *  - Evaluation: a search binds the same Catalyst expressions the
  *    Spark plan over the view uses (the `FilterCompiler` predicate,
  *    the `LshForestHit` probe, `Knn.distCol`) to this view's
  *    attributes, by analysing a projection over a `LocalRelation` with
  *    them, and runs Spark's generated `Predicate` and
  *    `UnsafeProjection` on the driver: no Spark job. */
private[graft] final class HeldView private (
    val output: Seq[Attribute], rows: Array[UnsafeRow], ids: Array[Long], nulls: Int) {
  import HeldView._

  def size: Int = rows.length

  /** The ids, ascending (a null id is left out). */
  def allIds: Seq[Long] = ids.toSeq.drop(nulls)

  /** The vector and metadata of `id`, by binary search. */
  def get(id: Long): Option[(Seq[Double], String)] = {
    val i = java.util.Arrays.binarySearch(ids, nulls, ids.length, id)
    Option.when(i >= 0) {
      val r = rows(i)
      (if (r.isNullAt(1)) null else r.getArray(1).toDoubleArray().toSeq,
        if (r.isNullAt(2)) null else r.getUTF8String(2).toString)
    }
  }

  /** The first `n` rows (all by default) as a DataFrame over a
    * `LocalRelation` that shares them. */
  def frame(spark: SparkSession, n: Int = Int.MaxValue): DataFrame =
    local(spark, output, ArraySeq.unsafeWrapArray(rows).take(n))

  /** `cols` bound to [[output]]: a projection of them over a
    * `LocalRelation` with these attributes, resolved by the session's
    * analyzer as a projection over the view is. */
  private def bind(spark: SparkSession, cols: Seq[Column]): Seq[Expression] =
    if (cols.isEmpty) Nil
    else {
      val projected = GraftBridge.ofRows(spark, LocalRelation(output))
        .select(cols.zipWithIndex.map { case (c, i) => c.as(s"_$i") }: _*)
      // runtime-replaceable expressions are swapped for their
      // replacements at the optimizer's first step; do the same
      ReplaceExpressions(projected.queryExecution.analyzed) match {
        case Project(resolved, _) => resolved.map { case a: Alias => a.child }
        case other => throw new IllegalStateException(s"unexpected analysed plan: $other")
      }
    }

  /** One search: the rows `filter` keeps, of those the rows `probe`
    * keeps, ranked by `rank`. Returns the result frame (heap copies),
    * the count `filter` kept and the count `probe` kept of those; a
    * listing stops counting once its page is full. */
  def search(spark: SparkSession, filter: Option[Column], probe: Option[Column],
             rank: Rank): (DataFrame, Long, Long) = {
    val ranking = rank match {
      case Nearest(d, _) => Seq(d)
      case Within(d, r) => Seq(d, d <= r)
      case _: Listing => Nil
    }
    val bound = bind(spark, filter.toSeq ++ probe ++ ranking)
    val filterP = filter.map(_ => Predicate.create(bound.head, output))
    val probeP = probe.map(_ => Predicate.create(bound(filter.size), output))
    val dist = bound.lift(filter.size + probe.size).orNull
    var filtered, probed = 0L
    /** Visits the rows both predicates keep, in id order, while `more`. */
    def scan(more: => Boolean)(visit: Int => Unit): Unit = {
      var i = 0
      while (i < size && more) {
        val row = rows(i)
        if (filterP.forall(_.eval(row))) {
          filtered += 1
          if (probeP.forall(_.eval(row))) { probed += 1; visit(i) }
        }
        i += 1
      }
    }
    val found = rank match {
      case Listing(limit, offset) =>
        require(limit <= 0 || offset >= 0, s"offset must be >= 0, got $offset")
        val (from, until) = (math.max(offset, 0).toLong,
          if (limit > 0) offset.toLong + limit else Long.MaxValue)
        val page = Seq.newBuilder[InternalRow]
        scan(probed < until)(i => if (probed > from) page += rows(i))
        local(spark, output, page.result())
      case Nearest(_, k) =>
        require(k > 0, s"k must be > 0, got $k")
        // Spark's ordering on (dist asc, id asc), as Knn.knn sorts
        val key = UnsafeProjection.create(Seq(dist, output.head), output)
        val ord = GenerateOrdering.create(StructType(Seq(
          StructField("dist", DoubleType), StructField("id", LongType))))
        val top = new java.util.PriorityQueue[(UnsafeRow, Int)](math.max(1, math.min(k, size)),
          (a: (UnsafeRow, Int), b: (UnsafeRow, Int)) => ord.compare(b._1, a._1))
        scan(more = true) { i =>
          val kr = key(rows(i))
          if (top.size < k) top.add((kr.copy(), i))
          else if (ord.compare(kr, top.peek._1) < 0) { top.poll(); top.add((kr.copy(), i)) }
        }
        val ranked = Iterator.continually(top.poll()).take(top.size).toSeq.reverse
        withDist(spark, dist, ranked.map(_._2))
      case _: Within =>
        val within = Predicate.create(bound.last, output)
        val kept = Seq.newBuilder[Int]
        scan(more = true)(i => if (within.eval(rows(i))) kept += i)
        withDist(spark, dist, kept.result())
    }
    (found, filtered, probed)
  }

  /** Rows `is` with a `dist` column of `dist`. */
  private def withDist(spark: SparkSession, dist: Expression, is: Seq[Int]): DataFrame = {
    val project = UnsafeProjection.create(output :+ dist, output)
    local(spark, output :+ AttributeReference("dist", DoubleType, dist.nullable)(),
      is.map(i => project(rows(i)).copy()))
  }
}

private[graft] object HeldView {

  /** How a search ranks the rows it keeps. */
  sealed trait Rank

  /** Rows in id order from `offset`, at most `limit` of them (all from
    * `offset` when `limit` <= 0), as `Knn.listRecords` pages them. */
  final case class Listing(limit: Int, offset: Int) extends Rank

  /** The `k` rows nearest by `dist`, ordered by (dist, id) as
    * `Knn.knn` orders them. */
  final case class Nearest(dist: Column, k: Int) extends Rank

  /** The rows with `dist` <= `radius`, as `Knn.radius` keeps them, in
    * id order. */
  final case class Within(dist: Column, radius: Double) extends Rank

  /** A DataFrame over `rows` with fresh instances of `attrs`. */
  private def local(spark: SparkSession, attrs: Seq[Attribute], rows: Seq[InternalRow]): DataFrame =
    GraftBridge.ofRows(spark, LocalRelation(attrs.map(_.newInstance()), rows))

  /** Runs `view`'s plan once (one `executeCollect`: under AQE, the
    * shuffle-map job and the result job) and holds its rows. */
  def collect(view: DataFrame): HeldView = {
    val qe = view.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
      .sorted(GenerateOrdering.create(StructType(Seq(StructField("id", LongType)))))
      .map(_.asInstanceOf[UnsafeRow])
    new HeldView(qe.analyzed.output, rows, rows.map(r => if (r.isNullAt(0)) 0L else r.getLong(0)),
      rows.count(_.isNullAt(0)))
  }
}
