package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.registry._

/** The declared queries and their DuckDB oracles.
  *
  * Each query family lives in one `graft.registry` object, whose
  * entries hold a query's name, builder and oracle side by side (see
  * SURVEY.md §7). Every oracle uses the query's column names and rounds
  * floats identically on both sides. What a query builds once per
  * corpus directory — models, indexes, bucketed tables — lives in that
  * directory's [[graft.registry.Fixtures]]. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("knn_cosine")(spark, "/root/testdata/sf0.001")

  /** Every declared query by name, built once; a duplicate name fails. */
  private[graft] val registry: Map[String, Query] = Query.byName(Seq(
    VectorQueries.queries, AnnQueries.queries, EmbeddingQueries.queries,
    DedupQueries.queries, OverlapQueries.queries, TextQueries.queries,
    SearchQueries.queries, SamplingQueries.queries, EventQueries.queries,
    ClassifyQueries.queries, MultimodalQueries.queries,
    PipelineQueries.queries, CrawlQueries.queries).flatten)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }

  /** The oracles that hold for any corpus directory: every query's but
    * the five that ship a fitted model, which [[oracles]] adds. */
  lazy val oracleSql: Map[String, String] = registry.flatMap {
    case (name, q) => q.oracle match {
      case o: Oracle.Fixed => Some(name -> o.sql)
      case _: Oracle.Fitted => None
    }
  }

  /** The oracles of `names` for corpus directory `dir`. A fitted oracle
    * ships the model of `dir`'s own fixtures, trained here if no query
    * has built it yet. */
  def oracles(spark: SparkSession, dir: String,
              names: Iterable[String] = registry.keys): Map[String, String] = {
    lazy val fixtures = Fixtures.of(spark, dir)
    names.map(name => name -> registry(name).oracleSql(fixtures)).toMap
  }
}
