package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A declared query's DuckDB oracle. Neither kind builds its text until
  * it is read, so paths that only time queries never pay for it. */
sealed trait Oracle

object Oracle {
  /** SQL fixed by the query alone; built once, on first read. */
  final class Fixed(text: => String) extends Oracle {
    lazy val sql: String = text
  }

  /** SQL that ships a model fitted on one directory's [[Fixtures]] as
    * literals, so DuckDB recomputes the distributed part over the raw
    * tables. */
  final class Fitted(val sql: Fixtures => String) extends Oracle
}

/** One declared query: its name, its builder and its oracle, side by
  * side. The builder takes a session and a corpus directory. */
final class Query private (val name: String,
                           val build: (SparkSession, String) => DataFrame,
                           val oracle: Oracle) {
  /** The oracle text for the directory `fixtures` belongs to; a fixed
    * oracle never evaluates `fixtures`. */
  def oracleSql(fixtures: => Fixtures): String = oracle match {
    case o: Oracle.Fixed => o.sql
    case o: Oracle.Fitted => o.sql(fixtures)
  }
}

object Query {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
            sql: => String): Query =
    new Query(name, build, new Oracle.Fixed(sql))

  def fitted(name: String, build: (SparkSession, String) => DataFrame,
             sql: Fixtures => String): Query =
    new Query(name, build, new Oracle.Fitted(sql))

  /** Indexes `queries` by name. A `Map` silently keeps the last of two
    * entries with one name, so a duplicate fails here instead. */
  def byName(queries: Seq[Query]): Map[String, Query] = {
    val dups = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    queries.map(q => q.name -> q).toMap
  }
}
