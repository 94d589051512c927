package graft

import graft.registry.Query

/** The query registry: one entry per declared query, each with its
  * oracle, and fitted oracles that belong to the directory they are
  * read for. */
class RegistrySpec extends SparkSpec {

  private val fitted = Seq("embedding_pca", "embedding_whiten",
    "classify_logreg", "classify_logreg_report", "classify_logreg_multi")

  test("164 distinct query names, each with an oracle") {
    assert(SparkEntry.registry.size == 164)
    assert(SparkEntry.queries.keySet == SparkEntry.registry.keySet)
    // the fixed oracles plus the five fitted ones cover every query
    assert(SparkEntry.oracleSql.keySet ++ fitted == SparkEntry.queries.keySet)
    assert(SparkEntry.oracleSql.keySet.intersect(fitted.toSet).isEmpty)
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
  }

  test("building the registry fails on a duplicate name") {
    val q = Query("twice", (s, _) => s.range(1).toDF(), "SELECT 1")
    val e = intercept[IllegalArgumentException](Query.byName(Seq(q, q)))
    assert(e.getMessage.contains("twice"))
  }

  test("fitted oracles do not depend on which directory ran last") {
    val first = SparkEntry.oracles(spark, sf001, fitted)
    assert(first.keySet == fitted.toSet && first.values.forall(_.nonEmpty))
    fitted.foreach(n => SparkEntry.queries(n)(spark, sf0001).collect())
    assert(SparkEntry.oracles(spark, sf001, fitted) == first)
    // and each directory ships its own model
    assert(SparkEntry.oracles(spark, sf0001, fitted) != first)
  }
}
