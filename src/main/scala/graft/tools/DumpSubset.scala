package graft.tools

import org.apache.spark.sql.SparkSession

/** Targeted oracle check for optimization loops: dump ONLY the named
  * queries' results + a trimmed oracle_sql.json to `outDir`, so
  * `tools/check.py <sfDir> <outDir>` re-gates just the queries a
  * change touched (the full Verify + check cycle is ~15 min; this is
  * seconds per query). args = sfDir outDir query1,query2,... */
object DumpSubset {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args(0)
    val out = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    // a typo'd name must be a hard error, not a silently-empty dump
    // that check.py then passes as a false green
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")}")
    val errors = graft.Verify.run(spark,
      graft.SparkEntry.queries.filter(kv => names.contains(kv._1)),
      graft.SparkEntry.oracles(spark, dir, names),
      dir, out)
    if (errors.nonEmpty) { println(s"[dumpsubset] ERRORS: $errors"); sys.exit(1) }
    println(s"[dumpsubset] dumped ${names.length} queries to $out")
    spark.stop()
  }
}
