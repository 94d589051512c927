package graft.tools

/** Mirrors the driver's t1 smoke: SparkEntry.entry rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Run.session()
    val n = graft.SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n")
    assert(n > 0, "entry must return rows")
    spark.stop()
  }
}
