package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run every query, dump results + oracle SQL + per-query errors to
    * `outDir`; returns the error map. Extracted from main so the
    * fail-loud contract (a broken query leaves errors.json non-empty,
    * never a silent gap — the r9 breakage hid behind exactly that
    * silence) is itself regression-testable. */
  def run(spark: SparkSession,
          queries: Map[String, (SparkSession, String) => DataFrame],
          oracleSql: Map[String, String], sfDir: String,
          outDir: String): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.tools.Run.session()
    val errors = run(spark, SparkEntry.queries,
      SparkEntry.oracles(spark, sfDir), sfDir, outDir)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(
        s"[verify] ${errors.size}/${SparkEntry.queries.size} queries FAILED: " +
          errors.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
