package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Command-line settings; `run.py` fills the ones a user does not. */
final case class Settings(workload: String, seed: Long, seconds: Int,
                          trace: Boolean, cores: Int, dataDir: String,
                          workDir: String, digests: String,
                          provenance: Map[String, String])

/** What one run measured. `metrics` are end-to-end figures on an
  * untraced run and per-layer figures on a traced one; `details` holds
  * the figures a workload reports beside them (percentiles with their
  * sample counts, per-line times, the layer split). */
final case class Outcome(attempted: Int, failures: Seq[String],
                         metrics: Map[String, Double], details: JObject,
                         externalCpu: Option[Double])

/** Entry point: `Main <workload> key=value...`, or
  * `Main digests <dataDir> <outDir> <line>...` to dump the batch lines'
  * results for the DuckDB oracle and print their digests. */
object Main {

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("digests")) Batch.recordDigests(args.toSeq.tail)
    else {
      val kv = args.toSeq.tail.map { a =>
        val Array(k, v) = a.split("=", 2); k -> v }.toMap
      val s = Settings(args.head, kv("seed").toLong, kv("seconds").toInt,
        kv("trace") == "1", kv("cores").toInt, kv("data"), kv("work"),
        kv("digests"), kv.filter(_._1.startsWith("prov.")).map {
          case (k, v) => k.stripPrefix("prov.") -> v })
      sys.exit(run(s))
    }

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def procText(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)), UTF_8))
    catch { case _: java.io.IOException => None }

  /** Peak resident set (`VmHWM`) of this process, in MB. */
  def peakRssMb(): Double =
    procText("/proc/self/status").flatMap(_.linesIterator
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)).getOrElse(Double.NaN)

  /** Heap still in use after a full collection, in MB: what the run
    * keeps resident (memoised models and indexes, cached blocks). Peak
    * RSS is reported beside it but follows the collector's heap sizing
    * more than the program. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    // Spark frees blocks of collected RDDs on a cleaner thread after a
    // collection; the pauses let it finish before the next one
    (1 to 3).foreach { _ => mem.gc(); Thread.sleep(300) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** (busy jiffies of the whole host, jiffies of this process). */
  def cpuSample(): Option[(Long, Long)] =
    for (st <- procText("/proc/stat"); self <- procText("/proc/self/stat"))
      yield (graft.Bench.busyJiffies(st.linesIterator.next()),
        graft.Bench.selfJiffies(self))

  def run(s: Settings): Int = {
    val spark = phase("session")(session(s.cores, s.workDir))
    val out = try {
      s.workload match {
        case "pipelines" => Batch.run(spark, s)
        case "serving" => Serving.run(spark, s)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally spark.stop()
    val failed = out.failures.size
    val result = JObject(
      "workload" -> JString(s.workload),
      "seed" -> JLong(s.seed),
      "trace" -> JBool(s.trace),
      "correct" -> JBool(failed == 0),
      "attempted" -> JInt(out.attempted),
      "failed" -> JInt(failed),
      "failed_ratio" -> JDouble(failed.toDouble / math.max(1, out.attempted)),
      "failures" -> JArray(out.failures.toList.map(JString(_))),
      "metrics" -> JObject(out.metrics.toList.sortBy(_._1).map {
        case (k, v) => k -> JDouble(v) }),
      "details" -> out.details.merge(JObject("peak_rss_mb" -> JDouble(peakRssMb()))),
      "host" -> JObject(
        "cores" -> JInt(s.cores),
        "heap_max_mb" -> JDouble(Runtime.getRuntime.maxMemory / 1048576.0),
        "external_cpu_cores" -> out.externalCpu.map(JDouble(_)).getOrElse(JNull)),
      "provenance" -> JObject(s.provenance.toList.sorted.map {
        case (k, v) => k -> JString(v) }))
    println(JsonMethods.compact(JsonMethods.render(result)))
    0
  }

  /** Cores other processes kept busy, on average, since sample `c0`
    * was taken `wallS` seconds ago. A label only: it never drops or
    * retries a run. */
  def externalCpu(c0: Option[(Long, Long)], wallS: Double): Option[Double] =
    for ((b0, s0) <- c0; (b1, s1) <- cpuSample())
      yield graft.Bench.externalCores(b1 - b0, s1 - s0, wallS)

  /** Runs `body` and logs its wall time to standard error. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def failure(what: String, e: Throwable): String =
    s"$what: ${e.getClass.getName}: ${e.getMessage}"

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN when there are no samples. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val v = xs.sorted
      val pos = q * (v.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }

  /** A timing summary: median, and p90 only when at least 100 samples
    * stand behind it, with the sample count. */
  def timing(xs: collection.Seq[Double]): JObject = JObject(
    "n" -> JInt(xs.size),
    "p50" -> (if (xs.isEmpty) JNull else JDouble(median(xs))),
    "p90" -> (if (xs.size >= 100) JDouble(quantile(xs, 0.9)) else JNull))

  def processStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}
