package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry

/** The `pipelines` workload: declared query lines run back to back
  * from one driver thread (a closed loop with one client) over the
  * vendored tables, in an order set by the seed. Each line is one
  * operation: the builder call, planning, and `toRdd.count()` on the
  * returned plan. */
object Batch {

  /** Lines whose builders run chains of eager Spark jobs (checkpoint
    * cuts, iteration steps, index builds): construction dominates. */
  val pipelines: Seq[String] = Seq(
    "dedup_minhash_sweep", "pipeline_report", "graph_pagerank", "dedup_incremental")

  /** Order-independent result digest: the row count and the sum of
    * per-row hashes over the columns in name order. Map columns hash
    * through their JSON form (Spark does not hash maps). */
  def digest(df: DataFrame): (Long, String) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.columns.sorted.map { c =>
      if (hasMap(df.schema(c).dataType)) to_json(col(c)) else col(c) }
    val r = df.select(xxhash64(cols.toSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }

  private def loadDigests(path: String): Map[String, (Long, String)] = {
    implicit val f: Formats = DefaultFormats
    val j = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), UTF_8))
    (j \ "lines").extract[Map[String, JValue]].map { case (k, v) =>
      k -> ((v \ "rows").extract[Long], (v \ "hash").extract[String]) }
  }

  /** Dumps the lines' results with `graft.Verify` (parquet plus the
    * oracle SQL that `tools/check.py` compares them with) and prints
    * each dumped result's digest. */
  def recordDigests(args: Seq[String]): Unit = {
    val dataDir +: outDir +: lines = args
    val spark = Main.session(4, s"$outDir.work")
    try {
      val errors = graft.Verify.run(spark, SparkEntry.queries.filter(q => lines.contains(q._1)),
        SparkEntry.oracleSql.filter(q => lines.contains(q._1)), dataDir, outDir)
      require(errors.isEmpty, s"lines failed: $errors")
      val ds = lines.sorted.map { l =>
        val (n, h) = digest(spark.read.parquet(s"$outDir/$l"))
        l -> JObject("rows" -> JLong(n), "hash" -> JString(h))
      }
      println(JsonMethods.pretty(JsonMethods.render(JObject("lines" -> JObject(ds.toList)))))
    } finally spark.stop()
  }

  private final case class LineRun(line: String, wallS: Double)

  def run(spark: SparkSession, s: Settings): Outcome = {
    val lines = new scala.util.Random(s.seed).shuffle(pipelines)
    val expected = loadDigests(s.digests)
    val failures = collection.mutable.ArrayBuffer[String]()
    var attempted = 0

    // Set-up: one cold pass, which also builds the memoised models and
    // indexes. Each line's full result is digested and compared.
    Main.phase("cold pass")(lines.foreach { l =>
      attempted += 1
      try {
        val got = digest(SparkEntry.queries(l)(spark, s.dataDir))
        if (!expected.get(l).contains(got))
          failures += s"$l: digest ${got._1}:${got._2} != stored ${expected.get(l)}"
      } catch { case e: Exception => failures += Main.failure(l, e) }
    })
    val tracer = if (s.trace) Some(new Tracer(spark.sparkContext)) else None
    var traced = false
    def inSpan[T](layer: String, line: String)(body: => T): T =
      tracer match {
        case Some(t) if traced => t.span(layer, line)(body)
        case _ => body
      }

    /** One line as a user runs it; the row count is checked against
      * the digest's. */
    def runLine(l: String): Option[LineRun] = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val df = inSpan("construct", l)(SparkEntry.queries(l)(spark, s.dataDir))
        val qe = df.queryExecution
        inSpan("plan", l)(qe.executedPlan)
        val n = inSpan("execute", l)(qe.toRdd.count())
        if (!expected.get(l).exists(_._1 == n)) {
          failures += s"$l: $n rows != stored ${expected.get(l).map(_._1)}"
          None
        } else Some(LineRun(l, (System.nanoTime() - t0) / 1e9))
      } catch { case e: Exception => failures += Main.failure(l, e); None }
    }

    // The first warm pass is still on the warm-up trend (the JIT and
    // Spark's code caches), so it is set-up too.
    Main.phase("warm pass")(lines.foreach(runLine))
    val setupS = (System.currentTimeMillis() - Main.processStartMs) / 1000.0

    final case class Pass(traced: Boolean, startMs: Long, endMs: Long,
                          wallS: Double, runs: Seq[LineRun])
    val passes = collection.mutable.ArrayBuffer[Pass]()
    val c0 = Main.cpuSample()
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    // Passes fill the window; one is not started when more than half
    // of it would fall past the window. Traced runs alternate untraced
    // and traced passes, at least one of each, so the tracing overhead
    // is measured within one run.
    def fits = passes.isEmpty || elapsed + passes.last.wallS / 2 < s.seconds
    while (fits || (s.trace && passes.size < 2)) {
      traced = s.trace && passes.size % 2 == 1
      tracer.foreach(t => if (traced) spark.sparkContext.addSparkListener(t))
      val p0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val runs = lines.flatMap(runLine)
      passes += Pass(traced, p0, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9, runs)
      tracer.foreach { t =>
        if (traced) {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(t)
        }
      }
    }
    val external = Main.externalCpu(c0, elapsed)

    val plain = passes.filterNot(_.traced)
    val perLine = JObject(lines.toList.map { l =>
      l -> Main.timing(plain.flatMap(_.runs.filter(_.line == l).map(_.wallS))) })
    val baseDetails = JObject(
      "lines" -> JArray(lines.toList.map(JString(_))),
      "pass_s" -> Main.timing(plain.map(_.wallS)),
      "line_s" -> perLine,
      "setup_s" -> JDouble(setupS))

    val (metrics, details): (Map[String, Double], JObject) = tracer match {
      case None =>
        val m = Map(
          "setup_s" -> setupS,
          "ops_per_s" -> plain.map(_.runs.size).sum / plain.map(_.wallS).sum,
          "live_heap_mb" -> Main.liveHeapMb())
        (m, baseDetails)
      case Some(t) =>
        val tr = t.snapshot()
        val perPass = passes.filter(_.traced).map(p => layerMetrics(tr, p.startMs, p.endMs, p.wallS, s.cores))
        val keys = perPass.head.keys
        val m = keys.map(k => k -> Main.median(perPass.map(_(k)))).toMap +
          ("trace.overhead_ratio" -> Main.median(passes.filter(_.traced).map(_.wallS)) /
            Main.median(plain.map(_.wallS)))
        require(constructionMetrics.forall(m.contains), "a construction metric was not measured")
        val wallMed = Main.median(passes.filter(_.traced).map(_.wallS))
        val split = JObject(
          "construct_share" -> JDouble(m("SparkEntry.construct_s") / wallMed),
          "plan_share" -> JDouble(m("catalyst.plan_s") / wallMed),
          "execute_share" -> JDouble(m("operators.execute_s") / wallMed),
          "jobs_per_pass" -> JDouble(m("SparkEntry.construct_jobs") + m("operators.execute_jobs")),
          "window_attributed_jobs" -> JInt(tr.jobs.count(_.byWindow)))
        // the serving layers are not on this workload's path
        (m ++ ServingTrace.servingMetrics.map(_ -> 0.0),
          baseDetails.merge(JObject("layer_split" -> split)))
    }
    Outcome(attempted, failures.toSeq, metrics, details.merge(JObject("passes" -> JInt(passes.size))),
      external)
  }

  /** Per-layer figures of one traced pass over [t0, t1]. */
  private def layerMetrics(tr: Trace, t0: Long, t1: Long, wallS: Double,
                           cores: Int): Map[String, Double] = {
    def in(layer: String, line: Option[String] = None) = tr.spanIds(sp =>
      sp.layer == layer && sp.startMs >= t0 && sp.endMs <= t1 && line.forall(_ == sp.op))
    def wall(ids: Set[Int]) = tr.spans.filter(sp => ids(sp.id)).map(_.wallS).sum
    val cons = in("construct")
    val (busy, gap) = tr.busyAndGap(t0, t1)
    val perLine = pipelines.flatMap { l =>
      val ids = in("construct", Some(l))
      Seq(s"SparkEntry.construct_s.$l" -> wall(ids),
        s"SparkEntry.construct_jobs.$l" -> tr.jobsOf(ids).toDouble)
    }
    Map(
      "SparkEntry.construct_s" -> wall(cons),
      "SparkEntry.construct_jobs" -> tr.jobsOf(cons).toDouble,
      "catalyst.plan_s" -> wall(in("plan")),
      "scheduler.driver_gap_s" -> gap,
      "scheduler.busy_ratio" -> busy / (wallS * cores),
      "scheduler.unattributed_jobs" -> tr.unattributed(t0, t1).toDouble) ++
      tr.operatorMetrics(in("execute")) ++ perLine
  }

  /** The per-layer metrics only this workload produces. */
  val constructionMetrics: Seq[String] =
    Seq("SparkEntry.construct_s", "SparkEntry.construct_jobs") ++ pipelines.flatMap(l =>
      Seq(s"SparkEntry.construct_s.$l", s"SparkEntry.construct_jobs.$l"))
}
