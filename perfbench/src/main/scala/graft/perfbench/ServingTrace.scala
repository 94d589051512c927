package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s._

import graft.core.SearchArgs
import graft.operators.Embed
import graft.serving.Api
import Serving._

/** The traced `serving` run. One client replays a fixed op sequence
  * four ways, rotating which way goes first: over HTTP untraced, over
  * HTTP traced, through `Api.handle`, and through the direct
  * `Collection` and `Embed` calls `Api.handle` makes. Reads send the
  * same request every way; each way writes its own ids. The sequence
  * has a fixed length, so the counts repeat exactly across runs. */
object ServingTrace {
  val Rounds = 2
  private val Kinds = Reads ++ Writes :+ "compact"
  private val Ways = Seq("http_plain", "http", "api", "direct")
  private val SearchTimed = Seq("knn_exact", "knn_ann", "knn_filtered", "list")

  /** The per-layer metrics only this workload produces. */
  val servingMetrics: Seq[String] = Seq("HttpBinding.transport_ms", "Api.self_ms",
    "Embed.embed_ms", "Embed.jobs", "Collection.append_ms", "Collection.compact_ms",
    "Collection.log_files") ++ SearchTimed.map(k => s"Collection.search_ms.$k") ++
    Kinds.map(k => s"Collection.jobs.$k") ++ Reads.map(k => s"Collection.rows_read_per_result.$k")

  def run(spark: SparkSession, s: Settings): Outcome = {
    val failures = ArrayBuffer[String]()
    var attempted = 0
    val owners = Ways.size + 1
    val served = load(spark, s, s"${s.workDir}/collections")
    try {
      val model = served.model
      attempted += warmUp(served, Seq(owners - 1), owners, s.seed).map { case (kind, d) =>
        d.error.foreach(e => failures += s"warm-up $kind: $e") }.size
      val sc = spark.sparkContext
      val tracer = new Tracer(sc)
      val http = new Http(served.binding.boundPort)
      val api = new Api(spark, served.dataDir)
      val coll = served.collection(spark)
      val byWay = Ways.indices.map(w => new Owner(w, owners, s.seed, served.src))

      /** The direct calls for one op; returns the results it produced. */
      def direct(op: Op): Int = op match {
        case Search(kind, body) =>
          val vec = body \ "text" match {
            case JString(t) => Some(tracer.span("embed", kind) {
              Embed.embedDense(spark.createDataFrame(Seq((0L, t))).toDF("eid", "text"),
                "text", "eid", Dim).collect().head.getSeq[Double](1)
            })
            case _ => body \ "vector" match {
              case JArray(xs) => Some(xs.map { case JDouble(d) => d; case v => sys.error(s"$v") })
              case _ => None
            }
          }
          val args = SearchArgs(vector = vec, k = (body \ "k") match { case JInt(k) => k.toInt; case _ => 0 },
            limit = (body \ "limit") match { case JInt(l) => l.toInt; case _ => 0 },
            offset = (body \ "offset") match { case JInt(o) => o.toInt; case _ => 0 },
            precision = (body \ "precision") match { case JString(p) => p; case _ => "medium" },
            filter = (body \ "filter") match { case JString(f) => Some(f); case _ => None })
          val res = tracer.span("collection", kind)(coll.searchWithStats(args))
          val qe = res.results.queryExecution
          tracer.span("plan", kind)(qe.executedPlan)
          tracer.span("execute", kind)(res.results.collect()).length
        case Upsert(recs) =>
          val df = spark.createDataFrame(recs.map { case (id, r) => (id, r.vec.toSeq, r.meta) })
            .toDF("id", "vector", "metadata")
          tracer.span("collection", "upsert")(coll.addDocuments(df)); 0
        case UpdateMeta(id, meta) =>
          tracer.span("collection", "update_meta") {
            require(coll.getDocument(id).nonEmpty, s"record $id not found")
            coll.updateMetadata(id, meta)
          }; 0
        case Delete(id) =>
          tracer.span("collection", "delete") {
            require(coll.getDocument(id).nonEmpty, s"record $id not found")
            coll.removeDocuments(Seq(id))
          }; 0
        case Compact => tracer.span("collection", "compact")(coll.compact()); 0
      }

      final case class Step(kind: String, way: String, startMs: Long, endMs: Long,
                            ms: Double, results: Int)
      val steps = ArrayBuffer[Step]()
      var listening = false
      def listen(on: Boolean): Unit = if (on != listening) {
        org.apache.spark.PerfbenchBus.drain(sc)
        if (on) sc.addSparkListener(tracer) else sc.removeSparkListener(tracer)
        listening = on
      }

      val c0 = Main.cpuSample()
      val t0 = System.nanoTime()
      var i = 0
      for (_ <- 0 until Rounds; kind <- Kinds) {
        // reads send one request every way; writes come from each way's owner
        val shared = if (Reads.contains(kind)) Some(byWay.head.make(kind)) else None
        val order = Ways.indices.map(w => (w + i) % Ways.size)
        i += 1
        order.foreach { w =>
          val op = shared.getOrElse(byWay(w).make(kind))
          val way = Ways(w)
          listen(way != "http_plain")
          attempted += 1
          val startMs = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val (error, results) =
            try way match {
              case "http_plain" => val d = viaHttp(http, op, model); (d.error, d.results.size)
              case "http" =>
                val d = tracer.span("http", kind)(viaHttp(http, op, model)); (d.error, d.results.size)
              case "api" =>
                val (m, p, b) = request(op)
                val resp = tracer.span("api", kind)(api.handle(m, p, b))
                check(op, resp.status, resp.body) match {
                  case Left(e) => (Some(e), 0)
                  case Right(r) => applyTo(model, op); (None, r.size)
                }
              case "direct" =>
                val n = direct(op); applyTo(model, op); (None, n)
            } catch { case e: Exception => (Some(s"${e.getClass.getName}: ${e.getMessage}"), 0) }
          val ms = (System.nanoTime() - t0) / 1e6
          error.foreach(e => failures += s"$way $kind: $e")
          steps += Step(kind, way, startMs, System.currentTimeMillis(), ms, results)
        }
      }
      listen(false)
      val external = Main.externalCpu(c0, (System.nanoTime() - t0) / 1e9)
      val tr = tracer.snapshot()

      def wayMs(way: String, kind: String) = steps.filter(st => st.way == way && st.kind == kind).map(_.ms)
      val collLayers = Set("collection", "plan", "execute")
      def collIds(kind: String) = tr.spanIds(sp => collLayers(sp.layer) && sp.op == kind)
      def collWall(kind: String) = {
        val sp = tr.spans.filter(sp => collLayers(sp.layer) && sp.op == kind)
        val calls = steps.filter(st => st.way == "direct" && st.kind == kind)
        calls.map(c => sp.filter(x => x.startMs >= c.startMs && x.endMs <= c.endMs).map(_.wallS * 1000).sum)
      }
      val perOp = steps.zipWithIndex.groupBy(_._2 / Ways.size).values
        .map(_.map(_._1)).filter(_.head.kind != "compact").toSeq
      def diff(a: String, b: String) = perOp.flatMap { g =>
        for (x <- g.find(_.way == a); y <- g.find(_.way == b)) yield x.ms - y.ms }
      val directMs = perOp.flatMap { g =>
        for (x <- g.find(_.way == "api"); y <- g.find(_.way == "direct"))
          yield x.ms - (tr.spans.filter(sp => sp.startMs >= y.startMs && sp.endMs <= y.endMs)
            .map(_.wallS * 1000).sum)
      }
      val readResults = Reads.map(k => k -> steps.filter(st => st.way == "direct" && st.kind == k).map(_.results).sum).toMap
      val httpSteps = steps.filter(_.way == "http")
      val windows = httpSteps.map(st => tr.busyAndGap(st.startMs, st.endMs))
      val httpWallS = httpSteps.map(st => (st.endMs - st.startMs) / 1000.0).sum
      val embedIds = tr.spanIds(_.layer == "embed")

      val metrics: Map[String, Double] = Map(
        "HttpBinding.transport_ms" -> Main.median(diff("http", "api")),
        "Api.self_ms" -> Main.median(directMs),
        "Embed.embed_ms" -> Main.median(tr.spans.filter(_.layer == "embed").map(_.wallS * 1000)),
        "Embed.jobs" -> tr.jobsOf(embedIds).toDouble / math.max(1, embedIds.size),
        "Collection.append_ms" -> Main.median(collWall("upsert")),
        "Collection.compact_ms" -> Main.median(collWall("compact")),
        // parquet files of the live log, as the collection resolves it
        "Collection.log_files" -> coll.current().inputFiles.count(_.endsWith(".parquet")).toDouble,
        "catalyst.plan_s" -> tr.spans.filter(_.layer == "plan").map(_.wallS).sum,
        "scheduler.driver_gap_s" -> windows.map(_._2).sum,
        "scheduler.busy_ratio" -> windows.map(_._1).sum / (httpWallS * s.cores),
        "scheduler.unattributed_jobs" -> tr.jobs.count(_.span.isEmpty).toDouble,
        "trace.overhead_ratio" -> steps.filter(_.way == "http").map(_.ms).sum /
          steps.filter(_.way == "http_plain").map(_.ms).sum) ++
        tr.operatorMetrics(tr.spanIds(_.layer == "execute")) ++
        SearchTimed.map(k =>
          s"Collection.search_ms.$k" -> Main.median(collWall(k))) ++
        Kinds.map(k => s"Collection.jobs.$k" ->
          tr.jobsOf(collIds(k)).toDouble / Rounds) ++
        Reads.map(k => s"Collection.rows_read_per_result.$k" ->
          tr.tasksOf(collIds(k)).map(_.inputRows).sum.toDouble / math.max(1, readResults(k)))
      require(servingMetrics.forall(metrics.contains), "a serving metric was not measured")
      val details = JObject(
        "rounds" -> JInt(Rounds),
        "window_attributed_jobs" -> JInt(tr.jobs.count(_.byWindow)),
        "http_ms" -> JObject(Kinds.toList.map(k => k -> Main.timing(wayMs("http", k)))),
        "api_ms" -> JObject(Kinds.toList.map(k => k -> Main.timing(wayMs("api", k)))),
        "direct_ms" -> JObject(Kinds.toList.map(k => k -> Main.timing(wayMs("direct", k)))))
      // the construction layer is not on this workload's path
      Outcome(attempted, failures.toSeq, metrics ++ Batch.constructionMetrics.map(_ -> 0.0),
        details, external)
    } finally served.binding.stop()
  }
}
