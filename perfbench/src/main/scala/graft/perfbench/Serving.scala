package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.core.{Collection, CollectionOptions}
import graft.operators.{AnnLsh, Knn}
import graft.serving.{HttpBinding, Serve}

/** The `serving` workload: a collection of generated records behind
  * the loopback HTTP server, driven by closed-loop JDK `HttpClient`
  * clients with a fixed read/write mix. */
object Serving {
  val Records = 20000
  val Dim = 64
  val Clusters = 32
  val K = 10
  /** Owners that only warm up; they write ids disjoint from the
    * clients'. */
  val WarmOwners = 2
  val Name = "bench"
  val Reads = Seq("knn_exact", "knn_ann", "knn_filtered", "text_search", "list")
  val Writes = Seq("upsert", "update_meta", "delete")
  /** The op mix as a fixed cycle of 20: 70% reads (knn_exact 25%,
    * knn_ann 15%, knn_filtered, text_search and list 10% each) and 30%
    * writes (upsert 20%, update_meta and delete 5% each). A fixed order
    * gives every run the same mix however few ops it completes; the
    * seed sets what each op carries. */
  val Cycle = Seq("knn_exact", "upsert", "knn_ann", "list", "knn_exact",
    "knn_filtered", "upsert", "text_search", "knn_exact", "update_meta",
    "knn_ann", "upsert", "list", "knn_exact", "delete", "knn_filtered",
    "knn_ann", "upsert", "text_search", "knn_exact")
  /** Client 0 compacts at these positions of its sequence. */
  private def compactsAt(i: Int): Boolean = i % 25 == 4
  val Filters = Seq(
    """cat == "c3"""",
    """price > 500""",
    """cat == "c1" AND price > 250""",
    """cat IN ["c1", "c2", "c5"]""",
    """ANY(tags[*] == "sale")""",
    """cat CONTAINS "4"""")
  private val Tags = Seq("red", "green", "blue", "new", "sale", "eco")
  private val Words = Seq("vector", "search", "spark", "index", "query", "record",
    "cluster", "distance", "filter", "metadata", "embedding", "collection", "scan",
    "bucket", "plan", "join", "shuffle", "partition", "cache", "model")
  val ProbeCount = 50
  val ExactCheckCount = 5

  final case class Rec(vec: Array[Double], meta: String)

  /** Records and queries from one Gaussian mixture. */
  final class Source {
    private val centres = {
      val r = new Random(0)
      Array.fill(Clusters, Dim)(r.nextGaussian())
    }
    def vector(r: Random): Array[Double] = {
      val c = centres(r.nextInt(Clusters))
      Array.tabulate(Dim)(d => c(d) + 0.35 * r.nextGaussian())
    }
    def meta(r: Random): String = {
      val tags = Tags.filter(_ => r.nextDouble() < 0.3)
      JsonMethods.compact(JsonMethods.render(JObject(
        "cat" -> JString(s"c${r.nextInt(8)}"),
        "price" -> JDouble(r.nextInt(100000) / 100.0),
        "tags" -> JArray(tags.toList.map(JString(_))))))
    }
    def record(r: Random): Rec = Rec(vector(r), meta(r))
    def text(r: Random): String = Seq.fill(4)(Words(r.nextInt(Words.size))).mkString(" ")
  }

  sealed trait Op { def kind: String }
  final case class Search(kind: String, body: JObject) extends Op
  final case class Upsert(recs: Seq[(Long, Rec)]) extends Op { def kind = "upsert" }
  final case class UpdateMeta(id: Long, meta: String) extends Op { def kind = "update_meta" }
  final case class Delete(id: Long) extends Op { def kind = "delete" }
  case object Compact extends Op { def kind = "compact" }

  /** One writer's op sequence. Owner `o` of `n` writes only ids with
    * `id % n == o`, so owners never touch each other's records and the
    * final state does not depend on how their requests interleave. */
  final class Owner(o: Int, n: Int, seed: Long, src: Source) {
    private val r = new Random(seed * 7919 + o)
    private val alive = ArrayBuffer.from((o.toLong until Records.toLong by n.toLong))
    private var nextNew = Records.toLong + o
    private var count = 0

    private def pickAlive(): Long = alive(r.nextInt(alive.size))
    private def removeAlive(id: Long): Unit = {
      val i = alive.indexOf(id)
      alive(i) = alive.last
      alive.remove(alive.size - 1)
    }
    private def knn(kind: String, extra: (String, JValue)*): Search =
      Search(kind, JObject(("vector" -> JArray(src.vector(r).toList.map(JDouble(_)))) ::
        ("k" -> JInt(K)) :: extra.toList))

    /** The next op of this owner's sequence; the sequences of
      * `clients` clients start at different points of the cycle so
      * they are out of phase. */
    def next(compacts: Boolean, clients: Int): Op = {
      count += 1
      if (compacts && compactsAt(count)) Compact
      else make(Cycle((count + o * Cycle.size / clients) % Cycle.size))
    }

    def make(kind: String): Op = kind match {
      case "knn_exact" => knn("knn_exact", "precision" -> JString("exact"))
      case "knn_ann" => knn("knn_ann", "precision" -> JString("medium"))
      case "knn_filtered" => knn("knn_filtered", "precision" -> JString("exact"),
        "filter" -> JString(Filters(r.nextInt(Filters.size))))
      case "text_search" => Search("text_search",
        JObject("text" -> JString(src.text(r)), "k" -> JInt(K)))
      case "list" => Search("list",
        JObject("limit" -> JInt(20), "offset" -> JInt(r.nextInt(1000))))
      case "upsert" =>
        val old = Seq.fill(5)(pickAlive()).distinct
        val fresh = Seq.fill(10 - old.size) { val id = nextNew; nextNew += n; alive += id; id }
        Upsert((old ++ fresh).map(id => id -> src.record(r)))
      case "update_meta" => UpdateMeta(pickAlive(), src.meta(r))
      case "delete" => val id = pickAlive(); removeAlive(id); Delete(id)
      case "compact" => Compact
    }
  }

  /** Brute-force exact top-k over the benchmark's own copy of the
    * records, with the engine's angular distance computed in the same
    * order, so distances match bit for bit. */
  def bruteForce(model: collection.Map[Long, Rec], q: Array[Double], k: Int): Seq[(Long, Double)] = {
    def dot(a: Array[Double], b: Array[Double]) = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val qn = math.sqrt(dot(q, q))
    model.iterator.map { case (id, rec) =>
      val c = dot(rec.vec, q) / (math.sqrt(dot(rec.vec, rec.vec)) * qn)
      id -> math.acos(math.min(math.max(c, -1.0), 1.0)) / math.Pi
    }.toSeq.sortBy { case (id, d) => (d, id) }.take(k)
  }

  /** A request's outcome: when it ran (`System.nanoTime`), and an error
    * when it failed. */
  final case class Done(kind: String, startNs: Long, endNs: Long, error: Option[String],
                        results: Seq[(Long, Double)]) {
    def ms: Double = (endNs - startNs) / 1e6
    /** The share of this request that ran inside [t0, t1]. */
    def shareIn(t0: Long, t1: Long): Double =
      math.max(0L, math.min(endNs, t1) - math.max(startNs, t0)).toDouble /
        math.max(1L, endNs - startNs)
  }

  final class Http(port: Int) {
    private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val base = s"http://127.0.0.1:$port"
    def send(method: String, path: String, body: String): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(base + path))
        .method(method, HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
  }

  private def recordJson(id: Long, rec: Rec): JObject = JObject(
    "id" -> JLong(id), "vector" -> JArray(rec.vec.toList.map(JDouble(_))),
    "metadata" -> JsonMethods.parse(rec.meta))

  /** The request an op sends: (method, path, body). */
  def request(op: Op): (String, String, String) = {
    def js(v: JValue) = JsonMethods.compact(JsonMethods.render(v))
    val c = s"/api/v1/collections/$Name"
    op match {
      case Search(_, body) => ("POST", s"$c/search", js(body))
      case Upsert(recs) => ("POST", s"$c/records", js(JArray(recs.toList.map {
        case (id, rec) => recordJson(id, rec) })))
      case UpdateMeta(id, meta) =>
        ("PUT", s"$c/records/$id/metadata", js(JObject("metadata" -> JsonMethods.parse(meta))))
      case Delete(id) => ("DELETE", s"$c/records/$id", "")
      case Compact => ("POST", s"$c/compact", "")
    }
  }

  /** Checks a response's status and shape; search results must hold k
    * rows sorted by distance, a listing page its rows in id order. */
  def check(op: Op, status: Int, body: String): Either[String, Seq[(Long, Double)]] = {
    val want = op match { case _: Upsert => 201; case _ => 200 }
    if (status != want) Left(s"status $status: ${body.take(200)}")
    else {
      val j = try JsonMethods.parse(body) catch { case e: Exception => JNothing }
      op match {
        case Search(kind, req) =>
          j \ "results" match {
            case JArray(rows) =>
              val got = rows.map(r => ((r \ "id") match {
                case JInt(i) => i.toLong; case JLong(l) => l; case _ => -1L
              }, (r \ "distance") match {
                case JDouble(d) => d; case JInt(i) => i.toDouble; case _ => Double.NaN
              }))
              val n = if (kind == "list") 20 else K
              if (got.size != n) Left(s"$kind returned ${got.size} rows, want $n")
              else if (kind == "list" && got.map(_._1) != got.map(_._1).sorted.distinct)
                Left("list page not in id order")
              else if (kind != "list" && got.map(_._2) != got.map(_._2).sorted)
                Left(s"$kind results not sorted by distance")
              else Right(got)
            case _ => Left(s"malformed body: ${body.take(200)}")
          }
        case _ =>
          if ((j \ "message").isInstanceOf[JString]) Right(Nil)
          else Left(s"malformed body: ${body.take(200)}")
      }
    }
  }

  /** Applies a write that succeeded to the benchmark's copy. */
  def applyTo(model: ConcurrentHashMap[Long, Rec], op: Op): Unit = op match {
    case Upsert(recs) => recs.foreach { case (id, rec) => model.put(id, rec) }
    case UpdateMeta(id, meta) => model.computeIfPresent(id, (_, r) => r.copy(meta = meta))
    case Delete(id) => model.remove(id)
    case _ =>
  }

  /** Sends one op over HTTP, checks it, and applies a successful write. */
  def viaHttp(http: Http, op: Op, model: ConcurrentHashMap[Long, Rec]): Done = {
    val (m, p, b) = request(op)
    val t0 = System.nanoTime()
    val outcome =
      try {
        val (status, body) = http.send(m, p, b)
        check(op, status, body)
      } catch { case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    val t1 = System.nanoTime()
    if (outcome.isRight) applyTo(model, op)
    Done(op.kind, t0, t1, outcome.left.toOption, outcome.getOrElse(Nil))
  }

  /** A served collection: the records loaded, the server booted. */
  final case class Served(dataDir: String, binding: HttpBinding,
                          model: ConcurrentHashMap[Long, Rec], src: Source) {
    def collection(spark: SparkSession): Collection =
      Collection.open(spark, s"$dataDir/$Name")
  }

  /** Bulk-loads the records through `Collection` and boots the server
    * over them. The loaded records are the same for every seed, like
    * the batch tables; the seed sets the requests. */
  def load(spark: SparkSession, s: Settings, dataDir: String): Served = {
    val src = new Source
    val r = new Random(1)
    val model = new ConcurrentHashMap[Long, Rec]()
    (0 until Records).foreach(i => model.put(i.toLong, src.record(r)))
    val rows = (0 until Records).map { i =>
      val rec = model.get(i.toLong)
      (i.toLong, rec.vec.toSeq, rec.meta)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, s.cores))
      .toDF("id", "vector", "metadata")
    Collection.create(spark, CollectionOptions(Name, Dim, Knn.Cosine, 64), s"$dataDir/$Name")
      .addDocuments(df)
    Served(dataDir, Serve.boot(spark, dataDir, 0), model, src)
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  private def liveBytes(model: ConcurrentHashMap[Long, Rec]): Long =
    model.values().asScala.map(r => 8L + 8L * r.vec.length + r.meta.getBytes("UTF-8").length).sum

  /** One op of every kind over HTTP from each of the given owners,
    * concurrently, so the JIT and the server's pools are warm before
    * anything is timed. */
  def warmUp(served: Served, owners: Seq[Int], of: Int, seed: Long): Seq[(String, Done)] = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Done)]()
    val threads = owners.map { o =>
      val owner = new Owner(o, of, seed, served.src)
      val http = new Http(served.binding.boundPort)
      new Thread(() => (Reads ++ Writes :+ "compact").foreach { k =>
        done.add(k -> viaHttp(http, owner.make(k), served.model)) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    done.asScala.toSeq
  }

  def run(spark: SparkSession, s: Settings): Outcome =
    if (s.trace) ServingTrace.run(spark, s) else timed(spark, s)

  private def timed(spark: SparkSession, s: Settings): Outcome = {
    val failures = ArrayBuffer[String]()
    var attempted = 0
    def fail(what: String) = synchronized { failures += what }
    val served = Main.phase("load")(load(spark, s, s"${s.workDir}/collections"))
    // one closed-loop client per core
    val clients = s.cores
    try {
      val model = served.model
      val http0 = new Http(served.binding.boundPort)
      // warm-up owners come after the clients' and write other ids
      attempted += Main.phase("warm-up")(warmUp(served, clients until clients + WarmOwners,
        clients + WarmOwners, s.seed)).map { case (kind, d) =>
        d.error.foreach(e => fail(s"warm-up $kind: $e")) }.size

      // recall of medium search against exact, on probes after the load
      val probeRng = new Random(s.seed + 2)
      val probes = Seq.fill(ProbeCount)(served.src.vector(probeRng))
      val recall = Main.phase("recall") {
        val c = served.collection(spark)
        val qs = spark.createDataFrame(probes.zipWithIndex.map { case (q, i) => (i.toLong, q.toSeq) })
          .toDF("qid", "qvec")
        val approx = AnnLsh.knnBatch(c.current(), "vector", qs, K, c.options.lshPlanes, Dim,
          Knn.Cosine, "id").collect().groupBy(_.getLong(0)).map { case (q, rows) =>
            q -> rows.map(_.getLong(1)).toSet }
        probes.indices.map { i =>
          val exact = bruteForce(model.asScala, probes(i), K).map(_._1).toSet
          approx.getOrElse(i.toLong, Set.empty[Long]).intersect(exact).size.toDouble / K
        }.sum / probes.size
      }
      val setupS = (System.currentTimeMillis() - Main.processStartMs) / 1000.0

      // the timed window: closed-loop clients until the time is up
      val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
      val c0 = Main.cpuSample()
      val t0 = System.nanoTime()
      val deadline = t0 + s.seconds * 1000000000L
      val threads = (0 until clients).map { c =>
        val owner = new Owner(c, clients + WarmOwners, s.seed, served.src)
        val http = new Http(served.binding.boundPort)
        new Thread(() => {
          while (System.nanoTime() < deadline) {
            val op = owner.next(compacts = c == 0, clients)
            val d = viaHttp(http, op, model)
            d.error.foreach(e => fail(s"client $c ${op.kind}: $e"))
            done.add(d)
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val windowS = (System.nanoTime() - t0) / 1e9
      val external = Main.externalCpu(c0, windowS)
      val ops = done.asScala.toVector
      attempted += ops.size

      // after the load: exact answers equal a brute-force scan
      Main.phase("exact check")(probes.take(ExactCheckCount).zipWithIndex.foreach { case (q, i) =>
        attempted += 1
        val op = Search("knn_exact", JObject("vector" -> JArray(q.toList.map(JDouble(_))),
          "k" -> JInt(K), "precision" -> JString("exact")))
        val d = viaHttp(http0, op, model)
        d.error match {
          case Some(e) => fail(s"exact probe $i: $e")
          case None =>
            val want = bruteForce(model.asScala, q, K)
            val same = d.results.size == want.size && d.results.zip(want).forall {
              case ((a, da), (b, db)) => a == b && math.abs(da - db) <= 1e-12 }
            if (!same) fail(s"exact probe $i: got ${d.results.map(_._1)} want ${want.map(_._1)}")
        }
      })
      val stored = dirBytes(new java.io.File(served.dataDir)).toDouble

      def ms(kinds: Seq[String]) = ops.filter(o => kinds.contains(o.kind) && o.error.isEmpty).map(_.ms)
      val timings = JObject((Reads ++ Writes :+ "compact").toList.map(k => k -> Main.timing(ms(Seq(k)))))
      val details = JObject(
        "setup_s" -> JDouble(setupS),
        "clients" -> JInt(clients),
        "window_s" -> JDouble(windowS),
        "requests" -> JInt(ops.size),
        "read_ms" -> Main.timing(ms(Reads)),
        "write_ms" -> Main.timing(ms(Writes)),
        "op_ms" -> timings,
        "recall_at_10" -> JDouble(recall),
        "stored_bytes_per_live_byte" -> JDouble(stored / liveBytes(model)),
        "live_records" -> JInt(model.size()))
      val metrics = Map(
        "setup_s" -> setupS,
        // requests in flight at either edge count by the share of
        // them inside the window
        "ops_per_s" -> ops.map(_.shareIn(t0, deadline)).sum / s.seconds,
        "live_heap_mb" -> Main.liveHeapMb())
      Outcome(attempted, failures.toSeq, metrics, details, external)
    } finally served.binding.stop()
  }
}
