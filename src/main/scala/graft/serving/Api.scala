package graft.serving

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.core.{Collection, CollectionOptions, SearchArgs}
import graft.operators.{Embed, Knn}

/** One API response: an HTTP-ish status code and a JSON body. */
final case class ApiResponse(status: Int, body: String)

/** Transport-free re-expression of the reference's REST server
  * (rest.go:67-494): the same routes, request shapes, status codes and
  * response bodies, handled as pure (method, path, body, query) →
  * [[ApiResponse]] calls. The container has zero egress and the build
  * no HTTP dependency, so the transport is deliberately absent — bind
  * `handle` to any HTTP layer (one line per framework) to serve it.
  *
  * Faithful-by-construction choices:
  *  - collection name → storage path mirrors rest.go:57
  *    (query-escaped name under the data folder);
  *  - the collection registry opens what's on disk, like the Go
  *    server's startup scan, and DELETE of an absent collection is a
  *    200 "did not exist" (rest.go:192-199);
  *  - text records and search strings embed on the driver through
  *    the library's deterministic [[graft.operators.Embed.embedText]]
  *    stub, with no Spark job (rest.go:251-272 calls its embedText
  *    per request) — the reference's Ollama client is unreachable
  *    offline;
  *  - searches run through [[Collection.searchWithStats]], so the
  *    response carries the same percent_searched / search_time /
  *    embedding_time telemetry (rest.go:455-476).
  *
  * Deliberate divergences (each also documented at its site):
  *  - the reference mixes JSON error bodies with Go's plain-text
  *    `http.Error`; every error here is uniform JSON
  *    `{"error": message}` with the reference's status code;
  *  - record-insert batches are atomic — the reference inserts
  *    records preceding a vector-less one before 400ing
  *    (rest.go:277-281); same status and body, no partial insert;
  *  - the reference's two insert-path `log.Panicf`/deferred panics
  *    (dimension mismatch, collection.go:431-433; unsupported
  *    quantization at encode, collection.go:796-809) map to clean
  *    400s with the reference's message text, raised up front;
  *  - unroutable method/path combinations are uniformly 400
  *    "Invalid path" — the Go mux's accidental fallthroughs
  *    (main.go:39-49, e.g. PUT …/search reaching handleCollection's
  *    switch and returning an empty 200) are not reproduced.
  */
final class Api private[graft] (spark: SparkSession, rootDir: String, heldBytes: Long) {

  def this(spark: SparkSession, rootDir: String) = this(spark, rootDir, Collection.HeldBytes)

  /** Registry guard mirroring the reference's `s.mutex` (rest.go:104-119,
    * 127-133, 210-214): every registry read/mutation synchronizes here,
    * including the create path's check-then-create-then-put, so
    * concurrent requests from any HTTP binding see a consistent map. */
  private val registryLock = new Object
  private val collections =
    scala.collection.mutable.Map[String, Collection]() ++
      Collection.list(spark, rootDir)
        .map { case (name, path) => name -> Collection.open(spark, path, heldBytes) }

  private def pathFor(name: String): String =
    s"$rootDir/${java.net.URLEncoder.encode(name, "UTF-8")}"

  private def js(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))
  private def ok(v: JValue, status: Int = 200) = ApiResponse(status, js(v))
  private def err(status: Int, msg: String) =
    ApiResponse(status, js(JObject("error" -> JString(msg))))
  private def parsed(body: String): Option[JValue] =
    try Some(JsonMethods.parse(body)) catch { case _: Throwable => None }
  private def str(v: JValue): Option[String] =
    v match { case JString(s) => Some(s); case _ => None }
  private def num(v: JValue): Option[Double] = v match {
    case JInt(i) => Some(i.toDouble); case JDouble(d) => Some(d)
    case JDecimal(d) => Some(d.toDouble); case JLong(l) => Some(l.toDouble)
    case _ => None
  }

  /** Route a request. `path` is the URL path (`/api/v1/collections/…`),
    * `query` the parsed query string (GET search, rest.go:407-414). */
  def handle(method: String, path: String, body: String = "",
             query: Map[String, String] = Map.empty): ApiResponse =
    path.stripPrefix("/").stripSuffix("/").split("/").toList match {
      case "api" :: "v1" :: "collections" :: rest =>
        route(method, rest, body, query)
      case _ => err(400, "Invalid path")
    }

  private def route(method: String, rest: List[String], body: String,
                    query: Map[String, String]): ApiResponse =
    (method, rest) match {
      case ("POST", Nil) => createCollection(body)
      case ("GET", Nil) => listCollections()
      case ("GET", name :: Nil) => collectionStats(name)
      case ("DELETE", name :: Nil) => deleteCollection(name)
      case ("GET", name :: "ids" :: Nil) => collectionIds(name)
      case ("POST", name :: "records" :: Nil) => insertRecords(name, body)
      case ("PUT", name :: "records" :: id :: "metadata" :: Nil) =>
        updateMetadata(name, id, body)
      case ("DELETE", name :: "records" :: id :: Nil) => deleteRecord(name, id)
      case ("POST", name :: "search" :: Nil) => search(name, parsed(body))
      case ("POST", name :: "compact" :: Nil) => compactCollection(name, body)
      // unparseable numeric params fall back to 0, like Atoi's
      // ignored error in rest.go:408-411
      case ("GET", name :: "search" :: Nil) => search(name,
        Some(JObject(query.toList.map { case (k, v) =>
          k -> (if (Set("k", "limit", "offset").contains(k))
                  JInt(BigInt(v.toIntOption.getOrElse(0)))
                else if (k == "radius") JDouble(v.toDoubleOption.getOrElse(0.0))
                else JString(v)) })))
      case _ => err(400, "Invalid path")
    }

  // -- POST /api/v1/collections (rest.go:71-122) --
  private def createCollection(body: String): ApiResponse =
    parsed(body).flatMap { j =>
      for {
        name <- str(j \ "name")
        dim <- num(j \ "vector_size")
      } yield {
        // missing/zero quantization defaults to 64 (collection.go:254-255);
        // an unsupported level is rejected HERE with a 400 — the
        // reference accepts it at create and panics at the first encode
        // (getVectorSize, collection.go:796-809); surfacing the same
        // error early with a clean status is a documented mapping of
        // that panic, not a semantic divergence.
        val quant = num(j \ "quantization").map(_.toInt)
          .filter(_ != 0).getOrElse(64)
        if (!Set(4, 8, 16, 32, 64).contains(quant))
          err(400, "Unsupported quantization level")
        else str(j \ "distance_function") match {
          case Some("euclidean") | Some("cosine") =>
            // lock spans check + create + put, like rest.go:104-119
            registryLock.synchronized {
              if (collections.contains(name))
                err(400, "Collection already exists")
              else {
                val metric =
                  if (str(j \ "distance_function").contains("euclidean"))
                    Knn.Euclidean else Knn.Cosine
                collections(name) = Collection.create(spark,
                  CollectionOptions(name, dim.toInt, metric, quant),
                  pathFor(name), heldBytes)
                ok(JObject(
                  "message" -> JString("Collection created successfully."),
                  "collection_name" -> JString(name)), 201)
              }
            }
          case _ => err(400, "Invalid distance method")
        }
      }
    }.getOrElse(err(400, "Invalid request body"))

  private def statsJson(name: String, c: Collection): JObject = {
    val (n, dim, storage) = c.stats()
    JObject(
      "name" -> JString(name),
      "document_count" -> JLong(n),
      "dimension_count" -> JInt(dim),
      "quantization" -> JInt(c.options.quantization),
      "distance_method" -> JString(c.options.distanceMethod match {
        case Knn.Euclidean => "euclidean"; case _ => "cosine" }),
      "storage_size" -> JLong(storage),
      // the reference samples 100 ids (collection.go:81)
      "average_distance" -> JDouble(c.averageDistance(100)),
      // EXTENSION field (no reference twin — the span store has no
      // generations): the complete compaction generations on disk,
      // oldest first, so an operator reads the retention window the
      // maintenance endpoint below controls
      "complete_generations" -> JArray(c.generations.toList.map(JInt(_))))
  }

  // -- GET /api/v1/collections: stats sorted by size (rest.go:124-151) --
  private def listCollections(): ApiResponse =
    // snapshot under the lock, stats computed outside (rest.go:127-139)
    ok(JArray(registryLock.synchronized(collections.toList)
      .map { case (name, c) => statsJson(name, c) }
      .sortBy(s => -(s \ "document_count").asInstanceOf[JLong].num)))

  private def withCollection(name: String)(f: Collection => ApiResponse) =
    registryLock.synchronized(collections.get(name)) match {
      case Some(c) => f(c)
      case None => err(404, "Collection not found")
    }

  private def collectionStats(name: String): ApiResponse =
    withCollection(name)(c => ok(statsJson(name, c)))

  // -- DELETE: absent is a 200, not an error (rest.go:192-199) --
  private def deleteCollection(name: String): ApiResponse =
    registryLock.synchronized(collections.remove(name)) match {
      case Some(_) =>
        Collection.drop(spark, pathFor(name))
        ok(JObject("message" -> JString("Collection deleted successfully.")))
      case None =>
        ok(JObject("message" -> JString("Collection did not exist.")))
    }

  private def collectionIds(name: String): ApiResponse =
    withCollection(name)(c => ok(JArray(c.getAllIds().toList.map(JLong(_)))))

  // -- POST …/records (rest.go:221-293): batch insert, one embed call.
  // Decode semantics mirror Go's json.Decode into the typed record
  // struct: a missing id defaults to 0 (uint64 zero value, rest.go:238),
  // a present-but-non-numeric id / non-array vector / non-numeric vector
  // element is a decode error (400 "Invalid request body"), and text:""
  // counts as absent (record.Text != "", rest.go:254), so "" with no
  // vector is the 400 "Either vector or text must be provided" path.
  // One deliberate divergence: the batch is atomic — the reference
  // inserts records preceding a vector-less record before 400ing
  // (rest.go:277-281); same status and body, no partial insert here.
  private def insertRecords(name: String, body: String): ApiResponse =
    withCollection(name) { c =>
      parsed(body) match {
        case Some(JArray(records)) =>
          val decoded = records.map { r =>
            val id = r \ "id" match {
              case JNothing | JNull => Some(0L)
              case v => num(v).map(_.toLong)
            }
            val vec: Option[Option[List[Double]]] = r \ "vector" match {
              case JNothing | JNull => Some(None)
              case JArray(xs) =>
                val nums = xs.map(num)
                if (nums.forall(_.isDefined)) Some(Some(nums.flatten))
                else None
              case _ => None
            }
            val meta = r \ "metadata" match {
              case JNothing => "{}"
              case m => js(m)
            }
            for { i <- id; v <- vec }
              yield (i, v, str(r \ "text").filter(_.nonEmpty), meta)
          }
          if (decoded.exists(_.isEmpty)) err(400, "Invalid request body")
          else {
          val specs = decoded.flatten
          if (specs.exists(s => s._2.isEmpty && s._3.isEmpty))
            err(400, "Either vector or text must be provided")
          else {
            // text-only records embed on the driver (rest.go:251)
            val rows = specs.map { case (id, vec, text, meta) =>
              (id, vec.map(_.toSeq).getOrElse(
                Embed.embedText(text.get, c.options.dimensionCount).toSeq), meta)
            }
            // the reference log.Panicf's on a dimension mismatch
            // (collection.go:431-433); that panic maps to a clean 400
            // here with the reference's own message text
            val dim = c.options.dimensionCount
            rows.find(_._2.length != dim) match {
              case Some((_, v, _)) =>
                err(400, "vector size does not match the expected number " +
                  s"of dimensions: expected $dim, got ${v.length}")
              case None =>
                c.addDocuments(
                  spark.createDataFrame(rows).toDF("id", "vector", "metadata"))
                ok(JObject(
                  "message" -> JString("Records inserted successfully.")), 201)
            }
          }
          }
        case _ => err(400, "Invalid request body")
      }
    }

  // -- PUT …/records/{id}/metadata (rest.go:294-340) --
  private def updateMetadata(name: String, idStr: String,
                             body: String): ApiResponse =
    idStr.toLongOption match {
      case None => err(400, "Invalid record ID")
      case Some(id) => withCollection(name) { c =>
        parsed(body).map(j => j \ "metadata") match {
          // the existence check is the write's own read of the id's
          // row, under the collection's write lock
          case Some(meta: JObject) =>
            if (!c.updateMetadata(id, js(meta))) err(404, "Record not found")
            else ok(JObject(
              "message" -> JString("Metadata updated successfully."),
              "id" -> JLong(id)))
          case _ => err(400, "Invalid request body")
        }
      }
    }

  // -- DELETE …/records/{id} (rest.go:341-370): below the held bound
  // the existence check is a binary search over the snapshot's held
  // rows, so it runs no job of its own --
  private def deleteRecord(name: String, idStr: String): ApiResponse =
    idStr.toLongOption match {
      case None => err(400, "Invalid record ID")
      case Some(id) => withCollection(name) { c =>
        if (c.getDocument(id).isEmpty) err(404, "Record not found")
        else {
          c.removeDocuments(Seq(id))
          ok(JObject(
            "message" -> JString("Record deleted successfully."),
            "id" -> JLong(id)))
        }
      }
    }

  // -- POST …/compact: maintenance endpoint (EXTENSION — the
  // reference's span-store maintenance has no REST surface; parquet
  // generations are this engine's equivalent). Optional body
  // {"retain_generations": N} sets how many superseded generations
  // stay readable for in-flight plans (Collection.compact's window,
  // default 1); a fractional or negative N is a 400. --
  private def compactCollection(name: String, body: String): ApiResponse =
    withCollection(name) { c =>
      // An absent/blank body means "defaults"; a NON-empty body that
      // fails to parse is a client error (ADVICE r15 — previously
      // '{"retain_generations": }' silently compacted with the
      // default window while a parseable bad value 400'd).
      if (body.trim.nonEmpty && parsed(body).isEmpty)
        err(400, "Invalid request body")
      else {
        val retain =
          if (body.trim.isEmpty) Some(1)
          else parsed(body).get \ "retain_generations" match {
            case JNothing | JNull => Some(1)
            case v => num(v).filter(d => d >= 0 && d == d.floor).map(_.toInt)
          }
        retain match {
          case None => err(400, "Invalid retain_generations")
          case Some(r) =>
            c.compact(retainGenerations = r)
            ok(JObject(
              "message" -> JString("Compaction completed successfully."),
              "retained_generations" -> JInt(r),
              "complete_generations" -> JArray(c.generations.toList.map(JInt(_)))))
        }
      }
    }

  // -- …/search (rest.go:371-493): GET query params or POST body --
  private def search(name: String, req: Option[JValue]): ApiResponse =
    withCollection(name) { c =>
      req match {
        case None => err(400, "Invalid request body")
        case Some(j) =>
          val filter = str(j \ "filter").filter(_.nonEmpty)
          val filterOk = filter.forall { f =>
            try { graft.query.FilterLang.parse(f); true }
            catch { case _: Throwable => false }
          }
          if (!filterOk) err(400, "Invalid filter query")
          else {
            val t0 = System.nanoTime()
            val textVec = str(j \ "text").filter(_.nonEmpty)
              .map(t => Embed.embedText(t, c.options.dimensionCount).toList)
            val embedMs = (System.nanoTime() - t0) / 1000000L
            // non-empty text wins over an explicit vector: rest.go:441-449
            // embeds the text and OVERWRITES searchArgs.Vector with it
            val vec = textVec.orElse(j \ "vector" match {
              case JArray(xs) => Some(xs.flatMap(num))
              case _ => None
            })
            val args = SearchArgs(
              vector = vec.map(_.toSeq),
              k = num(j \ "k").map(_.toInt).getOrElse(0),
              radius = num(j \ "radius").getOrElse(0.0),
              limit = num(j \ "limit").map(_.toInt).getOrElse(0),
              offset = num(j \ "offset").map(_.toInt).getOrElse(0),
              precision = str(j \ "precision").filter(_.nonEmpty)
                .getOrElse("medium"),
              filter = filter)
            val t1 = System.nanoTime()
            val res = c.searchWithStats(args)
            val hasDist = res.results.columns.contains("dist")
            val rows = res.results.collect().toList.flatMap { r =>
              // unparseable metadata rows are skipped, like rest.go:462
              parsed(r.getAs[String]("metadata")).map { meta =>
                JObject(
                  "id" -> JLong(r.getAs[Long]("id")),
                  "metadata" -> meta,
                  "distance" -> JDouble(
                    if (hasDist) r.getAs[Double]("dist") else 0.0))
              }
            }
            val searchMs = (System.nanoTime() - t1) / 1000000L
            ok(JObject(
              "results" -> JArray(rows),
              "percent_searched" -> JDouble(res.percentSearched),
              "search_time" -> JLong(searchMs),
              "embedding_time" -> JLong(embedMs)))
          }
      }
    }
}
