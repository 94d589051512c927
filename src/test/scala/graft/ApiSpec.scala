package graft

import graft.core.Collection
import graft.serving.{Api, ApiResponse}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The reference's REST handler tests (rest_test.go:30-600, MIT),
  * ported against [[graft.serving.Api]]'s transport-free handle():
  * same routes, request bodies, status codes and response shapes.
  * Fixture vectors/ids/metadata are the reference's own.
  */
class ApiSpec extends SparkSpec {

  private def newApi(heldBytes: Long = Collection.HeldBytes): Api =
    new Api(spark, tempDir("api").toString, heldBytes)

  private def json(r: ApiResponse): JValue = JsonMethods.parse(r.body)
  private def mkCollection(api: Api, name: String = "test_collection",
                           dim: Int = 5): Unit = {
    val r = api.handle("POST", "/api/v1/collections",
      s"""{"name": "$name", "vector_size": $dim, "quantization": 64,
         | "distance_function": "cosine"}""".stripMargin)
    assert(r.status == 201, r.body)
  }
  private def insert(api: Api, name: String, id: Long, vec: Seq[Double],
                     meta: String): Unit = {
    val r = api.handle("POST", s"/api/v1/collections/$name/records",
      s"""[{"id": $id, "vector": [${vec.mkString(",")}], "metadata": $meta}]""")
    assert(r.status == 201, r.body)
  }

  test("create collection returns 201 with name (rest_test.go:250)") {
    val api = newApi()
    val r = api.handle("POST", "/api/v1/collections",
      """{"name": "test_collection", "vector_size": 128,
        | "quantization": 64, "distance_function": "cosine"}""".stripMargin)
    assert(r.status == 201)
    assert((json(r) \ "message") == JString("Collection created successfully."))
    assert((json(r) \ "collection_name") == JString("test_collection"))
    // duplicate -> 400, invalid metric -> 400 (rest.go:96-109)
    assert(api.handle("POST", "/api/v1/collections",
      """{"name": "test_collection", "vector_size": 128,
        | "distance_function": "cosine"}""".stripMargin).status == 400)
    assert(api.handle("POST", "/api/v1/collections",
      """{"name": "x", "vector_size": 8,
        | "distance_function": "manhattan"}""".stripMargin).status == 400)
  }

  test("collection ids lists every record id (rest_test.go:30)") {
    val api = newApi()
    mkCollection(api)
    insert(api, "test_collection", 1234567890L,
      Seq(0.1, 0.2, 0.3, 0.4, 0.5), """{"key1":"value1"}""")
    insert(api, "test_collection", 1234567891L,
      Seq(0.5, 0.4, 0.3, 0.2, 0.1), """{"key2":"value2"}""")
    val r = api.handle("GET", "/api/v1/collections/test_collection/ids")
    assert(r.status == 200)
    val ids = json(r).asInstanceOf[JArray].arr.map {
      case JLong(l) => l; case JInt(i) => i.toLong; case x => fail(s"$x") }
    assert(ids == List(1234567890L, 1234567891L))
  }

  test("search paginates with limit and offset (rest_test.go:72)") {
    val api = newApi()
    mkCollection(api)
    for (i <- 0 until 10)
      insert(api, "test_collection", i.toLong,
        Seq(i * 0.1, i * 0.2, i * 0.3, i * 0.4, i * 0.5), s"""{"id":$i}""")
    def checkSearch(limit: Int, offset: Int, expected: Seq[Int]): Unit = {
      val r = api.handle("POST", "/api/v1/collections/test_collection/search",
        s"""{"limit": $limit, "offset": $offset}""")
      assert(r.status == 200, r.body)
      val got = (json(r) \ "results").asInstanceOf[JArray].arr.map(res =>
        (res \ "id") match { case JLong(l) => l.toInt; case JInt(i) => i.toInt
          case x => fail(s"$x") })
      assert(got == expected.toList, s"limit=$limit offset=$offset")
    }
    checkSearch(3, 0, Seq(0, 1, 2))
    checkSearch(3, 3, Seq(3, 4, 5))
    checkSearch(3, 6, Seq(6, 7, 8))
    checkSearch(3, 9, Seq(9))
    checkSearch(5, 7, Seq(7, 8, 9))
    checkSearch(20, 0, 0 until 10)
    checkSearch(3, 20, Seq.empty)
  }

  test("delete collection: 200 both present and absent (rest_test.go:162)") {
    val api = newApi()
    mkCollection(api, dim = 128)
    val r = api.handle("DELETE", "/api/v1/collections/test_collection")
    assert(r.status == 200)
    assert((json(r) \ "message") == JString("Collection deleted successfully."))
    val r2 = api.handle("DELETE", "/api/v1/collections/test_collection")
    assert(r2.status == 200)
    assert((json(r2) \ "message") == JString("Collection did not exist."))
    // and its storage is gone: a GET now 404s
    assert(api.handle("GET", "/api/v1/collections/test_collection").status == 404)
  }

  test("knn search returns results with distance (rest_test.go:200)") {
    val api = newApi()
    mkCollection(api)
    insert(api, "test_collection", 1234567890L,
      Seq(0.1, 0.2, 0.3, 0.4, 0.5), """{"key1":"value1"}""")
    val r = api.handle("POST", "/api/v1/collections/test_collection/search",
      """{"vector": [0.1, 0.2, 0.3, 0.4, 0.5], "k": 1}""")
    assert(r.status == 200, r.body)
    val results = (json(r) \ "results").asInstanceOf[JArray].arr
    assert(results.nonEmpty)
    assert((results.head \ "metadata" \ "key1") == JString("value1"))
    assert(num(results.head \ "distance").exists(_ < 1e-9))
    assert(num(json(r) \ "percent_searched").exists(_ > 0.0))
  }

  test("insert accepts vector and text records in one batch (rest_test.go:341)") {
    val api = newApi()
    mkCollection(api)
    val r = api.handle("POST", "/api/v1/collections/test_collection/records",
      """[{"id": 1234567890, "vector": [0.1, 0.2, 0.3, 0.4, 0.5],
        |  "metadata": {"key1": "value1"}},
        | {"id": 1234567891, "text": "example text",
        |  "metadata": {"key2": "value2"}}]""".stripMargin)
    assert(r.status == 201, r.body)
    assert((json(r) \ "message") == JString("Records inserted successfully."))
    val ids = json(api.handle("GET", "/api/v1/collections/test_collection/ids"))
    assert(ids.asInstanceOf[JArray].arr.size == 2)
    // neither vector nor text -> 400 (rest.go:276)
    assert(api.handle("POST", "/api/v1/collections/test_collection/records",
      """[{"id": 7, "metadata": {}}]""").status == 400)
  }

  test("update record metadata; missing record 404s (rest_test.go:403)") {
    val api = newApi()
    mkCollection(api)
    insert(api, "test_collection", 1234567890L,
      Seq(0.1, 0.2, 0.3, 0.4, 0.5), """{"key1":"value1"}""")
    val r = api.handle("PUT",
      "/api/v1/collections/test_collection/records/1234567890/metadata",
      """{"metadata": {"key1": "new_value1"}}""")
    assert(r.status == 200, r.body)
    assert((json(r) \ "message") == JString("Metadata updated successfully."))
    assert(num(json(r) \ "id").contains(1234567890.0))
    // the metadata actually changed
    val s = api.handle("POST", "/api/v1/collections/test_collection/search",
      """{"limit": 10}""")
    val metas = (json(s) \ "results").asInstanceOf[JArray].arr
      .map(res => res \ "metadata" \ "key1")
    assert(metas == List(JString("new_value1")))
    assert(api.handle("PUT",
      "/api/v1/collections/test_collection/records/99/metadata",
      """{"metadata": {}}""").status == 404)
  }

  // below the held bound the existence check reads the held rows; at a
  // bound of 0 it reads the checkpointed view in a job of its own
  for ((side, heldBytes, most) <- Seq(("", Collection.HeldBytes, 3), (" (checkpointed)", 0L, 4)))
    test(s"PUT metadata after a write runs at most 4 jobs; a 404 commits nothing$side") {
      val root = tempDir("api-meta").toString
      val api = new Api(spark, root, heldBytes)
      mkCollection(api)
      def put(id: Long, status: Int): Unit = {
        val r = api.handle("PUT", s"/api/v1/collections/test_collection/records/$id/metadata",
          """{"metadata": {"k": 2}}""")
        assert(r.status == status, r.body)
      }
      insert(api, "test_collection", 1L, Seq(0.1, 0.2, 0.3, 0.4, 0.5), """{"k": 1}""")
      val found = jobsOf(put(1L, 200))
      assert(found.size <= most, s"$found")
      assert(Collection.open(spark, s"$root/test_collection").getDocument(1L).map(_._2)
        .contains("""{"k":2}"""))
      insert(api, "test_collection", 2L, Seq(0.5, 0.4, 0.3, 0.2, 0.1), "{}")
      def commits = new java.io.File(s"$root/test_collection._log").list().toSet
      val before = commits
      val missing = jobsOf(put(99L, 404))
      assert(missing.size <= most, s"$missing")
      assert(commits == before)
    }

  /** Sends `request` after a write, and returns the jobs it ran. */
  private def jobsAfterAWrite(request: Api => ApiResponse, status: Int): Seq[SparkSpec.Job] = {
    val api = newApi()
    mkCollection(api)
    insert(api, "test_collection", 1L, Seq(0.1, 0.2, 0.3, 0.4, 0.5), """{"k": 1}""")
    assert(api.handle("GET", "/api/v1/collections/test_collection/ids").status == 200)
    insert(api, "test_collection", 2L, Seq(0.5, 0.4, 0.3, 0.2, 0.1), "{}")
    var r: ApiResponse = null
    val jobs = jobsOf { r = request(api) }
    assert(r.status == status, r.body)
    jobs
  }

  private def described(jobs: Seq[SparkSpec.Job]): Seq[String] =
    jobs.map(_.description.getOrElse("none").takeWhile(_ != ' '))

  test("PUT metadata after a write: the snapshot build and the write, 3 jobs") {
    val put = (id: Long) => (api: Api) => api.handle("PUT",
      s"/api/v1/collections/test_collection/records/$id/metadata", """{"metadata": {"k": 2}}""")
    assert(described(jobsAfterAWrite(put(1L), 200)) ==
      Seq("Collection.snapshot", "Collection.snapshot", "Collection.write"))
    // a 404 builds the snapshot and writes nothing
    assert(described(jobsAfterAWrite(put(99L), 404)) ==
      Seq("Collection.snapshot", "Collection.snapshot"))
  }

  test("DELETE a record after a write: the snapshot build and the write, 3 jobs") {
    val delete = (id: Long) => (api: Api) =>
      api.handle("DELETE", s"/api/v1/collections/test_collection/records/$id")
    assert(described(jobsAfterAWrite(delete(2L), 200)) ==
      Seq("Collection.snapshot", "Collection.snapshot", "Collection.write"))
    assert(described(jobsAfterAWrite(delete(99L), 404)) ==
      Seq("Collection.snapshot", "Collection.snapshot"))
  }

  test("every Collection job an Api request runs carries a job description") {
    val api = newApi()
    val c = "/api/v1/collections/test_collection"
    val requests = Seq[(String, String, String)](
      ("POST", "/api/v1/collections",
        """{"name": "test_collection", "vector_size": 5, "distance_function": "cosine"}"""),
      ("POST", s"$c/records", """[{"id": 1, "vector": [0.1, 0.2, 0.3, 0.4, 0.5], "metadata": {"t": "a"}},
        | {"id": 2, "text": "some words", "metadata": {"t": "b"}}]""".stripMargin),
      ("GET", "/api/v1/collections", ""),
      ("GET", c, ""),
      ("GET", s"$c/ids", ""),
      ("POST", s"$c/search", """{"vector": [0.1, 0.2, 0.3, 0.4, 0.5], "k": 1, "precision": "exact"}"""),
      ("POST", s"$c/search", """{"vector": [0.1, 0.2, 0.3, 0.4, 0.5], "k": 1}"""),
      ("POST", s"$c/search", """{"vector": [0.1, 0.2, 0.3, 0.4, 0.5], "radius": 0.5}"""),
      ("POST", s"$c/search", """{"text": "some words", "k": 1, "filter": "t == \"b\""}"""),
      ("POST", s"$c/search", """{"limit": 1, "offset": 1}"""),
      ("PUT", s"$c/records/1/metadata", """{"metadata": {"t": "c"}}"""),
      ("DELETE", s"$c/records/2", ""),
      ("POST", s"$c/compact", ""),
      ("DELETE", c, ""))
    val ran = requests.map { case (method, path, body) =>
      var r: ApiResponse = null
      val jobs = jobsOf { r = api.handle(method, path, body) }
      assert(r.status < 300, s"$method $path: ${r.body}")
      val bare = jobs.filterNot(_.description.exists(_.startsWith("Collection.")))
      assert(bare.isEmpty, s"$method $path ran jobs without a description: $bare")
      jobs.size
    }
    // builds, writes, stats and the compaction ran jobs
    assert(ran.sum > 0)
  }

  test("delete record tombstones it; missing record 404s (rest_test.go:452)") {
    val api = newApi()
    mkCollection(api)
    insert(api, "test_collection", 1234567890L,
      Seq(0.1, 0.2, 0.3, 0.4, 0.5), """{"key1":"value1"}""")
    val r = api.handle("DELETE",
      "/api/v1/collections/test_collection/records/1234567890")
    assert(r.status == 200, r.body)
    assert(num(json(r) \ "id").contains(1234567890.0))
    assert(json(api.handle("GET", "/api/v1/collections/test_collection/ids"))
      .asInstanceOf[JArray].arr.isEmpty)
    assert(api.handle("DELETE",
      "/api/v1/collections/test_collection/records/1234567890").status == 404)
  }

  test("search with DSL filter prunes non-matching records (rest_test.go:504)") {
    val api = newApi()
    mkCollection(api)
    insert(api, "test_collection", 1L,
      Seq(0.1, 0.2, 0.3, 0.4, 0.5), """{"category":"A", "score":80}""")
    insert(api, "test_collection", 2L,
      Seq(0.2, 0.3, 0.4, 0.5, 0.6), """{"category":"B", "score":90}""")
    insert(api, "test_collection", 3L,
      Seq(0.3, 0.4, 0.5, 0.6, 0.7), """{"category":"A", "score":70}""")
    val r = api.handle("POST", "/api/v1/collections/test_collection/search",
      """{"vector": [0.1, 0.2, 0.3, 0.4, 0.5], "k": 3, "precision": "exact",
        | "filter": "category == \"A\" AND score > 75"}""".stripMargin)
    assert(r.status == 200, r.body)
    val results = (json(r) \ "results").asInstanceOf[JArray].arr
    assert(results.size == 1)
    assert(num(results.head \ "id").contains(1.0))
    assert((results.head \ "metadata" \ "category") == JString("A"))
    // malformed filter -> 400 (rest.go:430)
    assert(api.handle("POST", "/api/v1/collections/test_collection/search",
      """{"k": 1, "filter": "category ==="}""").status == 400)
  }

  test("list collections: stats sorted by size desc (rest_test.go:572)") {
    val api = newApi()
    mkCollection(api, "collection1", dim = 4)
    mkCollection(api, "collection2", dim = 4)
    insert(api, "collection2", 1L, Seq(0.1, 0.2, 0.3, 0.4), "{}")
    insert(api, "collection2", 2L, Seq(0.4, 0.3, 0.2, 0.1), "{}")
    insert(api, "collection1", 1L, Seq(0.5, 0.5, 0.5, 0.5), "{}")
    val r = api.handle("GET", "/api/v1/collections")
    assert(r.status == 200)
    val arr = json(r).asInstanceOf[JArray].arr
    assert(arr.map(c => str(c \ "name")) ==
      List(Some("collection2"), Some("collection1")))
    assert(arr.map(c => num(c \ "document_count")) ==
      List(Some(2.0), Some(1.0)))
    assert(str(arr.head \ "distance_method").contains("cosine"))
    // GET on one collection returns the same stats shape (rest_test.go:292)
    val one = api.handle("GET", "/api/v1/collections/collection2")
    assert(one.status == 200)
    assert(num(json(one) \ "dimension_count").contains(4.0))
    // a fresh Api over the same rootDir reopens from disk (startup scan)
    assert(api.handle("GET", "/api/v1/collections/nope").status == 404)
  }

  test("GET search accepts query parameters (rest.go:407-414)") {
    val api = newApi()
    mkCollection(api)
    for (i <- 0 until 5)
      insert(api, "test_collection", i.toLong,
        Seq(i * 0.1, 0.2, 0.3, 0.4, 0.5), s"""{"i":$i}""")
    val r = api.handle("GET", "/api/v1/collections/test_collection/search",
      "", Map("limit" -> "2", "offset" -> "1"))
    assert(r.status == 200, r.body)
    val ids = (json(r) \ "results").asInstanceOf[JArray].arr
      .flatMap(res => num(res \ "id"))
    assert(ids == List(1.0, 2.0))
    // filter via query param; bad numeric params fall back to 0
    val f = api.handle("GET", "/api/v1/collections/test_collection/search",
      "", Map("limit" -> "10", "offset" -> "junk", "filter" -> "i >= 3"))
    assert((json(f) \ "results").asInstanceOf[JArray].arr
      .flatMap(res => num(res \ "id")) == List(3.0, 4.0))
  }

  test("radius search returns exactly the records within the radius") {
    val api = newApi()
    val r = api.handle("POST", "/api/v1/collections",
      """{"name": "radius_col", "vector_size": 5,
        | "distance_function": "euclidean"}""".stripMargin)
    assert(r.status == 201, r.body)
    insert(api, "radius_col", 1L, Seq(1.0, 0, 0, 0, 0), """{"d":"zero"}""")
    insert(api, "radius_col", 2L, Seq(0.0, 1, 0, 0, 0), """{"d":"sqrt2"}""")
    insert(api, "radius_col", 3L, Seq(3.0, 0, 0, 0, 0), """{"d":"two"}""")
    val s = api.handle("POST", "/api/v1/collections/radius_col/search",
      """{"vector": [1.0, 0, 0, 0, 0], "radius": 1.5, "precision": "exact"}""")
    assert(s.status == 200, s.body)
    val got = (json(s) \ "results").asInstanceOf[JArray].arr
      .flatMap(res => num(res \ "id")).toSet
    assert(got == Set(1.0, 2.0))
  }

  test("search by text embeds the query and finds the matching text record") {
    val api = newApi()
    mkCollection(api, dim = 16)
    val r = api.handle("POST", "/api/v1/collections/test_collection/records",
      """[{"id": 1, "text": "the quick brown fox", "metadata": {"n": 1}},
        | {"id": 2, "text": "completely unrelated words here", "metadata": {"n": 2}}]"""
        .stripMargin)
    assert(r.status == 201, r.body)
    val s = api.handle("POST", "/api/v1/collections/test_collection/search",
      """{"text": "the quick brown fox", "k": 1, "precision": "exact"}""")
    assert(s.status == 200, s.body)
    val results = (json(s) \ "results").asInstanceOf[JArray].arr
    // the deterministic embedder maps identical text to the identical
    // vector, so the matching record comes back at distance ~0
    assert(results.map(res => num(res \ "id")) == List(Some(1.0)))
    assert(num(results.head \ "distance").exists(_ < 1e-9))
    assert(num(json(s) \ "embedding_time").isDefined)
  }

  test("text embeds on the driver: stored bits equal the reference, no embedding job") {
    val root = tempDir("api").toString
    val api = new Api(spark, root)
    val r = api.handle("POST", "/api/v1/collections",
      """{"name": "emb", "vector_size": 16, "distance_function": "euclidean"}""")
    assert(r.status == 201, r.body)
    val text = "the quick brown fox the"
    val ref = HashEmbedRef.embed(text, 16)
    def post(path: String, body: String): ApiResponse = {
      val resp = api.handle("POST", s"/api/v1/collections/emb/$path", body)
      assert(resp.status < 300, resp.body)
      resp
    }
    def vec(v: Seq[Double]) = v.mkString("[", ",", "]")
    post("records", s"""[{"id": 0, "vector": ${vec(HashEmbedRef.embed("warm up", 16))}, "metadata": {}}]""")
    // a text-only insert runs the jobs an insert of its vector runs
    val textInsert = jobsOf(post("records", s"""[{"id": 1, "text": "$text", "metadata": {}}]"""))
    val vecInsert = jobsOf(post("records",
      s"""[{"id": 2, "vector": ${vec(HashEmbedRef.embed("other words", 16))}, "metadata": {}}]"""))
    assert(textInsert.size == vecInsert.size, s"text: $textInsert; vector: $vecInsert")
    assert(Collection.open(spark, s"$root/emb").getDocument(1L).map(_._1).contains(ref))
    // and a text search the jobs of a search by its vector
    post("search", s"""{"vector": ${vec(ref)}, "k": 1, "precision": "exact"}""")
    var hit: ApiResponse = null
    val textSearch = jobsOf {
      hit = post("search", s"""{"text": "$text", "k": 1, "precision": "exact"}""")
    }
    val vecSearch = jobsOf(post("search", s"""{"vector": ${vec(ref)}, "k": 1, "precision": "exact"}"""))
    assert(textSearch.size == vecSearch.size, s"text: $textSearch; vector: $vecSearch")
    val results = (json(hit) \ "results").asInstanceOf[JArray].arr
    assert(results.map(res => num(res \ "id")) == List(Some(1.0)))
    assert(num(results.head \ "distance").contains(0.0))
  }

  test("compact endpoint: retention window controllable, generations in stats") {
    val api = newApi()
    mkCollection(api)
    insert(api, "test_collection", 1L, Seq(0.1, 0.2, 0.3, 0.4, 0.5), "{}")
    // pre-compact stats expose an empty generation list
    val st0 = json(api.handle("GET", "/api/v1/collections/test_collection"))
    assert((st0 \ "complete_generations") == JArray(Nil))
    // default retention (empty body -> retain_generations = 1)
    val r1 = api.handle("POST", "/api/v1/collections/test_collection/compact")
    assert(r1.status == 200, r1.body)
    assert((json(r1) \ "message") ==
      JString("Compaction completed successfully."))
    assert((json(r1) \ "retained_generations") == JInt(1))
    insert(api, "test_collection", 2L, Seq(0.5, 0.4, 0.3, 0.2, 0.1), "{}")
    // explicit window: gen1 (superseded) stays readable next to gen2
    val r2 = api.handle("POST", "/api/v1/collections/test_collection/compact",
      """{"retain_generations": 1}""")
    assert(r2.status == 200, r2.body)
    assert((json(r2) \ "complete_generations") ==
      JArray(List(JInt(1), JInt(2))))
    val st = json(api.handle("GET", "/api/v1/collections/test_collection"))
    assert((st \ "complete_generations") == JArray(List(JInt(1), JInt(2))))
    assert((st \ "document_count") == JInt(2))
    // zero retention drops every superseded generation
    val r3 = api.handle("POST", "/api/v1/collections/test_collection/compact",
      """{"retain_generations": 0}""")
    assert((json(r3) \ "complete_generations") == JArray(List(JInt(3))))
    // fractional / negative windows are 400s; absent collection 404s
    assert(api.handle("POST", "/api/v1/collections/test_collection/compact",
      """{"retain_generations": -1}""").status == 400)
    assert(api.handle("POST", "/api/v1/collections/test_collection/compact",
      """{"retain_generations": 1.5}""").status == 400)
    // a non-empty body that fails to PARSE is a 400 too (ADVICE r15 —
    // it must not silently compact with the default window)
    assert(api.handle("POST", "/api/v1/collections/test_collection/compact",
      """{"retain_generations": }""").status == 400)
    assert(api.handle("POST", "/api/v1/collections/nope/compact").status == 404)
    // data still searchable after the maintenance cycle (the probe
    // covers the query's own bucket, so pin the exact-match hit)
    val s = api.handle("POST", "/api/v1/collections/test_collection/search",
      """{"vector": [0.1, 0.2, 0.3, 0.4, 0.5], "k": 2}""")
    assert(s.status == 200, s.body)
    val hits = (json(s) \ "results").asInstanceOf[JArray].arr
    assert(hits.exists(h => (h \ "id") == JInt(1) &&
      (h \ "distance") == JDouble(0.0)), s.body)
  }

  test("registry reopens persisted collections from disk") {
    val root = tempDir("api").toString
    val api = new Api(spark, root)
    val r = api.handle("POST", "/api/v1/collections",
      """{"name": "persisted", "vector_size": 3,
        | "distance_function": "euclidean"}""".stripMargin)
    assert(r.status == 201, r.body)
    api.handle("POST", "/api/v1/collections/persisted/records",
      """[{"id": 5, "vector": [1.0, 2.0, 2.0], "metadata": {"a": 1}}]""")
    val api2 = new Api(spark, root)
    val ids = json(api2.handle("GET", "/api/v1/collections/persisted/ids"))
    assert(ids.asInstanceOf[JArray].arr.nonEmpty)
    val s = json(api2.handle("GET", "/api/v1/collections/persisted"))
    assert(str(s \ "distance_method").contains("euclidean"))
  }

  test("search with both text and vector: the text embedding wins (rest.go:441-449)") {
    val root = tempDir("api").toString
    val api = new Api(spark, root)
    mkCollection(api, dim = 16)
    val r = api.handle("POST", "/api/v1/collections/test_collection/records",
      """[{"id": 1, "text": "alpha alpha alpha", "metadata": {"n": 1}},
        | {"id": 2, "text": "omega omega omega", "metadata": {"n": 2}}]"""
        .stripMargin)
    assert(r.status == 201, r.body)
    // the explicit vector is record 2's STORED embedding — an exact
    // match if the vector were used. The reference embeds non-empty
    // text and OVERWRITES the vector (rest.go:441-449), so the match
    // must still be record 1.
    val c = graft.core.Collection.open(spark, s"$root/test_collection")
    val v2 = c.getDocument(2L).get._1
    val s = api.handle("POST", "/api/v1/collections/test_collection/search",
      s"""{"text": "alpha alpha alpha", "vector": [${v2.mkString(",")}],
         | "k": 1, "precision": "exact"}""".stripMargin)
    assert(s.status == 200, s.body)
    val got = (json(s) \ "results").asInstanceOf[JArray].arr
      .flatMap(res => num(res \ "id"))
    assert(got == List(1.0), "text embedding must override the explicit vector")
  }

  test("insert decode parity: default id, empty text, bad elements (rest.go:221-293)") {
    val api = newApi()
    mkCollection(api)
    // missing id defaults to 0 like Go's uint64 zero value (rest.go:238)
    val r0 = api.handle("POST", "/api/v1/collections/test_collection/records",
      """[{"vector": [0.1, 0.2, 0.3, 0.4, 0.5], "metadata": {}}]""")
    assert(r0.status == 201, r0.body)
    val ids = json(api.handle("GET", "/api/v1/collections/test_collection/ids"))
      .asInstanceOf[JArray].arr.flatMap(num)
    assert(ids == List(0.0))
    // text:"" with no vector is record.Text != "" -> the 400
    // "Either vector or text must be provided" path (rest.go:254,276)
    val r1 = api.handle("POST", "/api/v1/collections/test_collection/records",
      """[{"id": 7, "text": "", "metadata": {}}]""")
    assert(r1.status == 400, r1.body)
    assert((json(r1) \ "error") ==
      JString("Either vector or text must be provided"))
    // a non-numeric vector element / non-array vector / non-numeric id
    // is a decode error, not a silently shortened vector
    for (body <- Seq(
        """[{"id": 8, "vector": [0.1, "x", 0.3, 0.4, 0.5]}]""",
        """[{"id": 8, "vector": "nope"}]""",
        """[{"id": "eight", "vector": [0.1, 0.2, 0.3, 0.4, 0.5]}]""")) {
      val r = api.handle("POST",
        "/api/v1/collections/test_collection/records", body)
      assert(r.status == 400, s"$body -> ${r.body}")
      assert((json(r) \ "error") == JString("Invalid request body"), body)
    }
  }

  test("insert wrong dimension count 400s with the reference's message (collection.go:431)") {
    val api = newApi()
    mkCollection(api, dim = 5)
    val r = api.handle("POST", "/api/v1/collections/test_collection/records",
      """[{"id": 1, "vector": [0.1, 0.2, 0.3]}]""")
    assert(r.status == 400, r.body)
    assert((json(r) \ "error") == JString(
      "vector size does not match the expected number of dimensions: " +
      "expected 5, got 3"))
    // nothing was inserted
    assert(json(api.handle("GET", "/api/v1/collections/test_collection/ids"))
      .asInstanceOf[JArray].arr.isEmpty)
  }

  test("create quantization: 0/missing default to 64, unsupported 400s (collection.go:254,796)") {
    val api = newApi()
    val r = api.handle("POST", "/api/v1/collections",
      """{"name": "qz", "vector_size": 4, "quantization": 0,
        | "distance_function": "cosine"}""".stripMargin)
    assert(r.status == 201, r.body)
    assert(num(json(api.handle("GET", "/api/v1/collections/qz")) \
      "quantization").contains(64.0))
    val bad = api.handle("POST", "/api/v1/collections",
      """{"name": "qbad", "vector_size": 4, "quantization": 7,
        | "distance_function": "cosine"}""".stripMargin)
    assert(bad.status == 400, bad.body)
    assert((json(bad) \ "error") == JString("Unsupported quantization level"))
    assert(api.handle("GET", "/api/v1/collections/qbad").status == 404)
  }

  test("forest collection percent_searched matches AnnLsh.percentSearchedForest") {
    val root = tempDir("api").toString
    // a forest collection (lshTables > 1) created through the library,
    // reopened by the Api's startup scan — the serving path must report
    // the same probed-bucket mass as the operator it delegates to
    val opts = graft.core.CollectionOptions("forest_col", 8,
      graft.operators.Knn.Cosine, 64, lshPlanes = 3, lshTables = 4)
    graft.core.Collection.create(spark, opts, s"$root/forest_col")
    val api = new Api(spark, root)
    val rnd = new scala.util.Random(42)
    val recs = (1 to 60).map { i =>
      val v = Seq.fill(8)(rnd.nextDouble() * 2 - 1)
      s"""{"id": $i, "vector": [${v.mkString(",")}], "metadata": {}}"""
    }.mkString("[", ",", "]")
    assert(api.handle("POST",
      "/api/v1/collections/forest_col/records", recs).status == 201)
    val qv = Seq.fill(8)(rnd.nextDouble() * 2 - 1)
    val s = api.handle("POST", "/api/v1/collections/forest_col/search",
      s"""{"vector": [${qv.mkString(",")}], "k": 3}""")
    assert(s.status == 200, s.body)
    val pct = num(json(s) \ "percent_searched").get
    val c = graft.core.Collection.open(spark, s"$root/forest_col")
    val qdf = spark.createDataFrame(Seq(Tuple1(qv))).toDF("qvec")
    val expected = graft.operators.AnnLsh.percentSearchedForest(
      c.current(), "vector", qdf, 4, 3, 8)
    assert(math.abs(pct - expected) < 1e-9, s"api=$pct op=$expected")
    assert(pct > 0.0 && pct < 100.0)
  }

  test("registry is safe under concurrent requests (rest.go mutex discipline)") {
    val api = newApi()
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // 8 threads race to create the SAME collection: exactly one 201,
      // the rest the reference's 400 "Collection already exists"
      val races = Future.sequence((1 to 8).map(_ => Future {
        api.handle("POST", "/api/v1/collections",
          """{"name": "raced", "vector_size": 4,
            | "distance_function": "cosine"}""".stripMargin).status
      }))
      val statuses = Await.result(races, 120.seconds)
      assert(statuses.count(_ == 201) == 1, statuses)
      assert(statuses.count(_ == 400) == 7, statuses)
      // concurrent creates of distinct names + list/stats readers
      val mixed = Future.sequence((1 to 8).map(i => Future {
        val cr = api.handle("POST", "/api/v1/collections",
          s"""{"name": "c$i", "vector_size": 4,
             | "distance_function": "cosine"}""".stripMargin).status
        val ls = api.handle("GET", "/api/v1/collections").status
        (cr, ls)
      }))
      val pairs = Await.result(mixed, 120.seconds)
      assert(pairs.forall { case (cr, ls) => cr == 201 && ls == 200 }, pairs)
      val names = json(api.handle("GET", "/api/v1/collections"))
        .asInstanceOf[JArray].arr.flatMap(c => str(c \ "name")).toSet
      assert((1 to 8).forall(i => names.contains(s"c$i")))
    } finally pool.shutdown()
  }

  test("one collection's data path is safe under concurrent mixed insert/search (collection.go mutex discipline)") {
    val root = tempDir("api").toString
    val api = new Api(spark, root)
    mkCollection(api, "shared", dim = 4)
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // 8 threads, each inserting 3 distinct records into the SAME
      // collection interleaved with searches: the per-collection write
      // lock must serialize read-version-then-append (two unserialized
      // writers can mint the same version and corrupt latest-per-id),
      // while lock-free readers stay consistent throughout
      val work = Future.sequence((0 until 8).map(t => Future {
        (0 until 3).map { j =>
          val id = t * 10 + j
          val ins = api.handle("POST", "/api/v1/collections/shared/records",
            s"""[{"id": $id, "vector": [$t, $j, 1, 0],
               | "metadata": {"t": $t}}]""".stripMargin).status
          val srch = api.handle("POST", "/api/v1/collections/shared/search",
            """{"vector": [1, 0, 0, 0], "k": 5}""").status
          (ins, srch)
        }
      }))
      val statuses = Await.result(work, 300.seconds).flatten
      assert(statuses.forall { case (i, s) => i == 201 && s == 200 }, statuses)
      // every record landed exactly once, and every appended batch got
      // a DISTINCT version — the invariant the write lock exists for
      // (the log is the bare parquet dir before any compaction)
      import org.apache.spark.sql.functions.col
      val log = spark.read.parquet(s"$root/shared")
      assert(log.count() == 24)
      assert(log.select(col("version")).distinct().count() == 24,
        "two concurrent appends minted the same version")
      val ids = json(api.handle("GET", "/api/v1/collections/shared/ids"))
        .asInstanceOf[JArray].arr.flatMap(num).map(_.toLong).toSet
      val expected = (for (t <- 0 until 8; j <- 0 until 3) yield t * 10 + j)
        .map(_.toLong).toSet
      assert(ids == expected, s"missing=${expected -- ids} extra=${ids -- expected}")
    } finally pool.shutdown()
  }

  private def num(v: JValue): Option[Double] = v match {
    case JInt(i) => Some(i.toDouble); case JDouble(d) => Some(d)
    case JLong(l) => Some(l.toDouble); case JDecimal(d) => Some(d.toDouble)
    case _ => None
  }
  private def str(v: JValue): Option[String] =
    v match { case JString(s) => Some(s); case _ => None }
}
