package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.zip.GZIPInputStream

import graft.serving.{Api, ApiResponse, HttpBinding, Serve}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The HTTP transport end-to-end: the rest_test.go request shapes
  * driven through a REAL loopback server (`main.go:36-63`'s
  * `ListenAndServe` twin) with `java.net.http.HttpClient` — method,
  * path, query string, status codes, JSON bodies and the gzip
  * response encoding (rest.go:25-37's middleware) all cross actual
  * sockets. [[ApiSpec]] owns the per-route semantics; this spec owns
  * the byte-moving layer. */
class HttpBindingSpec extends SparkSpec {

  private def withServer(f: (HttpClient, Int) => Unit): Unit = {
    val binding = new HttpBinding(
      new Api(spark,
        tempDir("graft-http").toString),
      port = 0)
    try f(HttpClient.newHttpClient(), binding.boundPort)
    finally binding.stop()
  }

  private def req(port: Int, method: String, path: String,
                  body: String = "",
                  headers: Seq[(String, String)] = Nil): HttpRequest = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .method(method, if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
      else HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    b.build()
  }

  private def send(c: HttpClient, r: HttpRequest): HttpResponse[String] =
    c.send(r, HttpResponse.BodyHandlers.ofString())

  private def j(s: String): JValue = JsonMethods.parse(s)

  test("full lifecycle over real HTTP: create, insert, search, stats, " +
      "compact, delete") {
    withServer { (c, port) =>
      // create (rest_test.go:250 shape)
      val create = send(c, req(port, "POST", "/api/v1/collections",
        """{"name": "httpc", "vector_size": 5, "quantization": 64,
          | "distance_function": "cosine"}""".stripMargin))
      assert(create.statusCode() == 201, create.body())
      assert((j(create.body()) \ "collection_name") == JString("httpc"))
      assert(create.headers().firstValue("Content-Type").orElse("")
        .startsWith("application/json"))
      // insert two records
      val ins = send(c, req(port, "POST", "/api/v1/collections/httpc/records",
        """[{"id": 1, "vector": [0.1,0.2,0.3,0.4,0.5], "metadata": {"k":"a"}},
          | {"id": 2, "vector": [0.5,0.4,0.3,0.2,0.1], "metadata": {"k":"b"}}]"""
          .stripMargin))
      assert(ins.statusCode() == 201, ins.body())
      // POST search
      val post = send(c, req(port, "POST", "/api/v1/collections/httpc/search",
        """{"vector": [0.1,0.2,0.3,0.4,0.5], "k": 1}"""))
      assert(post.statusCode() == 200, post.body())
      val hit = (j(post.body()) \ "results").asInstanceOf[JArray].arr.head
      assert((hit \ "id") == JInt(1) || (hit \ "id") == JLong(1L))
      // GET search with a query string (rest.go:407-414 params):
      // limit/offset paginate the id scan, URL-decoded on the binding
      val get = send(c, req(port, "GET",
        "/api/v1/collections/httpc/search?limit=2&offset=1"))
      assert(get.statusCode() == 200, get.body())
      assert((j(get.body()) \ "results").asInstanceOf[JArray].arr.size == 1)
      // stats
      val stats = send(c, req(port, "GET", "/api/v1/collections/httpc"))
      assert(stats.statusCode() == 200)
      assert((j(stats.body()) \ "document_count") == JInt(2) ||
        (j(stats.body()) \ "document_count") == JLong(2L))
      // compact with retention
      val comp = send(c, req(port, "POST",
        "/api/v1/collections/httpc/compact", """{"retain_generations": 1}"""))
      assert(comp.statusCode() == 200, comp.body())
      // malformed compact body is a 400 over the wire too
      assert(send(c, req(port, "POST", "/api/v1/collections/httpc/compact",
        """{"retain_generations": }""")).statusCode() == 400)
      // delete; absent delete stays 200 (rest.go:192-199)
      assert(send(c, req(port, "DELETE",
        "/api/v1/collections/httpc")).statusCode() == 200)
      assert(send(c, req(port, "DELETE",
        "/api/v1/collections/httpc")).statusCode() == 200)
      // unroutable path is the uniform 400
      val bad = send(c, req(port, "GET", "/nope"))
      assert(bad.statusCode() == 400)
      assert((j(bad.body()) \ "error") == JString("Invalid path"))
    }
  }

  test("gzip response encoding when the client advertises it " +
      "(rest.go:25-37 middleware twin)") {
    withServer { (c, port) =>
      send(c, req(port, "POST", "/api/v1/collections",
        """{"name": "gz", "vector_size": 5, "quantization": 64,
          | "distance_function": "cosine"}""".stripMargin))
      val raw = c.send(
        req(port, "GET", "/api/v1/collections",
          headers = Seq("Accept-Encoding" -> "gzip")),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(raw.statusCode() == 200)
      assert(raw.headers().firstValue("Content-Encoding").orElse("") == "gzip")
      val unzipped = new String(
        new GZIPInputStream(
          new java.io.ByteArrayInputStream(raw.body())).readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val arr = j(unzipped).asInstanceOf[JArray].arr
      assert(arr.exists(s => (s \ "name") == JString("gz")), unzipped)
      // without the header the body is plain JSON, byte-identical
      // after decompression
      val plain = send(c, req(port, "GET", "/api/v1/collections"))
      assert(plain.headers().firstValue("Content-Encoding").isEmpty)
      assert(plain.body() == unzipped)
      // gzip;q=0 is an explicit REFUSAL (ADVICE r16): plain JSON back
      val refused = send(c, req(port, "GET", "/api/v1/collections",
        headers = Seq("Accept-Encoding" -> "gzip;q=0")))
      assert(refused.headers().firstValue("Content-Encoding").isEmpty)
      assert(refused.body() == unzipped)
    }
  }

  test("Accept-Encoding parsing honors qvalues (ADVICE r16)") {
    assert(HttpBinding.acceptsGzip("gzip"))
    assert(HttpBinding.acceptsGzip("GZIP"))
    assert(HttpBinding.acceptsGzip("deflate, gzip;q=0.5"))
    assert(HttpBinding.acceptsGzip("gzip;q=1.0, identity"))
    assert(!HttpBinding.acceptsGzip("gzip;q=0"))
    assert(!HttpBinding.acceptsGzip("gzip;q=0.0, deflate"))
    assert(!HttpBinding.acceptsGzip("deflate"))
    assert(!HttpBinding.acceptsGzip(null))
    // malformed qvalue falls back to accepting, and an unrelated
    // parameter never refuses
    assert(HttpBinding.acceptsGzip("gzip;q=abc"))
    assert(HttpBinding.acceptsGzip("gzip;level=9"))
    // '*' wildcard accepts gzip unless refused (ADVICE r17)
    assert(HttpBinding.acceptsGzip("*"))
    assert(HttpBinding.acceptsGzip("identity;q=0.5, *;q=0.1"))
    assert(!HttpBinding.acceptsGzip("*;q=0"))
    // an explicit gzip token outranks the wildcard both ways
    assert(!HttpBinding.acceptsGzip("*, gzip;q=0"))
    assert(HttpBinding.acceptsGzip("*;q=0, gzip"))
    // self-contradictory duplicates: any accepting gzip token wins
    // (adjudicated fine in ADVICE r17 — requires a broken client)
    assert(HttpBinding.acceptsGzip("gzip;q=0, gzip"))
  }

  test("oversized request bodies 413 instead of OOMing (VERDICT r16 #4)") {
    val binding = new HttpBinding(
      new Api(spark,
        tempDir("graft-cap").toString),
      port = 0, maxBodyBytes = 1024)
    try {
      val c = HttpClient.newHttpClient()
      val port = binding.boundPort
      val big = "x" * 4096
      // Content-Length declared over the cap: refused before reading
      val fixed = send(c, req(port, "POST", "/api/v1/collections", big))
      assert(fixed.statusCode() == 413, fixed.body())
      assert((j(fixed.body()) \ "error") ==
        JString("request body too large"))
      // chunked (no declared length): the bounded READ refuses too
      val chunked = c.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/api/v1/collections"))
          .method("POST", HttpRequest.BodyPublishers.ofInputStream(() =>
            new java.io.ByteArrayInputStream(
              big.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(chunked.statusCode() == 413, chunked.body())
      // an in-cap request still works end-to-end on the same server
      val ok = send(c, req(port, "POST", "/api/v1/collections",
        """{"name": "cap", "vector_size": 5, "quantization": 64,
          | "distance_function": "cosine"}""".stripMargin))
      assert(ok.statusCode() == 201, ok.body())
    } finally binding.stop()
  }

  test("413 refuses a slow oversized upload without draining it " +
      "(VERDICT r17 #7: pin the documented no-drain behavior)") {
    val binding = new HttpBinding(
      new Api(spark,
        tempDir("graft-nodrain").toString),
      port = 0, maxBodyBytes = 1024)
    try {
      val port = binding.boundPort
      val declared = 64L * 1024 * 1024 // 64 MiB the server must NOT buffer
      val sock = new java.net.Socket("127.0.0.1", port)
      sock.setSoTimeout(10000)
      val out = sock.getOutputStream
      val in = sock.getInputStream
      out.write((s"POST /api/v1/collections HTTP/1.1\r\nHost: t\r\n" +
        s"Content-Length: $declared\r\n\r\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.flush()
      // the refusal arrives off the DECLARED length, before any body
      val head = new Array[Byte](4096)
      val n = in.read(head)
      assert(n > 0, "no response before the body was sent")
      val resp = new String(head, 0, n,
        java.nio.charset.StandardCharsets.UTF_8)
      assert(resp.startsWith("HTTP/1.1 413"), resp.takeWhile(_ != '\r'))
      assert(resp.toLowerCase.contains("connection: close"), resp.take(400))
      // now stream the upload anyway: the server must kill the socket
      // (an IOException here is the pass), never sit reading 64 MiB.
      // The push runs on its own thread so a server that neither
      // drains NOR closes (blocked write, the regression this pins)
      // fails the join timeout instead of hanging the suite.
      @volatile var written = 0L
      @volatile var refused = false
      val chunk = new Array[Byte](8192)
      val pusher = new Thread(() => {
        try {
          while (written < declared) {
            out.write(chunk); out.flush(); written += chunk.length
          }
        } catch { case _: Throwable => refused = true }
      })
      pusher.start()
      pusher.join(15000)
      val blocked = pusher.isAlive
      if (blocked) { sock.close(); pusher.join(5000) }
      assert(!blocked,
        s"server neither drained nor closed; writer stuck at $written bytes")
      assert(refused, s"server accepted the full $declared-byte body")
      assert(written < declared / 4,
        s"server buffered $written bytes before closing — that's draining")
      sock.close()
      // and the server stays healthy for the next client
      val ok = send(HttpClient.newHttpClient(),
        req(port, "POST", "/api/v1/collections",
          """{"name": "nd", "vector_size": 5, "quantization": 64,
            | "distance_function": "cosine"}""".stripMargin))
      assert(ok.statusCode() == 201, ok.body())
    } finally binding.stop()
  }

  test("a throwing handler answers the uniform 500 JSON, not a " +
      "dropped connection (ADVICE r16)") {
    val binding = new HttpBinding(
      (_: String, _: String, _: String, _: Map[String, String]) =>
        throw new IllegalStateException("boom"),
      port = 0, maxBodyBytes = 1024)
    try {
      val c = HttpClient.newHttpClient()
      val resp = send(c, req(binding.boundPort, "GET", "/api/v1/collections"))
      assert(resp.statusCode() == 500)
      assert((j(resp.body()) \ "error") ==
        JString("internal error: IllegalStateException"))
    } finally binding.stop()
  }

  test("an empty handler body is sent with length -1, not chunked-0 " +
      "(ADVICE r16)") {
    val binding = new HttpBinding(
      (_: String, _: String, _: String, _: Map[String, String]) =>
        ApiResponse(204, ""),
      port = 0, maxBodyBytes = 1024)
    try {
      val c = HttpClient.newHttpClient()
      val resp = send(c, req(binding.boundPort, "GET", "/anything"))
      assert(resp.statusCode() == 204)
      assert(resp.body().isEmpty)
      // no Transfer-Encoding: the -1 contract closes the body cleanly
      assert(resp.headers().firstValue("Transfer-Encoding").isEmpty)
    } finally binding.stop()
  }

  test("Serve.boot is the runnable entry end-to-end (VERDICT r16 #7)") {
    val dir = tempDir("graft-serve")
      .resolve("data").toString // boot must create the missing folder
    val binding = Serve.boot(spark, dir, 0)
    try {
      val c = HttpClient.newHttpClient()
      val port = binding.boundPort
      assert(send(c, req(port, "POST", "/api/v1/collections",
        """{"name": "sv", "vector_size": 4, "quantization": 64,
          | "distance_function": "cosine"}""".stripMargin))
        .statusCode() == 201)
      assert(send(c, req(port, "POST", "/api/v1/collections/sv/records",
        """[{"id": 7, "vector": [1,0,0,0], "metadata": {}}]"""))
        .statusCode() == 201)
      val search = send(c, req(port, "POST",
        "/api/v1/collections/sv/search",
        """{"vector": [1,0,0,0], "k": 1}"""))
      assert(search.statusCode() == 200, search.body())
      val hit = (j(search.body()) \ "results").asInstanceOf[JArray].arr.head
      assert((hit \ "id") == JInt(7) || (hit \ "id") == JLong(7L))
      assert(new java.io.File(dir).isDirectory)
    } finally binding.stop()
  }
}
