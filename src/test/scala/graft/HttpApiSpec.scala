package graft

import graft.api.{HttpApi, QueryService}
import graft.sources.Catalog

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** End-to-end HTTP surface: a real listener on an ephemeral port, driven
  * with the JDK HttpClient — request decoding, envelope encoding, error
  * statuses (reference parity: app_server.py POST /query, GET /test,
  * GET /health). */
class HttpApiSpec extends SparkSpec {

  private lazy val catalog: Catalog = {
    val c = new Catalog(spark, "/nonexistent-root")
    c.register("testdb", "testcoll")(employees)
    c
  }
  private lazy val api = new HttpApi(new QueryService(spark, catalog))
  private lazy val port = api.start()
  private lazy val client = HttpClient.newHttpClient()

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /query: NL request end-to-end over the wire") {
    val r = post("/query", """{"input": "earning more than 60000"}""")
    assert(r.statusCode() == 200)
    val b = r.body()
    assert(b.contains(""""ok":true"""))
    assert(b.contains(""""total_matching":3"""))
    assert(b.contains(""""result_count":3"""))
    assert(b.contains(""""mongo_query":{"filter":{"salary":{"$gt":60000}}"""))
    assert(b.contains(""""name":"Ada""""))
  }

  test("POST /query/json: repair cascade path") {
    val r = post("/query/json",
      """{"input": "{'filter': {'department': {'$regex': 'ENG', '$options': 'i'}}}"}""")
    assert(r.statusCode() == 200)
    assert(r.body().contains(""""total_matching":1"""))
  }

  test("validation and body errors map to their status codes") {
    assert(post("/query", """{"input": ""}""").statusCode() == 422)
    assert(post("/query", """{"input": "x", "limit": 5000}""").statusCode() == 422)
    assert(post("/query", "not json").statusCode() == 422)
    val offSurface = post("/query/json", """{"input": "{\"filter\": {\"$or\": []}}"}""")
    assert(offSurface.statusCode() == 400)
    assert(offSurface.body().contains(""""error_type":"HTTP_ERROR""""))
  }

  test("a 1 MiB digit run is refused with 400 in under a second") {
    assert(get("/test").statusCode() == 200) // server up before the clock
    val wrapper = """{"input": "salary above "}"""
    val body = wrapper.replace("above ", "above " + "9" * ((1 << 20) - wrapper.length))
    assert(body.length == (1 << 20))
    val t0 = System.nanoTime()
    val r = post("/query", body)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(r.statusCode() == 400, r.body().take(200))
    assert(sec < 1.0, s"took $sec s")
  }

  test("a 1 MiB /query/json body of word characters is answered in under a second") {
    assert(get("/test").statusCode() == 200) // server up before the clock
    val wrapper = """{"input": ""}"""
    val body = wrapper.replace("\"\"", "\"" + "w" * ((1 << 20) - wrapper.length) + "\"")
    assert(body.length == (1 << 20))
    val t0 = System.nanoTime()
    val r = post("/query/json", body)
    val sec = (System.nanoTime() - t0) / 1e9
    // not JSON after any repair stage: degrades to the empty spec, find-all
    assert(r.statusCode() == 200, r.body().take(200))
    assert(r.body().contains(""""mongo_query":{"filter":{},"projection":{}}"""))
    assert(sec < 1.0, s"took $sec s")
  }

  test("GET /history accumulates requests; DELETE clears") {
    // isolate from the shared api: fresh service + listener
    val api2 = new HttpApi(new QueryService(spark, catalog))
    val p2 = api2.start()
    def get2(path: String) = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p2$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    try {
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p2/query"))
          .POST(HttpRequest.BodyPublishers.ofString("""{"input": "hello"}"""))
          .build(), HttpResponse.BodyHandlers.ofString()): Unit
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p2/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"input": "x", "collection": "nope"}"""))
          .build(), HttpResponse.BodyHandlers.ofString()): Unit
      val h = get2("/history")
      assert(h.statusCode() == 200)
      assert(h.body().contains(""""total_queries":2"""))
      assert(h.body().contains(""""success_rate":50.0"""))
      assert(h.body().contains(""""query":"hello""""))
      val cleared = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p2/history"))
          .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      assert(cleared.statusCode() == 200)
      assert(get2("/history").body().contains(""""total_queries":0"""))
    } finally api2.stop()
  }

  test("GET /test and /health; wrong methods are 405; unknown path 404") {
    val t = get("/test")
    assert(t.statusCode() == 200)
    assert(t.body().contains(""""status":"ok""""))
    assert(t.body().contains(""""generated_mongo":{"filter":{}"""))
    val h = get("/health")
    assert(h.statusCode() == 200)
    assert(h.body().contains(""""status":"healthy""""))
    assert(get("/query").statusCode() == 405)
    assert(post("/test", "{}").statusCode() == 405)
    assert(post("/query/other", "{}").statusCode() == 404)
  }
}
