package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.sql.Timestamp

import graft.io.CommitLog
import graft.model.{TaskRow, Tool}
import graft.registry.Registry
import graft.serve.{SseTail, ViewServer}
import graft.task.TaskStore

/** The REST view shim: the reference's read-side API routes
  * (app.py /api/tasks, /api/tools) served from live view DataFrames,
  * re-evaluated per request.
  */
class ViewServerSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000L)

  private def get(url: String): (Int, String) = {
    val resp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("serves task and tool views as JSON and reflects store updates") {
    import spark.implicits._
    var store = TaskStore.empty(spark)
      .upsertTask(TaskRow(1, "analysis", "", "check the spark logs", "", "new", ts(1)))
    val tools = Seq(
      Tool("add", "adds", """{"type":"object","properties":{}}""", "s1", 0),
      Tool("add", "adds v2", """{"type":"object","properties":{}}""", "s2", 1)).toDS()

    val server = new ViewServer(Map(
      "/api/tasks" -> (() => store.tasksView),
      "/api/tools" -> (() => Registry.unionLastWins(tools).toDF())))
    val port = server.start()
    try {
      val (s1, tasksJson) = get(s"http://127.0.0.1:$port/api/tasks")
      assert(s1 == 200 && tasksJson.contains(""""taskId":1"""))
      // title was derived from the target (F9)
      assert(tasksJson.contains(""""title":"""))

      val (s2, toolsJson) = get(s"http://127.0.0.1:$port/api/tools")
      assert(s2 == 200)
      // last-wins union: exactly one `add`, from server s2
      assert(toolsJson.contains(""""server":"s2""""))
      assert(!toolsJson.contains(""""server":"s1""""))

      // the view is a thunk — a store update is visible on next request
      store = store.upsertTask(TaskRow(2, "analysis", "t2", "x", "", "new", ts(2)))
      val (_, tasksJson2) = get(s"http://127.0.0.1:$port/api/tasks")
      assert(tasksJson2.contains(""""taskId":2"""))
    } finally server.close()
  }

  test("a failing view returns a 500 with an error body") {
    val server = new ViewServer(Map(
      "/api/boom" -> (() => spark.sql("SELECT * FROM missing_table_xyz"))))
    val port = server.start()
    try {
      val (status, body) = get(s"http://127.0.0.1:$port/api/boom")
      assert(status == 500 && body.contains("error"))
    } finally server.close()
  }

  /** A server with one SSE tail over a one-record topic. */
  private def withTail(f: Int => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_sse_bad").toString
    CommitLog.append(dir, 0, Seq((1L, "s", "v")))
    val server = new ViewServer(routes = Map.empty, sseRoutes = Map("/tail" -> SseTail(dir)))
    try f(server.start()) finally server.close()
  }

  private def sse(url: String, lastEventId: String): (Int, String) = {
    val resp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(url)).header("Last-Event-ID", lastEventId).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("SSE: a non-integer n is a 400 with a JSON error") {
    withTail { port =>
      val (status, body) = get(s"http://127.0.0.1:$port/tail?replay=all&n=two")
      assert(status == 400)
      assert(body.startsWith("""{"error": """) && body.contains("n must be"))
    }
  }

  test("SSE: a Last-Event-ID with a non-integer partition key is a 400 with a JSON error") {
    withTail { port =>
      val (status, body) = sse(s"http://127.0.0.1:$port/tail?n=1", """{"p0": 1}""")
      assert(status == 400)
      assert(body.startsWith("""{"error": """) && body.contains("Last-Event-ID"))
      // a well-formed id still resumes
      val (okStatus, okBody) = sse(s"http://127.0.0.1:$port/tail?n=1", """{"0": 0}""")
      assert(okStatus == 200 && okBody.contains(""""value": "v""""))
    }
  }

  test("a POST reply leaves when its handler finishes: no delayed-ACK stall") {
    val server = new ViewServer(routes = Map.empty, postRoutes = Map("/echo" -> (b => b)))
    val port = server.start()
    // one keep-alive HTTP/1.1 connection: with Nagle on, every reply's
    // body waits ~40 ms for the client's delayed ACK of its headers
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    try {
      val rtts = (1 to 30).map { i =>
        val t0 = System.nanoTime()
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/echo"))
            .POST(HttpRequest.BodyPublishers.ofString(s"""{"i": $i}""")).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200 && resp.body() == s"""{"i": $i}""")
        (System.nanoTime() - t0) / 1e6
      }.sorted
      val median = (rtts(14) + rtts(15)) / 2
      assert(median < 15.0, s"median round trip $median ms")
      assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
    } finally server.close()
  }
}
